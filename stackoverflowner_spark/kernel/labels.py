"""Entity-type system: merge map + retained-tag selection.

Data transcribed from ``/root/reference/code/DataReader/loader_so.py:5-17``
(merge map, duplicated at ``code/Attentive_BiLSTM/utils_so.py:335-347``) and
``loader_so.py:84-86`` (frequency-sorted list with keep-top-(n-6) + Algorithm
re-add).
"""

from __future__ import annotations

from typing import Dict, List

MERGE_MAP: Dict[str, str] = {
    "Library_Function": "Function",
    "Function_Name": "Function",
    "Class_Name": "Class",
    "Library_Class": "Class",
    "Library_Variable": "Variable",
    "Variable_Name": "Variable",
    "Website": "Website",
    "Organization": "Website",
}

# loader_so.py:84 — order matters; [0:-6] + Algorithm is the retained set.
SORTED_ENTITY_LIST: List[str] = [
    "Class", "Class_Name", "Library_Class", "Application", "Library_Variable",
    "Variable_Name", "Variable", "User_Interface_Element", "Code_Block",
    "Library_Function", "Function_Name", "Function", "Language", "Library",
    "Data_Structure", "Data_Type", "File_Type", "File_Name", "Version",
    "HTML_XML_Tag", "Device", "Operating_System", "User_Name", "Website",
    "Output_Block", "Error_Name", "Algorithm", "Organization", "Keyboard_IP",
    "Licence", "Organization",
]


def selected_tags() -> List[str]:
    sel = SORTED_ENTITY_LIST[0:-6]
    if "Algorithm" not in sel:
        sel.append("Algorithm")
    return sel


def merge_label(label: str) -> str:
    """Apply the merge map to a BIO label (e.g. ``B-Function_Name`` ->
    ``B-Function``); ``O`` passes through."""
    if label == "O" or "-" not in label:
        return label
    prefix, name = label.split("-", 1)
    return prefix + "-" + MERGE_MAP.get(name, name)
