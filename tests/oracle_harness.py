"""Driver-mimicking harness: run queries() vs oracle_sql() and diff."""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_entry():
    """A fresh module object of this checkout's ``__spark_entry__.py``."""
    spec = importlib.util.spec_from_file_location(
        "entrymod", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_con(sf_dir: str):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf_dir}/{t}.parquet')")
    return con


def normalize(df: pd.DataFrame, strict: bool = False) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            # strict mode keeps raw doubles (the driver hashes raw values);
            # default mode rounds to tame presentation-level noise
            df[c] = s.astype("float64") if strict else s.astype("float64").round(6)
        elif pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[us]")
        else:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def compare(name: str, spark_df, oracle_df, strict: bool = False) -> list[str]:
    """Diff two result frames.

    strict=True reproduces the DRIVER's actual criterion — a bitwise value
    hash after sorting — so float columns must be exactly equal, not merely
    within atol. The r4 tpch_q7ish/q9ish red hashes passed the default
    atol=1e-6 comparator while failing the driver; every oracled query whose
    output carries floats should be gated in strict mode.
    """
    problems = []
    a = normalize(spark_df, strict=strict)
    b = normalize(oracle_df, strict=strict)
    if list(a.columns) != list(b.columns):
        problems.append(f"{name}: columns differ {list(a.columns)} vs {list(b.columns)}")
        return problems
    if len(a) != len(b):
        problems.append(f"{name}: row count {len(a)} vs {len(b)}")
        return problems
    for c in a.columns:
        if pd.api.types.is_float_dtype(a[c]):
            av = a[c].fillna(-9e99).values
            bv = b[c].fillna(-9e99).values
            if strict:
                ok = (av == bv).all()
            else:
                ok = np.allclose(av, bv, atol=1e-6)
        else:
            ok = (a[c].fillna("<null>").values == b[c].fillna("<null>").values).all()
        if not ok:
            bad = (a[c].fillna("<null>").values != b[c].fillna("<null>").values)
            idx = int(np.argmax(bad))
            problems.append(
                f"{name}: column {c} differs, e.g. row {idx}: "
                f"{a[c].iloc[idx]!r} vs {b[c].iloc[idx]!r}")
    return problems


def run_all(spark, sf_dir: str, only: list[str] | None = None,
            strict: bool = False) -> dict:
    mod = load_entry()

    con = duck_con(sf_dir)
    oracles = mod.oracle_sql()
    results = {}
    for name, fn in mod.queries().items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            results[name] = [f"{name}: SPARK ERROR {type(e).__name__}: {e}"]
            continue
        if name not in oracles:
            results[name] = [] if len(sdf) >= 0 else [f"{name}: no rows"]
            results[name] = ([] if len(sdf) > 0 else [f"{name}: rows-only check EMPTY"])
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:
            results[name] = [f"{name}: ORACLE ERROR {type(e).__name__}: {e}"]
            continue
        results[name] = compare(name, sdf, odf, strict=strict)
    return results
