"""Workload definitions and their seed-derived inputs.

Every input page comes from ``sources.pages.synth_page(page_id, seed)``
with the run's ``--seed``; nothing else feeds the program. Page content is
seeded by ``(page_id + 1) * 1_000_003 + seed``, so pages of one seed with
distinct ids never coincide, and the warm-up seed ``seed + WARMUP_SEED_SHIFT``
(an offset that is not a multiple of 1_000_003) shares no page with any
input of the run.

Inputs are written once per (workload, scale, seed) as parquet under the
work directory, outside every timed region, and reused by later runs with
the same key. File layout: each op's input is ``files_per_op`` parquet files
of one row group each, the rows split evenly in id order. Scan-split policy:
one scan task per file (``openCostInBytes = maxPartitionBytes`` = the
largest file of the op, set by the runner), so an op runs
``files_per_op`` kernel tasks, two per core at local[4], and one slow task
cannot stand for the whole op.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import random
import shutil
from dataclasses import dataclass
from typing import Dict, List

WARMUP_SEED_SHIFT = 500_000
# page ids of op k start at k * OP_ID_STRIDE; every op holds fewer pages
OP_ID_STRIDE = 1_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    rows_per_op: int      # input rows of one op
    files_per_op: int
    op_est_s: float       # expected op time on 4 cores; sets the op count
    pool: int = 0         # distinct pages a recrawl draws from (0: none)
    warmup_rows: int = 256


WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    Workload(
        "fused_fresh",
        "KGPipeline.build_fused over pages never seen before, so the "
        "sentence and tagger memos only hit intrinsic repeats and the "
        "tokenize+BIO and tag kernels dominate",
        rows_per_op=3000, files_per_op=8, op_est_s=5.0),
    Workload(
        "fused_recrawl",
        "build_fused over recrawl rows drawn with head skew from a small "
        "pool of pages, so the memos hit and extract, sentencize, the "
        "Arrow boundary, link and the triple dedup dominate",
        rows_per_op=3000, files_per_op=8, op_est_s=3.5, pool=400),
)}

# tiny scale: the self-test's size, one small op per workload
TINY = {"fused_fresh": (96, 4), "fused_recrawl": (96, 4)}


def sized(w: Workload, scale: str) -> Workload:
    if scale == "full":
        return w
    rows, files = TINY[w.name]
    return Workload(w.name, w.why, rows, files, op_est_s=1e9,
                    pool=min(w.pool, 24), warmup_rows=16)


def n_ops(w: Workload, seconds: float) -> int:
    """Ops per run: enough to fill ``seconds`` at the expected op time.
    Fixed by the arguments, so a run's inputs (and pinned digests) do not
    depend on how fast the machine is."""
    return max(1, round(seconds / w.op_est_s))


def _fresh_pages(seed: int, first_id: int, n: int) -> List[dict]:
    from stackoverflowner_spark.sources.pages import synth_page
    return [synth_page(first_id + i, seed) for i in range(n)]


def _recrawl_rows(pool: List[dict], seed: int, k: int, n: int) -> List[dict]:
    """Recrawl of ``pool`` for op ``k``: each row a new capture (same url
    and html, new ``warc_ts``) of pool page ``int(len(pool) * r**2)``, so
    the first 1% of the pool draws 10% of the rows. A steeper skew would
    let one head page's length set most of an op's work, and with it the
    spread between seeds."""
    rng = random.Random(f"recrawl:{seed}:{k}")
    base = _dt.datetime(2025, 1, 1) + _dt.timedelta(days=k)
    rows = []
    for j in range(n):
        page = pool[min(int(len(pool) * rng.random() ** 2), len(pool) - 1)]
        rows.append({**page, "warc_ts": base + _dt.timedelta(seconds=j)})
    return rows


def recrawl_pool(seed: int, size: int) -> List[dict]:
    return _fresh_pages(seed, 0, size)


def op_rows(w: Workload, seed: int, k: int) -> List[dict]:
    if w.pool:
        return _recrawl_rows(recrawl_pool(seed, w.pool), seed, k,
                             w.rows_per_op)
    return _fresh_pages(seed, k * OP_ID_STRIDE, w.rows_per_op)


def warmup_rows(w: Workload, seed: int) -> List[dict]:
    wseed = seed + WARMUP_SEED_SHIFT
    if w.pool:
        return _recrawl_rows(recrawl_pool(wseed, w.pool), wseed, 0,
                             w.warmup_rows)
    return _fresh_pages(wseed, 0, w.warmup_rows)


def generator_version() -> str:
    """Hash of the sources the inputs are generated from, so a cached
    input set is never reused after the generator changes."""
    import stackoverflowner_spark.sources.pages as pages
    h = hashlib.sha256()
    for path in (pages.__file__, __file__):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def write_parquet(rows: List[dict], path: str, files: int) -> None:
    """Write ``rows`` as ``files`` single-row-group parquet files (atomic:
    a ``_DONE`` marker is written last)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("text", pa.string()),
                        ("lang", pa.string())])
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pylist(rows, schema=schema)
    per = -(-len(rows) // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(path, f"part-{i:05d}.parquet"),
                       row_group_size=per)
    open(os.path.join(path, "_DONE"), "w").close()


def materialize(w: Workload, scale: str, seed: int, count: int,
                root: str) -> Dict[str, object]:
    """Write (or reuse) the warm-up input and the inputs of ops
    ``0 .. count-1``. Returns their directories."""
    base = os.path.join(root, "inputs",
                        f"{w.name}-{scale}-s{seed}-g{generator_version()}")
    dirs = {"warmup": os.path.join(base, "warmup"),
            "ops": [os.path.join(base, f"op{k}") for k in range(count)]}
    todo = [("warmup", dirs["warmup"])] + list(enumerate(dirs["ops"]))
    for k, path in todo:
        if os.path.exists(os.path.join(path, "_DONE")):
            continue
        if k == "warmup":
            write_parquet(warmup_rows(w, seed), path,
                          min(w.files_per_op, 4))
        else:
            write_parquet(op_rows(w, seed, k), path, w.files_per_op)
    return dirs


def largest_file(path: str) -> int:
    return max(os.path.getsize(os.path.join(path, f))
               for f in os.listdir(path) if f.endswith(".parquet"))
