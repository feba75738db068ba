#!/usr/bin/env python3
"""KG-construction benchmark: one workload per run.

    python3 perfbench/run.py --workload fused_fresh --seed 1 --seconds 20 --trace 0

A run materializes its inputs from ``--seed`` (workloads.py), computes the
expected triple digest of every op (a pinned digest from pins.json, else the
Spark-free reference in oracle.py), starts one Spark session at
``local[<cores of this process>]``, sets up (session start, default_tagger()
load, one untimed op on the warm-up seed), then times the workload's ops.
Each op's distinct ``(subj, pred, obj, url)`` set is checked against its
expected digest; a mismatch or an exception fails the op. Ops are closed
loop: one client, one job at a time.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
diagnostics (host noise, op count, digests). ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` turns on Spark's event log, adds the
layer probes and the kernel replay, reports the per-layer metrics and the
tracing overhead (traced minus untraced end-to-end metrics of the same
workload and seed), and writes the run's spans as JSON. Every file the run
writes is under ``.perfbench_work/`` at the repository root. Exits 0 when
the result is correct, 1 when an op or a check failed (after printing the
result), 2 when the repository's package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from typing import Dict, List

from layers import TRIPLE_COLS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK = os.path.join(REPO, ".perfbench_work")
PACKAGE = os.path.join(REPO, "stackoverflowner_spark")

END_TO_END = {"pages_per_s": "1/s", "op_p50_ms": "ms", "op_tail_ms": "ms",
              "peak_rss_mb": "MB", "setup_s": "s"}
# the session's default is 8g, more than a shared 4-core box should lend
DRIVER_MEM = "3g"
TAIL_BEYOND = 10
# a traced run without a cached untraced result makes one first; both
# must end within the 180 s a run may take
UNTRACED_TIMEOUT_S = 80


def cores() -> int:
    return len(os.sched_getaffinity(0))


def configure_env(traced: bool, run_dir: str) -> None:
    """Process environment the engine inherits: the repository on every
    Python worker's import path, and every scratch file under WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # UsePerfData off: the JVM would write /tmp/hsperfdata_<user>/<pid>
    conf = {"spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, REPO)


def code_version() -> str:
    """Hash of the package's sources and tagger artifact and of the input
    generator: cached reference digests and results are reused only for
    identical code and inputs."""
    import hashlib

    import workloads
    h = hashlib.sha256(workloads.generator_version().encode())
    for d, dirs, files in sorted(os.walk(PACKAGE)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py") or f.endswith(".pkl.gz"):
                h.update(f.encode())
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def tail(samples: List[float]) -> float:
    """Highest order statistic with TAIL_BEYOND samples beyond it; the
    maximum when there are too few samples for that."""
    xs = sorted(samples)
    return xs[-TAIL_BEYOND - 1] if len(xs) > TAIL_BEYOND else xs[-1]


# --------------------------------------------------------------- expectation

def expected_digests(w, scale: str, seed: int, ops: int, tracer) -> List[str]:
    """Pinned digest per op where pins.json has one for the current input
    generator, else the reference digest (cached per code version)."""
    import oracle
    import workloads

    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    if pins.get("generator") != workloads.generator_version():
        pins = {}
    keys = [f"{w.name}:{scale}:{seed}:{k}" for k in range(ops)]
    cache = os.path.join(WORK, "oracle", f"{code_version()}.json")
    cached = {}
    if os.path.exists(cache):
        with open(cache) as f:
            cached = json.load(f)
    out = [pins.get("digests", {}).get(k) or cached.get(k) for k in keys]
    if None not in out:
        return out
    with tracer.span("oracle"):
        ref = oracle.reference_digests(w, [seed], ops, cores(), REPO)
    for k in range(ops):
        if out[k] is None:
            out[k] = cached[keys[k]] = ref[(seed, k)]
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump(cached, f)
    os.replace(cache + ".tmp", cache)
    return out


# --------------------------------------------------------------------- bench

class Bench:
    """One Spark session driving one workload through the engine's public
    entry points."""

    def __init__(self, w, run_dir: str, tracer):
        self.w, self.run_dir, self.tracer = w, run_dir, tracer
        self.spark = self.pipe = self.tagger = None
        self.session_split: Dict[str, str] = {}

    def read_pages(self, path: str):
        from stackoverflowner_spark.sources.pages import PAGES_SCHEMA
        return self.spark.read.schema(PAGES_SCHEMA).parquet(path)

    def setup(self, warmup_dir: str, split_bytes: int) -> Dict[str, float]:
        from stackoverflowner_spark.operators.tagger import default_tagger
        from stackoverflowner_spark.plans.pipeline import KGPipeline
        from stackoverflowner_spark.session import get_spark

        t = self.tracer
        n = cores()
        with t.span("setup"):
            with t.span("setup.session_start"):
                self.spark = get_spark(app_name=f"perfbench-{self.w.name}",
                                       master=f"local[{n}]",
                                       shuffle_partitions=n)
                self.spark.sparkContext.setLogLevel("ERROR")
                self.split_value = str(split_bytes)
                self.split_conf(self.split_value)
            with t.span("setup.tagger_load"):
                self.tagger = default_tagger()
            with t.span("setup.warmup"):
                self.pipe = KGPipeline(self.spark,
                                       os.path.join(self.run_dir, "kg"),
                                       tagger=self.tagger)
                self.spark.sparkContext.setJobDescription("pb:warmup")
                self.op(warmup_dir)
        return {k: t.seconds(f"setup.{k}")
                for k in ("session_start", "tagger_load", "warmup")}

    def split_conf(self, value=None) -> None:
        """One scan task per input file (workloads.py) when ``value`` is the
        largest input file's size; the session's own split policy when
        None."""
        for key in ("spark.sql.files.openCostInBytes",
                    "spark.sql.files.maxPartitionBytes"):
            if value is None:
                self.spark.conf.set(key, self.session_split[key])
            else:
                self.session_split.setdefault(key, self.spark.conf.get(key))
                self.spark.conf.set(key, value)

    def op(self, pages_dir: str) -> dict:
        """One timed op: the fused flagship collected to the driver. Returns
        its wall time and distinct triples."""
        t0 = time.perf_counter()
        pdf = (self.pipe.build_fused(self.read_pages(pages_dir))
               .select(*TRIPLE_COLS).toPandas())
        return {"s": time.perf_counter() - t0,
                "triples": set(pdf.itertuples(index=False, name=None))}

    def stream(self, pages_dir: str) -> dict:
        """Drain ``pages_dir`` with start_triples_stream (availableNow,
        doc_consistency on). Returns the micro-batches' progress events and
        the distinct triples written."""
        from stackoverflowner_spark.streaming.ingest import start_triples_stream

        out = os.path.join(self.run_dir, "stream", "out")
        ckpt = os.path.join(self.run_dir, "stream", "ckpt")
        q = start_triples_stream(self.spark, pages_dir, out, ckpt,
                                 tagger=self.tagger, doc_consistency=True)
        q.awaitTermination()
        self.spark.sparkContext.setJobDescription("pb:check")
        pdf = self.spark.read.parquet(out).select(*TRIPLE_COLS).toPandas()
        return {"progress": [p for p in q.recentProgress
                             if p["numInputRows"] > 0],
                "triples": set(pdf.itertuples(index=False, name=None))}

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()


def measure(bench: Bench, dirs: dict, expected: List[str],
            split_bytes: int, peak) -> dict:
    """Setup plus the timed ops. Returns end-to-end metrics, the op
    accounting and what the trace needs."""
    import oracle

    w, t = bench.w, bench.tracer
    setup = bench.setup(dirs["warmup"], split_bytes)
    ops, failed, checks = [], 0, []
    for k, d in enumerate(dirs["ops"]):
        bench.spark.sparkContext.setJobDescription(f"pb:op:{k}")
        with t.span(f"op.{k}"):
            try:
                r = bench.op(d)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                continue
        got = oracle.digest(r["triples"])
        checks.append({"op": k, "digest": got, "expected": expected[k]})
        if got != expected[k]:
            print(f"digest mismatch on op {k}: {got} != {expected[k]}",
                  file=sys.stderr)
            failed += 1
        ops.append(r)
    metrics = {"setup_s": sum(setup.values()), "peak_rss_mb": peak.peak_mb}
    if ops:
        lat = [r["s"] * 1e3 for r in ops]
        metrics.update({
            "pages_per_s": len(ops) * w.rows_per_op / sum(r["s"] for r in ops),
            "op_p50_ms": statistics.median(lat), "op_tail_ms": tail(lat)})
    return {"metrics": metrics, "setup": setup, "ops": ops,
            "attempted": len(dirs["ops"]), "failed": failed, "checks": checks}


# --------------------------------------------------------------------- trace

# Extra op-sized inputs of a traced run, drawn like the timed ops' inputs
# and never run before their probe: the layer probes of the flagship, and
# the checkpointed and streaming paths.
PROBES = ("prefix", "paths")
REPLAY_ROWS = 400


def trace_layers(bench: Bench, dirs: dict) -> dict:
    """Layer probes while the session is up: the Python workers' memo
    sizes after the timed ops, the flagship's layer timings, a
    run_checkpointed and a start_triples_stream over one file each of the
    ``paths`` input, and the kernel replay. The checkpointed and streaming
    outputs are checked against the reference for the same pages, so every
    traced run also checks that the fused, checkpointed and streaming paths
    agree."""
    import layers
    import oracle
    from stackoverflowner_spark.plans.pipeline import KGPipeline

    t, spark, probes = bench.tracer, bench.spark, dirs["probes"]
    out: dict = {"worker_memos": layers.worker_memos(bench)}
    out["prefix"] = layers.prefix_probe(bench, probes["prefix"])

    files = sorted(f for f in os.listdir(probes["paths"])
                   if f.endswith(".parquet"))
    probe_dirs = {}
    for name, f in (("checkpointed", files[0]), ("stream", files[1])):
        probe_dirs[name] = os.path.join(bench.run_dir, f"probe_{name}")
        os.makedirs(probe_dirs[name])
        shutil.copy(os.path.join(probes["paths"], f), probe_dirs[name])
    ck_root = os.path.join(bench.run_dir, "checkpointed")
    spark.sparkContext.setJobDescription("pb:checkpointed")
    # per-file splits would also give every small stage snapshot file its
    # own task, so this path runs under the session's split policy
    bench.split_conf(None)
    with t.span("probe.checkpointed"):
        started = time.time()
        path = KGPipeline(spark, ck_root, tagger=bench.tagger).run_checkpointed(
            bench.read_pages(probe_dirs["checkpointed"]))
    bench.split_conf(bench.split_value)
    out["checkpointed"] = layers.checkpointed_metrics(ck_root, started)
    spark.sparkContext.setJobDescription("pb:check")
    got = {"checkpointed": set(
        spark.read.parquet(path).select(*layers.TRIPLE_COLS)
        .toPandas().itertuples(index=False, name=None))}
    spark.sparkContext.setJobDescription("pb:stream")
    with t.span("probe.stream"):
        r = bench.stream(probe_dirs["stream"])
    out["progress"], got["stream"] = r["progress"], r["triples"]

    # warm the replay's memos on timed-op pages as the workers' were, then
    # time it on pages the engine has not seen
    out["replay"] = layers.kernel_replay(
        layers.read_rows(dirs["ops"][0], 2 * REPLAY_ROWS),
        layers.read_rows(probes["prefix"], REPLAY_ROWS), bench.tagger, t)

    with t.span("cross_path"):
        aliases = oracle.alias_index()
        out["cross_path"] = {}
        for name, triples in got.items():
            ref = oracle.digest(
                x for p in layers.read_rows(probe_dirs[name])
                for x in oracle.page_triples(p, bench.tagger, aliases))
            out["cross_path"][name] = {"digest": oracle.digest(triples),
                                       "expected": ref}
        out["cross_path_ok"] = all(v["digest"] == v["expected"]
                                   for v in out["cross_path"].values())
    return out


def finish_layers(layer: dict, log, res: dict, untraced: Dict[str, float],
                  ops: int) -> dict:
    """Per-layer metrics once the event log is complete."""
    import layers

    m = {f"setup.{k}_s": v for k, v in res["setup"].items()}
    replay = dict(layer["replay"])
    m.update(layers.prefix_metrics(layer["prefix"], log,
                                   replay.pop("replay.ms_per_page")))
    m.update(replay)
    m.update(layer["checkpointed"])
    m["plans.pipeline.jobs"] = float(log.job_count("pb:checkpointed"))
    m.update(layers.stream_metrics(layer["progress"]))
    m.update(layers.session_metrics(log, "pb:op:", ops))
    for k, v in res["metrics"].items():
        m[f"overhead.{k}"] = v - untraced[k]
    return {k: {"value": m[k], "unit": u} for k, u in layers.PER_LAYER.items()}


# --------------------------------------------------------------------- main

def untraced_reference(args, key: str) -> Dict[str, float]:
    """End-to-end metrics of an untraced run with the same arguments and
    code: the cached result of an earlier one, else a child run made now."""
    path = os.path.join(WORK, "results", key + ".json")
    if not os.path.exists(path):
        cmd = [sys.executable, os.path.abspath(__file__),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0",
               "--scale", args.scale]
        subprocess.run(cmd, stdout=subprocess.DEVNULL, check=True,
                       timeout=UNTRACED_TIMEOUT_S)
    with open(path) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-test's input size")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(PACKAGE, "__init__.py")):
        print(f"perfbench: package not found at {PACKAGE}", file=sys.stderr)
        return 2
    sys.path.insert(0, HERE)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    traced = bool(args.trace)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    configure_env(traced, run_dir)

    import host
    import layers

    w = workloads.sized(workloads.WORKLOADS[args.workload], args.scale)
    n_ops = workloads.n_ops(w, args.seconds)

    key = (f"{w.name}-{args.scale}-s{args.seed}-t{args.seconds:g}"
           f"-c{cores()}-{code_version()}")
    tracer = layers.Tracer()
    diag: dict = {"workload": w.name, "seed": args.seed, "cores": cores(),
                  "ops": n_ops, "host_before": host.host_noise()}
    with tracer.span("inputs"):
        dirs = workloads.materialize(
            w, args.scale, args.seed,
            n_ops + (len(PROBES) if traced else 0), WORK)
        dirs["probes"] = dict(zip(PROBES, dirs["ops"][n_ops:]))
        del dirs["ops"][n_ops:]
        expected = expected_digests(w, args.scale, args.seed, n_ops, tracer)
        # the reference's process pool leaves multiprocessing's resource
        # tracker behind, and it ignores SIGTERM
        host.stop_descendants(grace=0)
    diag["inputs_s"] = tracer.seconds("inputs")
    untraced = untraced_reference(args, key) if traced else None
    split = max(workloads.largest_file(d) for d in
                [dirs["warmup"]] + dirs["ops"] + list(dirs["probes"].values()))

    bench = Bench(w, run_dir, tracer)
    try:
        with host.PeakRss() as peak:
            res = measure(bench, dirs, expected, split, peak)
        layer = trace_layers(bench, dirs) if traced else None
    finally:
        app_id = (bench.spark.sparkContext.applicationId
                  if bench.spark is not None else None)
        with tracer.span("stop"):
            bench.stop()
            stragglers = host.stop_descendants()
    if stragglers:
        print(f"perfbench: processes left running: {stragglers}",
              file=sys.stderr)

    diag.update({"host_after": host.host_noise(), "setup": res["setup"],
                 "phases_s": {s["name"]: s["end"] - s["start"]
                              for s in tracer.spans if s["parent"] is None},
                 "latency_samples_ms": [r["s"] * 1e3 for r in res["ops"]],
                 "digest_checks": res["checks"],
                 "error_rate": res["failed"] / max(res["attempted"], 1)})
    metrics = res["metrics"]
    correct = (res["failed"] == 0 and len(res["checks"]) == n_ops
               and set(metrics) == set(END_TO_END))
    if traced:
        log = layers.EventLog(os.path.join(run_dir, "eventlog", app_id))
        out = finish_layers(layer, log, res, untraced, n_ops)
        correct = correct and layer["cross_path_ok"]
        diag["cross_path"] = layer["cross_path"]
        diag["worker_memos"] = layer["worker_memos"]
        tracer.write(os.path.join(WORK, "traces", key + ".json"))
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]}
               for k, v in metrics.items()}
        if correct:
            os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
            with open(os.path.join(WORK, "results", key + ".json"), "w") as f:
                json.dump(metrics, f)
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(diag))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
