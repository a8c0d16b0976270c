"""KG-pipeline benchmark: one workload per invocation, one driver process.

    python3 perfbench/run.py --workload kg_build --seed 42 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.bench_data/`` (cached per seed, never timed). Each run starts fresh
SparkSessions on ``local[<half the cores>]``, each with its own JVM:

- with ``--trace 0``, session 1 runs the cold pass (the first pass in a
  fresh JVM, what a spark-submit run pays) and then warm passes until
  they add up to ``--seconds`` (at least two), and session 2 only sets
  up, so ``setup_s`` is the median of two set-ups; the last line
  reports the end-to-end metrics;
- with ``--trace 1``, one session runs the cold pass and one warm pass
  with the Spark event log on; the last line reports the per-layer
  metrics from its warm pass. Its pass times minus an untraced run's
  ``cold_s`` / ``warm_s`` are the tracing overhead.

Every pass's outputs are digested and checked (see workloads.py). The
last stdout line is one JSON object; the exit code is 1 if any call or
check failed, 2 if the program under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import inputs
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("kg_build", "media_near_dup")
# cold_s (the first pass in a fresh JVM) is one sample per run and
# spread past its bound across runs; it is printed on a report line and
# is the per-layer trace.cold_pass_s (README: "Steadiness")
END_TO_END = {"setup_s": "s", "warm_s": "s"}
LAYERS = (
    "operators.segment",
    "operators.tabulate",
    "operators.triples",
    "operators.graph",
    "operators.linking",
    "operators.media",
    "operators.dedup",
)
LAYER_COUNTERS = {
    "wall_s": "s",
    "build_s": "s",
    "rows_out": "count",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "gc_s": "s",
    "scan_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "python_run_s": "s",
    "python_bytes": "bytes",
}
PER_LAYER = {
    **{f"{layer}.{c}": u for layer in LAYERS for c, u in LAYER_COUNTERS.items()},
    "sources.checkpoint.bytes_written": "bytes",
    "sources.checkpoint.files_written": "count",
    "sources.checkpoint.commit_s": "s",
    "sources.checkpoint.reused_frac": "ratio",
    "sources.checkpoint.reuse_s": "s",
    "plans.pipeline.wall_s": "s",
    "plans.pipeline.resume_wall_s": "s",
    "session.start_s": "s",
    "session.py_worker_start_s": "s",
    "session.peak_rss_mb": "MB",
    "operators.triples.precision": "ratio",
    "operators.triples.recall": "ratio",
    "operators.linking.merge_ratio": "ratio",
    "operators.dedup.candidate_yield": "ratio",
    "operators.media.py_bytes_per_blob_byte": "ratio",
    "cache.persisted_rdds": "count",
    "cache.persisted_rdds_growth": "count",
    "trace.cold_pass_s": "s",
    "trace.warm_pass_s": "s",
}
# two warm passes and two set-ups keep a run near a minute on a quiet
# 4-core host (README: "Why these sizes")
MIN_WARM = 2
SETUPS = 2
DRIVER_MEM = "4g"  # the inputs are a few MB


def spark_cores() -> int:
    """Task slots for ``local[n]``: half the cores this process may use.
    Every task of a pandas-UDF stage keeps a Python worker busy beside
    its JVM thread, so ``local[<cores>]`` runs twice as many threads as
    there are cores; on a shared host that measures the scheduler (and
    the host's CPU steal) more than the program. The shuffle-partition
    count is ``max(cores, 8)``, so the plans are the same either way."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def configure_env(work_dir: str) -> None:
    """Host sizing and isolation, set before the first JVM starts:
    ``spark_cores()`` task slots, a bounded driver heap, the repository
    on the Python workers' path, and every scratch file under the
    checkout."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(spark_cores()),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work_dir, "spark-local"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options {shlex.quote(jvm_opts)} pyspark-shell",
        SPARK_LAUNCHER_OPTS=jvm_opts,
    )
    # knobs that would change the measured plans or where they run
    for knob in (
        "SPARK_GRAFT_EVENTLOG",
        "SPARK_GRAFT_MASTER",
        "SPARK_GRAFT_MAX_PARTITION_BYTES",
        "SPARK_GRAFT_TABLE_FORMAT",
    ):
        os.environ.pop(knob, None)


def stop_session(spark) -> None:
    """Stop the SparkSession and its JVM, and wait for the JVM to exit
    (it exits when its stdin closes), so the next session is cold."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fresh_program(seed_dir: str, seed: int):
    """Drop the program's modules so each session starts from fresh
    module state, as a new spark-submit would: some operators keep py4j
    Columns in module-level caches (``condition._ASSESS_COLS``,
    ``triples._FUSED_EXPR_CACHE``), which die with the JVM that built
    them. Returns the re-imported ``synth`` bound to the run's seed."""
    for name in [m for m in sys.modules if m.split(".")[0] == "pdf2ontology_spark"]:
        del sys.modules[name]
    from pdf2ontology_spark import synth

    inputs.bind_synth_seed(synth, os.path.join(seed_dir, "synth"), seed)
    return synth


class Session:
    """One fresh SparkSession: set-up time, pass times and tracer."""

    def __init__(self, workload, eventlog_dir: str | None) -> None:
        from pdf2ontology_spark.session import get_spark

        from tracing import Tracer

        if eventlog_dir:
            os.environ["SPARK_GRAFT_EVENTLOG"] = eventlog_dir
        else:
            os.environ.pop("SPARK_GRAFT_EVENTLOG", None)
        t0 = time.monotonic()
        self.spark = get_spark(app_name=f"perfbench-{workload.name}")
        self.spark.sparkContext.setLogLevel("ERROR")
        workload.locate()
        self.setup_s = time.monotonic() - t0
        self.app_id = self.spark.sparkContext.applicationId
        self.tracer = Tracer(self.spark.sparkContext)
        self.times: list[float] = []
        self.persisted: list[int] = []

    def persisted_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def run_passes(sess: Session, work, checks, seconds: float, n_warm: int | None, ref: dict):
    """Cold pass, then warm passes: ``n_warm`` of them, or else until
    they add up to ``seconds`` (at least ``MIN_WARM``). Checks each
    pass's outputs against the first digests seen in the run (``ref``)."""
    spark, tr = sess.spark, sess.tracer
    res = None
    while True:
        i = len(sess.times)
        tr.pass_id = "cold" if i == 0 else f"warm{i}"
        t0 = time.monotonic()
        try:
            res = work.run_pass(spark, tr, i)
            ok = True
        except Exception:
            traceback.print_exc()
            ok = False
        sess.times.append(time.monotonic() - t0)
        checks.check(ok, f"{tr.pass_id}: a public call raised")
        if ok:
            with tr.span("bench.check", "check_s"):
                got = work.outputs(res)
                if "ckpt_bytes" in res:
                    tr.add("sources.checkpoint", "bytes_written", res["ckpt_bytes"])
                    tr.add("sources.checkpoint", "files_written", res["ckpt_files"])
                for k, v in got.items():
                    checks.check(ref.setdefault(k, v) == v, f"{tr.pass_id}: {k} {v} != {ref[k]}")
                work.check(res, checks)
        spark.catalog.clearCache()
        sess.persisted.append(sess.persisted_rdds())
        warm = sess.times[1:]
        if n_warm is not None:
            if len(warm) >= n_warm:
                break
        elif len(warm) >= MIN_WARM and sum(warm) >= seconds:
            break
    return res


def layer_metrics(sess: Session, work, ratios: dict, resume: dict | None) -> dict:
    """Per-layer metrics from the traced session's warm passes (median
    per pass), plus the session-wide and trace-only figures."""
    import tracing

    evlog = os.path.join(os.environ["SPARK_GRAFT_EVENTLOG"], sess.app_id)
    attrib = tracing.attribute(evlog)
    tv = sess.tracer.values
    warm = [f"warm{i}" for i in range(1, len(sess.times))]

    def med(f) -> float:
        return float(statistics.median(f(p) for p in warm))

    out: dict[str, float] = {}
    for layer in LAYERS:
        for c in LAYER_COUNTERS:
            if c in ("wall_s", "build_s"):
                out[f"{layer}.{c}"] = med(lambda p: tv.get((p, layer, c), 0.0))
            elif c == "rows_out":
                out[f"{layer}.{c}"] = med(
                    lambda p: tv.get((p, layer, c), 0.0)
                    + attrib.get((p, layer), {}).get("records_written", 0.0)
                )
            else:
                out[f"{layer}.{c}"] = med(lambda p: attrib.get((p, layer), {}).get(c, 0.0))
    ck = "sources.checkpoint"
    for c in ("bytes_written", "files_written", "commit_s"):
        out[f"{ck}.{c}"] = med(lambda p: tv.get((p, ck, c), 0.0))
    out[f"{ck}.reused_frac"] = resume["reused_frac"] if resume else 0.0
    out[f"{ck}.reuse_s"] = tv.get(("resume", ck, "reuse_s"), 0.0)
    out["plans.pipeline.wall_s"] = med(lambda p: tv.get((p, "plans.pipeline", "total_s"), 0.0))
    out["plans.pipeline.resume_wall_s"] = resume["wall_s"] if resume else 0.0
    out["session.start_s"] = sess.setup_s
    out["session.py_worker_start_s"] = sum(
        v["py_worker_start_s"] for (p, _layer), v in attrib.items() if p == "cold"
    )
    out["session.peak_rss_mb"] = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024
    precision, recall = getattr(work, "golden_pr", None) or (0.0, 0.0)
    out["operators.triples.precision"] = precision
    out["operators.triples.recall"] = recall
    out["operators.linking.merge_ratio"] = out["operators.dedup.candidate_yield"] = 0.0
    out.update(ratios)
    blob_bytes = getattr(work, "blob_bytes", 0)
    out["operators.media.py_bytes_per_blob_byte"] = (
        out["operators.media.python_bytes"] / blob_bytes if blob_bytes else 0.0
    )
    out["cache.persisted_rdds"] = sess.persisted[-1]
    out["cache.persisted_rdds_growth"] = sess.persisted[-1] - sess.persisted[0]
    out["trace.cold_pass_s"] = sess.times[0]
    out["trace.warm_pass_s"] = statistics.median(sess.times[1:])
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pdf2ontology_spark", "plans", "pipeline.py")):
        print(f"perfbench: no pdf2ontology_spark package under {ROOT}", file=sys.stderr)
        return 2

    data_dir = os.path.join(ROOT, ".bench_data")
    work_dir = os.path.join(data_dir, "run")
    shutil.rmtree(work_dir, ignore_errors=True)
    configure_env(work_dir)
    sys.path.insert(0, ROOT)

    seed_dir = inputs.data_root(ROOT, args.seed)
    synth = fresh_program(seed_dir, args.seed)
    if args.workload == "kg_build":
        synth.ensure_synth(workloads.KG_TAG)
        work = workloads.KgBuild(work_dir, synth)
    else:
        synth.ensure_blobs(workloads.MEDIA_TAG)
        nd_dir = os.path.join(seed_dir, f"neardup_{inputs.N_DOCS}x{inputs.N_VECS}")
        planted = inputs.near_dup_tables(nd_dir, args.seed)
        work = workloads.MediaNearDup(synth, nd_dir, planted)

    checks = workloads.Checks()
    ref: dict = {}
    sessions: list[Session] = []

    def session(eventlog_dir: str | None = None) -> Session:
        work.synth = fresh_program(seed_dir, args.seed)
        s = Session(work, eventlog_dir)
        sessions.append(s)
        return s

    if args.trace:
        traced = timed = session(os.path.join(work_dir, "eventlog"))
        res = run_passes(traced, work, checks, args.seconds, 1, ref)
        resume, ratios = None, {}
        if res is not None:
            if isinstance(work, workloads.KgBuild):
                traced.tracer.pass_id = "resume"
                resume = work.resume_pass(traced.spark, traced.tracer, checks, ref, res)
            ratios = work.trace_ratios(traced.spark, res)
        stop_session(traced.spark)
        values = layer_metrics(traced, work, ratios, resume)
        metrics = {k: (v, PER_LAYER[k]) for k, v in values.items()}
    else:
        timed = session()
        run_passes(timed, work, checks, args.seconds, None, ref)
        stop_session(timed.spark)
        for _ in range(SETUPS - 1):
            stop_session(session().spark)
        values = {
            "setup_s": statistics.median(s.setup_s for s in sessions),
            "warm_s": statistics.median(timed.times[1:]),
        }
        metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}

    expected = json.load(open(os.path.join(HERE, "expected.json"))).get(args.workload, {})
    if str(args.seed) in expected:
        for k, v in expected[str(args.seed)].items():
            checks.check(ref.get(k) == v, f"digest {k} {ref.get(k)} != expected {v}")

    report = [
        f"{work.name} seed={args.seed} task_slots={os.environ['SPARK_GRAFT_CPUS']} "
        f"setups={len(sessions)} warm_passes={len(timed.times) - 1}",
        *(f"{k} {v:.6g} {u}" for k, (v, u) in metrics.items()),
        f"fail_frac {checks.failed / max(1, checks.attempted):.6g} ratio",
        f"cold_s {timed.times[0]:.6g} s",
    ]
    if getattr(work, "golden_pr", None) and "triples" in ref:
        warm = statistics.median(timed.times[1:])
        report += [
            f"triples_per_s {ref['triples'][0] / warm:.6g} 1/s",
            f"triple_precision {work.golden_pr[0]:.6g} ratio",
            f"triple_recall {work.golden_pr[1]:.6g} ratio",
        ]
    report.append("digests " + json.dumps(ref, sort_keys=True))
    print("\n".join(report))
    for f in checks.failures:
        print(f"FAILED: {f}", file=sys.stderr)
    shutil.rmtree(work_dir, ignore_errors=True)
    print(
        json.dumps(
            {
                "correct": checks.failed == 0,
                "attempted": checks.attempted,
                "failed": checks.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0 if checks.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
