"""Crawl benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload steady-wave --seed 1 --seconds 20 --trace 0

Run from the repository root. The load is a closed loop: one driver
keeps one operation (a crawl wave, or one pass of the WARC pipeline) in
flight on ``local[N]``, N <= 4 cores, and submits the next only after
the previous one has returned. The first operation is a warm-up counted
in ``setup_s`` only.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics read back from Spark's status stores (see layers.py),
measuring traced and untraced operations alternately to report the
tracing overhead. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; progress goes to
stderr. METRICS.md maps every metric to its layer and workload.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

END_TO_END = {
    "urls_per_s": "URLs/s",
    "docs_per_s": "records/s",
    "wave_s_p50": "s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
}

PER_LAYER = {
    "wave.jobs": "count",
    "wave.tasks": "count",
    "wave.failed_tasks": "count",
    "wave.driver_gap_s": "s",
    "wave.py_start_s": "s",
    "wave.task_s": "s",
    "wave.cpu_s": "s",
    "wave.task_skew": "ratio",
    "wave.shuffle_write_bytes": "bytes",
    "wave.shuffle_read_bytes": "bytes",
    "wave.spill_bytes": "bytes",
    "wave.gc_s": "s",
    "tableio.stage_s": "s",
    "tableio.commit_s": "s",
    "tableio.compact_s": "s",
    "tableio.bytes_written": "bytes",
    "tableio.files_written": "count",
    "tableio.files_read": "count",
    "html_extract.py_s": "s",
    "html_extract.rows": "count",
    "html_extract.bytes_to_py": "bytes",
    "html_extract.bytes_from_py": "bytes",
    "canon.py_s": "s",
    "canon.rows": "count",
    "bloom.probe_py_s": "s",
    "bloom.probe_passes": "count",
    "bloom.update_py_s": "s",
    "seen.candidates": "count",
    "seen.admitted": "count",
    "seen.admit_ratio": "ratio",
    "fetch.rows": "count",
    "fetch.join_build_s": "s",
    "scoring.py_s": "s",
    "cascade.rows_in": "count",
    "cascade.pass_ratio": "ratio",
    "warc.py_s": "s",
    "warc.records": "count",
    "warc.bytes_read": "bytes",
    "dedup.py_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count",
    "dedup.confirm_ratio": "ratio",
    "dedup.shuffle_bytes": "bytes",
    "curation.rows_in": "count",
    "curation.kept_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.harvest_s": "s",
}


def fit_host(state_dir: str, repo_root: str) -> int:
    """Environment for a local Spark run that stays inside the checkout
    and inside this host's memory; returns the local core count.

    The driver heap is derived from physical memory (the engine's own
    default of 24g exceeds small hosts), worker processes get the
    repository on PYTHONPATH (without it every UDF fails to import
    crawler_spark when the driver script lives outside the repo root),
    and Spark's scratch space and temp files go under ``state_dir``."""
    tmp = os.path.join(state_dir, "tmp")
    local = os.path.join(state_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    heap_gib = max(1, min(2, int(phys_gib // 6)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM spark-submit starts: temp files in the run dir, and no
    # hsperfdata file (the JVM writes that under /tmp whatever tmpdir is)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, repo_root)
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(cores: int, state_dir: str, conf: dict):
    from crawler_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            **conf,
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(state_dir, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM (and with it the Python worker
    daemon), and wait for the JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mib(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    jvm = 0.0
    proc = spark.sparkContext._gateway.proc
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024
    return own + jvm


def run(args) -> dict:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "crawler_spark", "__init__.py")):
        raise SystemExit(
            "perfbench: no crawler_spark package in the working directory; "
            "run from the repository root"
        )
    state = os.path.join(root, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    cores = fit_host(run_dir, root)

    from layers import RETENTION_CONF, CatalogSpans, StatusStoreReader
    from workloads import WORKLOADS, log

    wl = WORKLOADS[args.workload](
        os.path.join(state, "inputs"), os.path.join(run_dir, "work"), args.seed, args.scale
    )
    spark = None
    try:
        if not wl.inputs_need_spark:
            wl.inputs()
        t0 = time.perf_counter()
        spark = start_spark(cores, run_dir, RETENTION_CONF)
        session_s = time.perf_counter() - t0
        if wl.inputs_need_spark:
            wl.inputs(spark)  # generation stays out of setup_s
        t1 = time.perf_counter()
        wl.setup(spark, cores)
        t2 = time.perf_counter()
        wl.op(warmup=True)
        t3 = time.perf_counter()
        setup_s = session_s + t3 - t1
        wl.after_op()
        log(
            f"{wl.name} seed={args.seed}: setup {setup_s:.2f}s (session "
            f"{session_s:.2f}s, init {t2 - t1:.2f}s, warm-up {t3 - t2:.2f}s)"
        )

        sc = spark.sparkContext
        reader = StatusStoreReader(spark) if args.trace else None
        ops: list[dict] = []  # measured operations (index i + 1 overall)
        attempted, raised = 1, False
        need = 2 if args.trace else 1  # a traced run needs one op of each kind
        while len(ops) < wl.max_ops():
            spent = sum(o["s"] for o in ops)
            if len(ops) >= need and spent + statistics.median(o["s"] for o in ops) > args.seconds:
                break
            traced = bool(args.trace) and len(ops) % 2 == 1
            cat = wl.catalog() if traced else None
            spans = CatalogSpans(cat) if cat is not None else contextlib.nullcontext()
            if traced:
                sc.setJobGroup(f"perfbench-op{attempted}", f"{wl.name} op {attempted}")
            attempted += 1
            try:
                with spans:
                    a = time.time()
                    out = wl.op()
                    b = time.time()
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
                wl.after_op()
            except Exception as exc:  # the run reports it as a failed op
                log(f"operation {attempted - 1} raised: {exc!r}")
                raised = True
                break
            op = {"s": b - a, "traced": traced, **out}
            if traced:
                h0 = time.perf_counter()
                layer = reader.harvest(a, b, wl.crawl)
                op["harvest_s"] = time.perf_counter() - h0
                if cat is not None:
                    layer["tableio.stage_s"] = spans.seconds("stage")
                    layer["tableio.commit_s"] = spans.seconds("commit")
                    layer["tableio.compact_s"] = spans.seconds("compact", "compact_split")
                op["layer"] = layer
            ops.append(op)
            log(f"op {attempted - 1}: {op['s']:.2f}s traced={traced} {out}")

        try:
            failed, extras = wl.check()
        except Exception as exc:  # engine state unreadable: every op is suspect
            log(f"correctness check raised: {exc!r}")
            failed, extras = set(range(attempted)), {}
        n_failed = len(failed) + int(raised)
        metrics = (
            layer_metrics(ops, extras) if args.trace
            else end_to_end_metrics(ops, setup_s, peak_rss_mib(spark))
        )
        n_plain = sum(not o["traced"] for o in ops)
        log(
            f"wave_s_p50 over n={n_plain} untraced operations; no tail "
            f"percentile (fewer than 10 samples beyond any)"
        )
        return {
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        wl.close()
        shutil.rmtree(run_dir, ignore_errors=True)


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(ops: list[dict], setup_s: float, rss: float) -> dict:
    """Reads 0 only when no measured operation completed (``correct`` is
    then false)."""
    secs = sum(o["s"] for o in ops) or float("inf")
    values = {
        "urls_per_s": sum(o["urls"] for o in ops) / secs,
        "docs_per_s": sum(o["docs"] for o in ops) / secs,
        "wave_s_p50": _median(o["s"] for o in ops),
        "setup_s": setup_s,
        "peak_rss_mb": rss,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def layer_metrics(ops: list[dict], extras: dict[int, dict]) -> dict:
    """Per-operation means over the traced operations."""
    traced = []
    for i, o in enumerate(ops, start=1):
        if not o["traced"]:
            continue
        layer = {**o["layer"], **extras.get(i, {})}
        layer["seen.admit_ratio"] = layer.get("seen.admitted", 0) / max(
            1.0, layer.get("seen.candidates", 0)
        )
        layer["dedup.confirm_ratio"] = layer.get("dedup.confirmed_pairs", 0) / max(
            1.0, layer.get("dedup.candidate_pairs", 0)
        )
        layer["trace.harvest_s"] = o["harvest_s"]
        traced.append(layer)
    plain = _median(o["s"] for o in ops if not o["traced"])
    with_trace = _median(o["s"] for o in ops if o["traced"])
    out = {}
    for name, unit in PER_LAYER.items():
        value = statistics.fmean([t.get(name, 0.0) for t in traced] or [0.0])
        if name == "trace.overhead_ratio":
            value = with_trace / plain - 1 if plain and with_trace else 0.0
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["steady-wave", "warc-curate"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--scale", type=float, default=1.0,
        help="input size factor (the smoke test runs tiny inputs)",
    )
    result = run(p.parse_args(argv))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
