"""Per-layer tracing from outside the engine.

Nothing here changes how ``crawler_spark`` runs. A traced operation (one
``CrawlEngine.run_wave()`` call, or one pass of the WARC pipeline) is
tagged with a Spark job group; ``TableCatalog`` methods on the engine's
catalog instance are wrapped in spans; and after the operation the
driver's in-process status stores are read:

* ``sc._jsc.sc().statusStore()`` for jobs, stages and tasks;
* ``spark._jsparkSession.sharedState().statusStore()`` for each SQL
  execution's plan graph and accumulator values.

Python operators are attributed to engine modules by the UDF name in
each plan node's description. Accumulators are summed once per
(execution, accumulator id): a reused sub-plan lists the same
accumulator under several nodes.
"""

from __future__ import annotations

import json
import re
import statistics
import time
from collections import defaultdict

# Status-store retention while benchmarking. A wave runs ~30 SQL
# executions and ~100 stages; the engine's session defaults (30 / 200)
# would evict part of a wave before it is read back.
RETENTION_CONF = {
    "spark.sql.ui.retainedExecutions": "400",
    "spark.ui.retainedJobs": "1000",
    "spark.ui.retainedStages": "2000",
}

# module <- (plan node name prefix, regex over the node description)
_NODE_RULES = [
    ("html_extract", "ArrowEvalPython", re.compile(r"\bextract_udf\(")),
    ("canon", "ArrowEvalPython", re.compile(r"\bcanonicalize_udf\(")),
    (
        "scoring",
        "ArrowEvalPython",
        re.compile(r"\b(low_quality_udf|gatekeeper_udf|analyze_udf)\("),
    ),
    ("dedup", "ArrowEvalPython", re.compile(r"\bfn\(")),
    ("bloom_probe", "FlatMapCoGroupsInPandas", re.compile(r"<lambda>\(")),
    ("bloom_update", "FlatMapCoGroupsInPandas", re.compile(r"\bmerge\(")),
    ("warc", "MapInPandas", re.compile(r"\bgen\(path#")),
    ("fetch", "ShuffledHashJoin", re.compile(r"_page_hash#")),
    ("write", "Execute InsertIntoHadoopFsRelationCommand", re.compile("")),
    ("scan", "Scan parquet", re.compile("")),
    ("dedup_exchange", "Exchange", re.compile(r"\b(band|bh|id_a|id_b|id)#")),
    ("dedup_join", "", re.compile(r"Join \[id_a#")),
]

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40, "PiB": 2**50,
}
_VALUE = re.compile(r"^\s*([-0-9.,]+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """Total of one SQL metric string, in seconds, bytes or a plain count.

    Spark renders timing and size metrics as
    ``total (min, med, max (stageId: taskId))\\n235 ms (4 ms, 73 ms, ...)``
    and sum metrics as ``1,234``; the total is the leading number of the
    last line."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    return number * _UNITS.get(m.group(2), 1.0)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class CatalogSpans:
    """Wraps ``stage``/``commit``/``compact``/``compact_split`` on one
    ``TableCatalog`` instance and records (kind, start, end) spans.

    ``stage`` runs on the engine's writer threads, so the list is only
    appended to (atomic under the interpreter lock) and read after the
    operation has returned."""

    METHODS = ("stage", "commit", "compact", "compact_split")

    def __init__(self, catalog):
        self.catalog = catalog
        self.spans: list[tuple[str, float, float]] = []

    def __enter__(self):
        for name in self.METHODS:
            original = getattr(self.catalog, name)
            setattr(self.catalog, name, self._wrap(name, original))
        return self

    def __exit__(self, *exc):
        for name in self.METHODS:
            delattr(self.catalog, name)  # back to the class method
        return False

    def _wrap(self, kind, fn):
        spans = self.spans

        def traced(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.append((kind, t0, time.time()))

        return traced

    def seconds(self, *kinds: str) -> float:
        """Wall time covered by spans of ``kinds`` (overlaps counted once)."""
        return _union_seconds([(a, b) for k, a, b in self.spans if k in kinds])


class StatusStoreReader:
    """Reads one operation's Spark metrics back from the status stores."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self.sc = sc
        jvm = sc._jvm
        self.core = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._mapper = mapper
        self._empty_list = jvm.java.util.ArrayList

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def harvest(self, t0: float, t1: float, crawl: bool) -> dict[str, float]:
        """Layer metrics of everything Spark ran between wall times t0 and
        t1. The benchmark keeps exactly one operation in flight, so the
        window holds that operation's jobs and nothing else. ``crawl``
        says whether parquet reads and writes belong to the tableio layer
        (the crawl engine's catalog) or to the pipeline's own output."""
        lo, hi = t0 * 1000 - 5, t1 * 1000 + 5
        jobs = [
            j for j in self._json(self.core.jobsList(None))
            if lo <= j["submissionTime"] <= hi
        ]
        out: dict[str, float] = defaultdict(float)
        out["wave.jobs"] = len(jobs)
        busy = [
            (j["submissionTime"] / 1000, (j.get("completionTime") or hi) / 1000)
            for j in jobs
        ]
        out["wave.driver_gap_s"] = max(0.0, (t1 - t0) - _union_seconds(busy))
        self._stage_metrics({s for j in jobs for s in j["stageIds"]}, out)
        self._sql_metrics(lo, hi, crawl, out)
        return dict(out)

    def _stage_metrics(self, stage_ids: set[int], out: dict) -> None:
        stages = self._json(
            self.core.stageList(
                self._empty_list(), False, False,
                self.sc._gateway.new_array(self.sc._jvm.double, 0),
                self._empty_list(),
            )
        )
        worst_skew = 1.0
        for s in stages:
            if s["stageId"] not in stage_ids or s["status"] == "SKIPPED":
                continue
            out["wave.tasks"] += s["numCompleteTasks"]
            out["wave.failed_tasks"] += s["numFailedTasks"]
            out["wave.task_s"] += s["executorRunTime"] / 1e3
            out["wave.cpu_s"] += s["executorCpuTime"] / 1e9
            out["wave.gc_s"] += s["jvmGcTime"] / 1e3
            out["wave.shuffle_write_bytes"] += s["shuffleWriteBytes"]
            out["wave.shuffle_read_bytes"] += s["shuffleReadBytes"]
            out["wave.spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
            if s["numCompleteTasks"] >= 2 and s["executorRunTime"] >= 100:
                tasks = self._json(
                    self.core.taskList(s["stageId"], s["attemptId"], 100000)
                )
                run = sorted(
                    t["taskMetrics"]["executorRunTime"]
                    for t in tasks
                    if t.get("taskMetrics")
                )
                if run:
                    worst_skew = max(worst_skew, run[-1] / max(1.0, statistics.median(run)))
        out["wave.task_skew"] = worst_skew

    def _sql_metrics(self, lo: float, hi: float, crawl: bool, out: dict) -> None:
        probe_rows = []
        for ex in self._json(self.sql.executionsList()):
            if not lo <= ex["submissionTime"] <= hi:
                continue
            eid = ex["executionId"]
            values = ex.get("metricValues") or self._json(self.sql.executionMetrics(eid))
            graph = self._json(self.sql.planGraph(eid))
            seen_acc: set[int] = set()
            for node in graph["allNodes"]:
                metrics = {m["name"]: m["accumulatorId"] for m in node["metrics"]}
                fresh = {
                    name: parse_metric(values.get(str(acc)))
                    for name, acc in metrics.items()
                    if acc not in seen_acc and str(acc) in values
                }
                seen_acc.update(metrics.values())
                if not fresh:
                    continue
                if "time to start Python workers" in fresh:
                    out["wave.py_start_s"] += fresh["time to start Python workers"]
                    out["wave.py_start_s"] += fresh.get("time to initialize Python workers", 0.0)
                module = _classify(node["name"], node["desc"])
                if module is None:
                    continue
                rows = fresh.get("number of output rows", 0.0)
                py_s = fresh.get("time to run Python workers", 0.0)
                if module in ("html_extract", "canon", "scoring", "dedup", "warc"):
                    out[f"{module}.py_s"] += py_s
                if module == "html_extract":
                    out["html_extract.rows"] += rows
                    out["html_extract.bytes_to_py"] += fresh.get("data sent to Python workers", 0.0)
                    out["html_extract.bytes_from_py"] += fresh.get("data returned from Python workers", 0.0)
                elif module == "canon":
                    out["canon.rows"] += rows
                elif module == "warc":
                    out["warc.records"] += rows
                elif module == "bloom_probe":
                    out["bloom.probe_py_s"] += py_s
                    if fresh.get("data sent to Python workers", 0.0) > 0:
                        out["bloom.probe_passes"] += 1
                        probe_rows.append(rows)
                elif module == "bloom_update":
                    out["bloom.update_py_s"] += py_s
                elif module == "fetch":
                    out["fetch.rows"] += rows
                    out["fetch.join_build_s"] += fresh.get("time to build hash map", 0.0)
                elif module == "write" and crawl:
                    out["tableio.bytes_written"] += fresh.get("written output", 0.0)
                    out["tableio.files_written"] += fresh.get("number of written files", 0.0)
                elif module == "scan" and crawl:
                    out["tableio.files_read"] += fresh.get("number of files read", 0.0)
                elif module == "dedup_exchange" and not crawl:
                    out["dedup.shuffle_bytes"] += fresh.get("shuffle bytes written", 0.0)
                elif module == "dedup_join" and not crawl:
                    out["dedup.candidate_pairs"] = max(out["dedup.candidate_pairs"], rows)
        # every probe pass sees the same candidate rows; report one pass
        out["seen.candidates"] = max(probe_rows, default=0.0)


def _classify(name: str, desc: str) -> str | None:
    for module, prefix, pattern in _NODE_RULES:
        if name.startswith(prefix) and pattern.search(desc or ""):
            return module
    return None
