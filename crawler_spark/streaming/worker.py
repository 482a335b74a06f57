"""Streaming filter-cascade worker (the reference phase-2 polling loop as
a real Structured Streaming job).

The reference worker polls ``crawled_data/<site>/*.json`` every 15 s
(2 s busy) and runs the gate cascade per file — exactly a file-source
micro-batch stream with a processing-time trigger (SURVEY §2.10). The
engine's default is the wave-synchronous batch cascade (provable
ordering + resume), but this module provides the always-on variant:

* source: parquet file stream over the ``crawled`` delta directory
  (each wave's commit drops a new delta dir = one micro-batch);
* stateless gates (sentinel, low-quality, gatekeeper, analysis,
  threshold) run as the same vectorized UDFs per micro-batch;
* stateful feedback (KB MERGE, ledger versions) runs in ``foreachBatch``
  — the standard streaming-upsert pattern, one atomic commit per batch
  through the same TableCatalog;
* trigger: ``processingTime='15 seconds'`` in production,
  ``availableNow`` in tests (drain-and-stop, deterministic).

Exactly-once under replay (foreachBatch may re-run a batch whose
side-effects completed but whose completion the streaming checkpoint
never recorded):

* packets/rejected are written to a per-batch partition dir
  (``batch_id={id}``) with overwrite — a replay rewrites the same bytes
  instead of appending duplicates;
* the feedback catalog records the last applied batch id as its own
  committed counter; a replayed batch with ``batch_id <= committed`` is
  skipped outright, which both prevents the additive KB merge from
  double-counting and never restages (→ never rmtree's) a dir the
  committed catalog checkpoint references;
* batch ids are only comparable WITHIN one streaming-checkpoint
  lineage (a recreated checkpoint restarts ids at 0 over different
  batch contents), so the catalog and the sink dir are bound to the
  query id Spark persists in ``checkpoint_dir/metadata`` on the first
  batch; a later run under a different checkpoint fails fast instead
  of silently skipping feedback / overwriting mismatched batch_id
  partitions;
* the ledger is a BUCKET_APPEND merge-on-read log exactly like the
  batch engine's (wave.py design): each batch appends only its own
  version rows, latest wave per url_hash wins on read
  (:func:`read_ledger_state`) — no per-batch O(bucket) rewrite.
"""

from __future__ import annotations

import json
import os
import warnings

from pyspark.sql import DataFrame, SparkSession

from crawler_spark import schemas
from crawler_spark.operators.cascade import run_cascade
from crawler_spark.operators.kb import merge_kb, wave_kb_delta
from crawler_spark.tableio import BUCKET_APPEND, REPLACE, TableCatalog
from crawler_spark.wave import resolve_ledger


def make_feedback_catalog(
    spark: SparkSession, state_dir: str, n_buckets: int = 32
) -> TableCatalog:
    """The streaming worker's own kb/ledger state store, committed per
    micro-batch (the catalog's committed counter IS the last applied
    batch id — the replay guard). kb stays a full snapshot (genuinely
    small); ledger is a bucketed merge-on-read version log, the same
    O(delta) append design as the batch engine's ledger."""
    cat = TableCatalog(spark, state_dir)
    cat.register("kb", REPLACE)
    cat.register("ledger", BUCKET_APPEND, n_buckets=n_buckets)
    return cat


def read_ledger_state(cat: TableCatalog) -> DataFrame:
    """Resolved ledger state (latest wave per url_hash) → LEDGER shape.

    Delegates to the batch engine's :func:`~crawler_spark.wave.
    resolve_ledger` — ONE copy of the merge-on-read resolution rule, so
    streaming and batch resolved ledgers cannot diverge."""
    return resolve_ledger(cat.read("ledger", schemas.LEDGER_LOG))


def _checkpoint_query_id(checkpoint_dir: str) -> str | None:
    """The query id Spark persists in ``<checkpoint>/metadata`` at query
    start ({"id": "<uuid>"}): stable across restarts from the same
    checkpoint, regenerated when the checkpoint is recreated — i.e. the
    identity of the batch-id numbering the replay guard compares
    against."""
    path = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(path) as f:
            return json.load(f).get("id")
    except (OSError, ValueError):
        # Unreadable metadata (non-local URI, permissions, layout change)
        # disables the lineage guard — make that VISIBLE: the guard exists
        # to prevent silent cross-lineage replay corruption, so a silently
        # disabled guard is the exact failure mode it guards against.
        warnings.warn(
            f"streaming checkpoint metadata at {path} is unreadable; the "
            "batch-id lineage guard is DISABLED for this run — if the "
            "checkpoint lives on a non-local filesystem, resolve it to a "
            "readable path or verify lineage out of band",
            RuntimeWarning,
            stacklevel=2,
        )
        return None


def _bind_stream_identity(
    qid: str | None, out_dir: str, cat: TableCatalog | None
) -> None:
    """Fail fast if this stream's checkpoint lineage is not the one the
    sinks / feedback catalog were written under.

    batch_id-keyed idempotence (partition overwrite, committed-counter
    skip) is only sound within one checkpoint lineage: a recreated
    checkpoint re-batches the source from scratch, so batch 3 no longer
    means the same rows. First batch binds the query id (sink marker
    file + catalog meta, published with the batch's atomic commit); a
    mismatch later raises instead of silently dropping feedback or
    overwriting foreign batch_id partitions."""
    if qid is None:  # metadata not readable — cannot verify, don't guess
        return
    marker = os.path.join(out_dir, "_stream_identity.json")
    prev = None
    try:
        with open(marker) as f:
            prev = json.load(f).get("query_id")
    except (OSError, ValueError):
        pass
    # Validate BOTH bindings before writing EITHER: if the marker were
    # stamped first and the catalog check then refused, the recommended
    # remediation (restart from the original checkpoint) would trip over
    # the marker now holding the refused query id and need manual cleanup.
    if prev is not None and prev != qid:
        raise RuntimeError(
            f"streaming sink {out_dir} was written by query {prev} but this "
            f"stream runs under a different checkpoint lineage ({qid}); "
            "reuse the original checkpoint dir or point the stream at a "
            "fresh out_dir/state_dir"
        )
    bound = cat.get_meta("stream_query_id") if cat is not None else None
    if bound is not None and bound != qid:
        raise RuntimeError(
            f"feedback catalog at {cat.root} holds state committed under "
            f"query {bound}; refusing batch-id replay guard against a "
            f"different checkpoint lineage ({qid})"
        )
    if prev is None:
        os.makedirs(out_dir, exist_ok=True)
        with open(marker, "w") as f:
            json.dump({"query_id": qid}, f)
    if cat is not None and bound is None:
        cat.set_meta("stream_query_id", qid)


def start_stream_cascade(
    spark: SparkSession,
    crawled_glob: str,
    seeds: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
    threshold: float = 0.6,
    feedback_catalog: TableCatalog | None = None,
    curate: bool = False,
):
    """Start the streaming cascade; returns the StreamingQuery.

    ``crawled_glob``: directory (or glob) of crawled-delta parquet.
    ``out_dir``: packets/rejected parquet sinks are written under it,
    partitioned by ``batch_id`` (read the directory whole — Spark's
    partition discovery restores the batch_id column).
    ``trigger``: e.g. {"processingTime": "15 seconds"} or
    {"availableNow": True} (default, drain-and-stop).
    ``feedback_catalog``: optional state store (make_feedback_catalog)
    that receives the KB MERGE + ledger version append per micro-batch —
    state-equivalent to the batch cascade's kb/ledger feedback
    (reference worker behavior, llm_processing_worker.py:97-123).
    """
    stream = (
        spark.readStream.schema(schemas.CRAWLED)
        .option("maxFilesPerTrigger", 64)
        # tableio lays waves out as crawled/d{N}/ delta subdirs — the
        # file source must recurse into them
        .option("recursiveFileLookup", "true")
        .parquet(crawled_glob)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the metadata file exists by the time the first batch runs
        # (Spark writes it at query start, before any batch executes)
        _bind_stream_identity(
            _checkpoint_query_id(checkpoint_dir), out_dir, feedback_catalog
        )
        if batch_df.isEmpty():
            return
        # wave=None: each row keys packets/ledger by its own wave column
        # (micro-batches can span waves; a hardcoded wave would collide
        # packet_ids on re-crawled pages)
        out = run_cascade(batch_df, seeds, wave=None, threshold=threshold)
        packets, rejected = out["packets"], out["rejected"]
        if curate:
            # storage-side curation guard: repetition spam never reaches
            # the packet sink and PII is redacted BEFORE persistence
            # (curation on the read path can't un-write a sink)
            from crawler_spark.operators.curation import curate_and_route

            packets, rejected = curate_and_route(packets, rejected)
        # idempotent per-batch sinks: a replayed batch overwrites its own
        # partition dir instead of appending duplicate rows
        packets.write.mode("overwrite").parquet(
            f"{out_dir}/packets/batch_id={batch_id}"
        )
        rejected.write.mode("overwrite").parquet(
            f"{out_dir}/rejected/batch_id={batch_id}"
        )
        if feedback_catalog is not None:
            cat = feedback_catalog
            if batch_id <= cat.committed_wave:
                # replay of an already-applied batch (crash landed between
                # the catalog commit and the streaming checkpoint write):
                # the state already includes it — re-merging would double-
                # count the additive KB scores, and restaging would
                # rmtree dirs the committed checkpoint references.
                return
            kb_next = merge_kb(
                cat.read("kb", schemas.KB), wave_kb_delta(out["verdicts"])
            )
            # MOR log append: only this batch's version rows are written;
            # resolution (max wave per key) happens on read
            cat.stage("kb", kb_next, batch_id)
            cat.stage("ledger", out["ledger_delta"], batch_id)
            cat.commit(batch_id)

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    return writer.start()
