"""Frontier wave-batch selection: the engine's priority queue.

The reference's frontier is an in-memory FIFO deque popped ``batch_size``
at a time with KB gates applied during the pop
(src/agent/fast_crawler_agent.py:131-147). Here the frontier is a table
and the pop is a Window rank:

* **fifo mode** (reference-parity): rank by insertion ``seq`` per site —
  exactly the deque order;
* **priority mode** (north rule): rank over ``(host, depth, score)`` —
  ``row_number().over(Window.partitionBy(site_id, host).orderBy(desc(score),
  depth, seq))`` capped by the per-host politeness quota, then a global
  per-site budget rank.

Scale notes: both windows partition by (site_id, host) or site_id — never
a single global ordering over 10^10 rows. The only global-ish sort is the
per-site budget rank, and it runs on the already-quota-capped candidate
set (≤ sum of host quotas ≪ frontier size). Skewed mega-hosts are handled
by AQE + the fact that per-host ranking caps each host's contribution at
its quota.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawler_spark.functions.urlfns import kb_pattern

FIFO = "fifo"
PRIORITY = "priority"


def apply_kb_gates(pending: DataFrame, kb: DataFrame) -> DataFrame:
    """Annotate pending frontier rows with the KB ignore/problematic gates.

    Reference semantics (knowledge_base.py:61-66 + fast_crawler_agent.py
    :137-145): a URL is dropped when its path pattern has
    ``count >= 3 and avg_score < 0.4`` (learned-low-quality) or
    ``failure_count >= 3`` (problematic). KB is tiny → broadcast join.
    """
    kb_small = F.broadcast(
        kb.select(
            "site_id",
            F.col("pattern").alias("_kb_pattern"),
            "count",
            "avg_score",
            "failure_count",
        )
    )
    out = (
        pending.withColumn("_pattern", kb_pattern(F.col("canonical_url")))
        .join(
            kb_small,
            on=[
                pending["site_id"] == kb_small["site_id"],
                F.col("_pattern") == F.col("_kb_pattern"),
            ],
            how="left",
        )
        .drop(kb_small["site_id"])
        .withColumn(
            "kb_gated",
            F.coalesce(
                ((F.col("count") >= 3) & (F.col("avg_score") < 0.4))
                | (F.col("failure_count") >= 3),
                F.lit(False),
            ),
        )
        .drop("count", "avg_score", "failure_count", "_kb_pattern", "_pattern")
    )
    return out


def topk_per_group(df: DataFrame, part_cols: list[str], order: list, k_col: str) -> DataFrame:
    """Exact distributed top-k per group: annotate with the in-group rank
    ``_rn`` under ``order``, computed WITHOUT sorting whole groups in one
    partition.

    Phase 1 prunes locally: a window keyed by (spark_partition_id,
    group) keeps each input partition's top ``k`` — any global top-k row
    is necessarily in its partition's local top-k, so the prune is
    lossless. Phase 2 ranks the ≤ n_partitions × k survivors exactly.
    A single-window rank over a 10^10-row pending frontier would funnel
    each group (site, or site×host) through ONE reducer — this caps the
    final sort at n_partitions × k rows regardless of frontier size.
    Requires a total order (callers tiebreak by the unique ``seq``) and a
    per-group-constant ``k_col``.
    """
    w_local = Window.partitionBy(F.spark_partition_id(), *part_cols).orderBy(*order)
    pruned = (
        df.withColumn("_lrn", F.row_number().over(w_local))
        .filter(F.col("_lrn") <= F.col(k_col))
        .drop("_lrn")
    )
    w_glob = Window.partitionBy(*part_cols).orderBy(*order)
    return pruned.withColumn("_rn", F.row_number().over(w_glob))


def select_wave_batch_fifo(
    candidates: DataFrame, batch_sizes: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Reference-parity batch pop.

    ``candidates``: pending rows annotated with ``kb_gated``.
    ``batch_sizes``: (site_id, batch_size) — the per-site pop budget.

    Returns ``(batch, consumed_gated)``:
    * batch = first ``batch_size`` non-gated rows per site in seq order;
    * consumed_gated = gated rows that the reference would have popped and
      dropped while collecting that batch (seq < last batch member's seq;
      all gated rows when the queue ran dry before filling the batch).
    """
    c = candidates.join(F.broadcast(batch_sizes), "site_id", "left")

    nongated = topk_per_group(
        c.filter(~F.col("kb_gated")), ["site_id"], [F.asc("seq")], "batch_size"
    ).withColumnRenamed("_rn", "rn")
    batch = nongated.filter(F.col("rn") <= F.col("batch_size"))

    # per-site cutoff: seq of the last popped row; +inf when the queue was
    # drained before the batch filled (reference pops until empty)
    cutoffs = batch.groupBy("site_id").agg(
        F.max("seq").alias("_cut_seq"), F.count("*").alias("_batch_n")
    )
    c2 = c.join(F.broadcast(cutoffs), "site_id", "left")
    consumed_gated = c2.filter(
        F.col("kb_gated")
        & (
            F.col("_cut_seq").isNull()  # whole queue gated → all popped
            | (F.col("seq") < F.col("_cut_seq"))
            | (F.col("_batch_n") < F.col("batch_size"))  # queue drained
        )
    ).drop("_cut_seq", "_batch_n", "batch_size", "rn")

    return batch.drop("rn", "batch_size"), consumed_gated


def select_wave_batch_priority(
    candidates: DataFrame,
    host_quota: DataFrame,
    batch_sizes: DataFrame,
    skip_budget_rank: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """North-rule batch selection: per-host quota rank then per-site budget.

    ``host_quota``: (site_id, host, quota) from the politeness scheduler.
    Gated rows are all consumed this wave (simpler-than-reference
    semantics, documented; the oracle mirrors it).

    The per-host rank partitions by (site_id, host) — parallel across
    hosts, bounded per host by its quota. The per-site budget rank is the
    one single-partition-per-site sort; it runs on the already
    quota-capped set (≤ Σ quotas ≪ frontier), and callers that know the
    budget cannot bind (batch_size ≥ candidate count, e.g. drain-the-
    frontier benchmarks) pass ``skip_budget_rank=True`` to elide it
    entirely — semantics are identical by construction.
    """
    consumed_gated = candidates.filter(F.col("kb_gated"))
    live = candidates.filter(~F.col("kb_gated"))

    order = [F.desc("score"), F.asc("depth"), F.asc("seq")]
    ranked = topk_per_group(
        live.join(F.broadcast(host_quota), ["site_id", "host"], "left").withColumn(
            "_quota", F.coalesce(F.col("quota"), F.lit(1))
        ),
        ["site_id", "host"],
        order,
        "_quota",
    ).withColumnRenamed("_rn", "host_rn")
    within_quota = ranked.filter(F.col("host_rn") <= F.col("_quota")).drop("_quota")
    if skip_budget_rank:
        return within_quota.drop("host_rn", "quota"), consumed_gated

    batch = (
        topk_per_group(
            within_quota.join(F.broadcast(batch_sizes), "site_id", "left"),
            ["site_id"],
            order,
            "batch_size",
        )
        .withColumnRenamed("_rn", "site_rn")
        .filter(F.col("site_rn") <= F.col("batch_size"))
        .drop("host_rn", "site_rn", "quota", "batch_size")
    )
    return batch, consumed_gated


def assign_seq(
    new_links: DataFrame, max_seq: DataFrame, distributed: bool = False, n_parts: int = 32
) -> DataFrame:
    """Deterministic insertion order for newly discovered frontier rows.

    seq = per-site rank over (parent_seq, link_idx) + the site's current
    max seq — the data-derived equivalent of the reference's sequential
    ``queue.append`` order (never ``monotonically_increasing_id``, which
    is task-timing dependent).

    ``distributed=False``: single Window rank per site — exact and fine
    for reference-parity batch sizes.

    ``distributed=True``: the 10^10-scale path — a two-phase rank
    (distributed zipWithIndex): range-partition on the order key, rank
    within partitions, offset by per-(partition, site) cumulative counts
    computed on ~n_parts tiny rows. Bit-identical output to the Window
    path (test-enforced), with no single-partition sort anywhere. It
    runs two small jobs here (bounds, counts) and the rank in the
    caller's action; each reads ``new_links`` once, so pass a
    materialized frame (the wave loop passes a local checkpoint).
    """
    if not distributed:
        w = Window.partitionBy("site_id").orderBy("parent_seq", "link_idx")
        return (
            new_links.join(F.broadcast(max_seq), "site_id", "left")
            .withColumn(
                "seq",
                F.row_number().over(w) + F.coalesce(F.col("_max_seq"), F.lit(0)),
            )
            .drop("_max_seq")
        )

    # Deterministic order-preserving buckets: split each site's
    # parent_seq value range into n equal intervals (no sampling — range
    # boundaries must be identical across the counts job and the rank
    # job, and across resume re-runs). parent_seq within a wave spans the
    # batch's seq range roughly uniformly, so the buckets stay balanced.
    # The per-site bounds are collected once (one row per site) rather
    # than kept as a lazy broadcast, which would re-evaluate the input
    # inside every later job that reads ``ranged``.
    spark = new_links.sparkSession
    bounds = new_links.groupBy("site_id").agg(
        F.min("parent_seq").alias("_lo"), F.max("parent_seq").alias("_hi")
    )
    bounds_df = F.broadcast(spark.createDataFrame(bounds.collect(), bounds.schema))
    ranged = (
        new_links.join(bounds_df, "site_id", "left")
        .withColumn(
            "_pid",
            F.least(
                F.lit(n_parts - 1),
                F.floor(
                    (F.col("parent_seq") - F.col("_lo"))
                    * n_parts
                    / (F.col("_hi") - F.col("_lo") + 1)
                ),
            ).cast("int"),
        )
        .drop("_lo", "_hi")
        .repartition(n_parts, F.col("_pid"))
    )
    # per-(bucket, site) counts → driver-side cumulative offsets. The
    # ≤ n_parts × sites rows are sorted here: an orderBy would add a
    # range-sampling job that evaluates the input once more.
    counts = sorted(
        ranged.groupBy("_pid", "site_id").count().collect(), key=lambda r: r["_pid"]
    )
    offsets: dict[tuple[int, str], int] = {}
    running: dict[str, int] = {}
    for r in counts:
        site = r["site_id"]
        offsets[(r["_pid"], site)] = running.get(site, 0)
        running[site] = running.get(site, 0) + r["count"]
    off_df = F.broadcast(
        spark.createDataFrame(
            [(pid, site, off) for (pid, site), off in offsets.items()],
            "_pid int, site_id string, _off long",
        )
    )
    local_w = Window.partitionBy("_pid", "site_id").orderBy("parent_seq", "link_idx")
    out = (
        ranged.withColumn("_lrn", F.row_number().over(local_w))
        .join(off_df, ["_pid", "site_id"], "left")
        .join(F.broadcast(max_seq), "site_id", "left")
        .withColumn(
            "seq",
            F.col("_lrn")
            + F.coalesce(F.col("_off"), F.lit(0))
            + F.coalesce(F.col("_max_seq"), F.lit(0)),
        )
        .drop("_pid", "_lrn", "_off", "_max_seq")
    )
    return out
