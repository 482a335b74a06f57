"""Versioned table storage with atomic per-wave commits.

The production design is Iceberg: every engine table is an Iceberg table
partitioned by ``bucket(N, url_hash)`` (frontier/seen/ledger) or ``wave``
(crawled/packets/metrics), one atomic transaction set per wave, resume =
read the last committed snapshot set. This sandbox ships no Iceberg jars
and no network (SURVEY §7), so this module provides the same
commit/snapshot/MERGE semantics over parquet + a JSON manifest.

Four table modes, chosen so that **per-wave write cost is proportional
to the wave's delta, never to accumulated crawl state** (the 100×-scale
requirement — a full-snapshot rewrite of a 10^10-row seen set per wave
would rewrite TBs to add a delta):

* ``REPLACE`` — genuinely-small whole tables (kb, site_stats): immutable
  ``v{wave}`` snapshot dirs, last one wins.
* ``APPEND`` — delta logs (crawled, packets, metrics — and the
  *frontier*, which is a plain-append merge-on-read log: rows transition
  exactly once pending→terminal, each wave appends terminal versions of
  consumed rows plus new pending rows, and reads resolve
  pending-minus-terminal-keys; see wave.py for why bucketing the
  frontier deltas would buy nothing): immutable ``d{wave}`` delta dirs,
  read = union.
* ``BUCKET_APPEND`` — append-only / merge-on-read keyed state (*seen*:
  append-only by construction; *ledger*: MOR version log, latest wave
  per key wins on read): each wave's delta is written hash-partitioned
  into ``d{wave}/_b={k}`` subdirs by ``pmod(url_hash, B)``; read = union
  of all committed deltas, ``read_buckets`` prunes to the buckets a join
  actually probes. The checkpoint records each delta's bucket→leaf map
  at commit time, so reads are manifest-driven — zero filesystem LIST
  calls per read, which is what makes the MOR log viable on object
  storage where listing thousands of delta dirs per wave would dominate.
  This is the parquet stand-in for appending to an Iceberg table with a
  ``bucket(B, url_hash)`` partition transform (manifests included).
* ``BUCKET_REPLACE`` — mutable keyed state whose values are fixed-size
  per bucket (*seen_filters*: one Bloom blob per bucket): the checkpoint
  maps each bucket to its current version dir; an upsert stages new
  contents for only the *touched* buckets and the commit repoints just
  those map entries (Iceberg's copy-on-write MERGE at partition
  granularity). Untouched buckets are neither read nor rewritten.
  Random-hash keyed ROW state must NOT use this mode — an upsert of
  random keys touches ~every bucket and rewrites O(table) bytes; the
  MOR append logs above are the O(delta) design.

Commit protocol: a checkpoint file ``{root}/_checkpoint.json`` maps the
committed wave to the exact snapshot/delta/bucket set, written via
write-temp + atomic ``os.replace`` — a crash mid-wave leaves the
previous checkpoint intact, so resume-from-checkpoint is exact
(north-rule requirement). Reading always goes through the checkpoint, so
a half-written wave is invisible (snapshot isolation per wave). After a
successful commit, bucket/snapshot dirs no longer referenced by the new
checkpoint are vacuumed (disable with ``SPARK_GRAFT_KEEP_VERSIONS=1``).

Writing also serves as per-wave lineage truncation: each wave's outputs
are materialized and read back, so the iterative driver loop never grows
an unbounded logical plan.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

REPLACE = "replace"              # small whole tables: kb, site_stats
APPEND = "append"                # delta logs: crawled, packets, metrics
BUCKET_APPEND = "bucket_append"  # append-only keyed state: seen
BUCKET_REPLACE = "bucket_replace"  # fixed-size-per-bucket state: seen_filters


@dataclass
class _Spec:
    mode: str
    n_buckets: int | None = None
    bucket_key: str = "url_hash"   # column the bucket id derives from
    key_is_bucket: bool = False    # True: bucket_key already IS the bucket id


@dataclass
class TableCatalog:
    spark: SparkSession
    root: str
    tables: dict[str, _Spec] = field(default_factory=dict)
    _pending: dict[str, dict] = field(default_factory=dict)
    _state: dict = field(default_factory=dict)

    def __post_init__(self):
        os.makedirs(self.root, exist_ok=True)
        self._state = self._load_checkpoint()
        self._lock = threading.Lock()
        self._pending_meta: dict = {}

    # -- checkpoint ----------------------------------------------------

    def _ckpt_path(self) -> str:
        return os.path.join(self.root, "_checkpoint.json")

    def _load_checkpoint(self) -> dict:
        p = self._ckpt_path()
        if os.path.exists(p):
            with open(p) as f:
                st = json.load(f)
            st.setdefault("buckets", {})
            st.setdefault("delta_buckets", {})
            return st
        return {
            "wave": -1,
            "snapshots": {},
            "deltas": {},
            "buckets": {},
            # BUCKET_APPEND manifest: {table: {delta_rel: {bucket: leaf_rel}}}
            # — the bucket→file map is recorded once at commit time, so
            # reads never LIST the filesystem (Iceberg-manifest behavior;
            # on object storage per-read listing is the scaling hazard).
            "delta_buckets": {},
            "committed_at": None,
        }

    @property
    def committed_wave(self) -> int:
        return self._state["wave"]

    def register(
        self,
        name: str,
        mode: str,
        n_buckets: int | None = None,
        bucket_key: str = "url_hash",
        key_is_bucket: bool = False,
    ) -> None:
        assert mode in (REPLACE, APPEND, BUCKET_APPEND, BUCKET_REPLACE)
        if mode in (BUCKET_APPEND, BUCKET_REPLACE) and not key_is_bucket:
            assert n_buckets, f"{name}: bucketed mode needs n_buckets"
        self.tables[name] = _Spec(mode, n_buckets, bucket_key, key_is_bucket)

    # -- staging -------------------------------------------------------

    def _bucket_expr(self, spec: _Spec):
        col = F.col(spec.bucket_key)
        if spec.key_is_bucket:
            return col.cast("int")
        return F.pmod(col, F.lit(spec.n_buckets)).cast("int")

    def _write(self, df: DataFrame, spec: _Spec, rel: str) -> None:
        """Write ``df`` as version dir ``rel`` (replacing a stale leftover
        of a crashed wave or compaction). Bucketed modes shuffle once on
        the bucket id so each bucket's rows land in one task → one file
        per touched bucket dir (the Iceberg bucket-transform layout); the
        partition column is a *copy* (``_b``) so the data files keep the
        original key columns."""
        path = os.path.join(self.root, rel)
        if os.path.exists(path):
            shutil.rmtree(path)
        if spec.mode in (BUCKET_APPEND, BUCKET_REPLACE):
            out = df.withColumn("_b", self._bucket_expr(spec))
            out.repartition(F.col("_b")).write.partitionBy("_b").mode(
                "overwrite"
            ).parquet(path)
        else:
            df.write.mode("overwrite").parquet(path)

    def stage(
        self, name: str, df: DataFrame, wave: int, touched: list[int] | None = None
    ) -> None:
        """Write a table's new snapshot/delta for ``wave`` (not yet visible).

        ``touched`` (BUCKET_REPLACE only): the bucket ids whose contents
        ``df`` fully replaces; ``None`` means a full rewrite (bootstrap).
        """
        spec = self.tables[name]
        prefix = "d" if spec.mode in (APPEND, BUCKET_APPEND) else (
            "u" if spec.mode == BUCKET_REPLACE else "v"
        )
        rel = f"{name}/{prefix}{wave}"
        self._write(df, spec, rel)
        with self._lock:
            self._pending[name] = {"rel": rel, "touched": touched}

    def _leaf_buckets(self, rel: str) -> dict[int, str]:
        """bucket id -> leaf rel-path for a bucketed dir (fs discovery)."""
        path = os.path.join(self.root, rel)
        out: dict[int, str] = {}
        if os.path.isdir(path):
            for d in os.listdir(path):
                if d.startswith("_b="):
                    out[int(d.split("=", 1)[1])] = f"{rel}/{d}"
        return out

    def _leaf_manifest(self, rel: str) -> dict[str, str]:
        """A BUCKET_APPEND delta's bucket→leaf map as the checkpoint
        records it (one LIST at write time, zero LISTs on every later
        read)."""
        return {str(k): leaf for k, leaf in self._leaf_buckets(rel).items()}

    def _delta_leaf_map(self, name: str, drel: str) -> dict[int, str]:
        """bucket id → leaf rel-path for a BUCKET_APPEND delta, from the
        checkpoint manifest (recorded at commit); FS discovery only for
        deltas committed by a pre-manifest checkpoint."""
        m = self._state.get("delta_buckets", {}).get(name, {}).get(drel)
        if m is not None:
            return {int(k): leaf for k, leaf in m.items()}
        return self._leaf_buckets(drel)

    def commit(self, wave: int) -> None:
        """Atomically publish every staged table as wave ``wave``."""
        # Snapshot-and-clear the staged meta under the same lock set_meta
        # writes under: a set_meta racing this commit either lands in this
        # snapshot (published now) or stays in _pending_meta for the next
        # commit — it can never be wiped unpublished by the post-commit
        # reset.
        with self._lock:
            pending_meta, self._pending_meta = self._pending_meta, {}
        new_state = json.loads(json.dumps(self._state))
        for name, p in self._pending.items():
            mode = self.tables[name].mode
            if mode == REPLACE:
                new_state["snapshots"][name] = p["rel"]
            elif mode in (APPEND, BUCKET_APPEND):
                new_state["deltas"].setdefault(name, []).append(p["rel"])
                if mode == BUCKET_APPEND:
                    manifest = new_state["delta_buckets"].setdefault(name, {})
                    manifest[p["rel"]] = self._leaf_manifest(p["rel"])
            else:  # BUCKET_REPLACE: repoint only the touched bucket entries
                found = self._leaf_buckets(p["rel"])
                bmap = new_state["buckets"].setdefault(name, {})
                touched = p["touched"]
                if touched is None:
                    new_state["buckets"][name] = {
                        str(k): leaf for k, leaf in found.items()
                    }
                else:
                    for k in touched:
                        if k in found:
                            bmap[str(k)] = found[k]
                        else:
                            bmap.pop(str(k), None)  # bucket emptied
        new_state["wave"] = wave
        new_state["committed_at"] = time.time()
        if pending_meta:
            new_state.setdefault("meta", {}).update(pending_meta)
        self._write_checkpoint(new_state)  # the atomic commit point
        self._pending = {}
        if os.environ.get("SPARK_GRAFT_KEEP_VERSIONS", "0") == "0":
            self._vacuum()

    def _write_checkpoint(self, new_state: dict) -> None:
        """Publish ``new_state`` via write-temp + atomic ``os.replace`` —
        the single copy of the commit protocol (commit/compact/
        compact_split all publish through here)."""
        tmp = self._ckpt_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(new_state, f, indent=1)
        os.replace(tmp, self._ckpt_path())
        self._state = new_state

    def _vacuum_deltas(self, name: str) -> None:
        """Delete an append table's d*/c* dirs that the committed
        checkpoint no longer references (post-compaction cleanup; also
        reclaims dirs orphaned by a crash between a compaction write and
        its checkpoint publish)."""
        if os.environ.get("SPARK_GRAFT_KEEP_VERSIONS", "0") != "0":
            return
        keep = set(self._state["deltas"].get(name, []))
        tdir = os.path.join(self.root, name)
        if not os.path.isdir(tdir):
            return
        for d in os.listdir(tdir):
            if (d.startswith("d") or d.startswith("c")) and f"{name}/{d}" not in keep:
                shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)

    def set_meta(self, key: str, value) -> None:
        """Stage a catalog-level metadata entry (published atomically
        with the next commit)."""
        with self._lock:
            self._pending_meta[key] = value

    def get_meta(self, key: str, default=None):
        return self._state.get("meta", {}).get(key, default)

    def _vacuum(self) -> None:
        """Delete version dirs the committed checkpoint no longer references.

        Only REPLACE snapshots and BUCKET_REPLACE bucket leaves are ever
        dereferenced; append deltas stay referenced forever. Safe because
        every stage job of the wave has finished (stage() is synchronous)
        and readers always resolve paths through the fresh checkpoint.
        """
        for name, spec in self.tables.items():
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            if spec.mode == REPLACE:
                keep = self._state["snapshots"].get(name)
                for d in os.listdir(tdir):
                    rel = f"{name}/{d}"
                    if d.startswith("v") and rel != keep:
                        shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            elif spec.mode == BUCKET_REPLACE:
                keep_leaves = set(self._state["buckets"].get(name, {}).values())
                for d in os.listdir(tdir):
                    if not d.startswith("u"):
                        continue
                    udir = os.path.join(tdir, d)
                    for leaf in os.listdir(udir):
                        rel = f"{name}/{d}/{leaf}"
                        if leaf.startswith("_b=") and rel not in keep_leaves:
                            shutil.rmtree(
                                os.path.join(udir, leaf), ignore_errors=True
                            )
                    if not any(e.startswith("_b=") for e in os.listdir(udir)):
                        shutil.rmtree(udir, ignore_errors=True)

    # -- reads ---------------------------------------------------------

    def _paths(self, name: str) -> list[str]:
        spec = self.tables[name]
        if spec.mode == REPLACE:
            rel = self._state["snapshots"].get(name)
            rels = [rel] if rel else []
        elif spec.mode == APPEND:
            rels = self._state["deltas"].get(name, [])
        elif spec.mode == BUCKET_APPEND:
            rels = [
                leaf
                for drel in self._state["deltas"].get(name, [])
                for leaf in sorted(self._delta_leaf_map(name, drel).values())
            ]
        else:  # BUCKET_REPLACE
            rels = sorted(set(self._state["buckets"].get(name, {}).values()))
        return [os.path.join(self.root, r) for r in rels]

    def _read_paths(self, paths: list[str], schema: StructType | None) -> DataFrame:
        # Supplying the registered schema skips parquet footer-based
        # schema inference — one less read-side job per wave, and the
        # engine's table schemas are authoritative anyway (staged writes
        # are projected to them).
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def read(self, name: str, schema: StructType | None = None) -> DataFrame:
        """Read the committed state of a table (empty DF if never written)."""
        paths = self._paths(name)
        if not paths:
            assert schema is not None, f"no committed data and no schema for {name}"
            return self.spark.createDataFrame([], schema)
        return self._read_paths(paths, schema)

    def read_buckets(
        self, name: str, buckets: list[int], schema: StructType | None = None
    ) -> DataFrame:
        """Read only the given buckets of a bucketed table — the partition
        pruning an Iceberg bucket-transform scan would do, so per-wave
        reads of keyed state touch only the buckets the wave probes."""
        spec = self.tables[name]
        want = set(buckets)
        if spec.mode == BUCKET_APPEND:
            rels = [
                leaf
                for drel in self._state["deltas"].get(name, [])
                for k, leaf in sorted(self._delta_leaf_map(name, drel).items())
                if k in want
            ]
        elif spec.mode == BUCKET_REPLACE:
            bmap = self._state["buckets"].get(name, {})
            rels = [bmap[str(k)] for k in sorted(want) if str(k) in bmap]
        else:
            raise ValueError(f"{name} is not a bucketed table")
        if not rels:
            assert schema is not None, f"no committed buckets and no schema for {name}"
            return self.spark.createDataFrame([], schema)
        return self._read_paths([os.path.join(self.root, r) for r in rels], schema)

    # -- maintenance ---------------------------------------------------

    def compact(self, name: str, resolver=None) -> None:
        """Coalesce a BUCKET_APPEND table's delta dirs into one (the
        Iceberg compaction stand-in). Bounds file-listing cost after many
        waves; amortized when called every K waves. ``resolver`` (df →
        df) lets merge-on-read logs drop superseded row versions during
        compaction — afterwards the log IS the resolved state, so the
        read-side resolution becomes a no-op until new deltas land.
        Crash-safe: the consolidated dir is fully written before the
        checkpoint repoints to it (same write-temp + os.replace protocol
        as commit)."""
        spec = self.tables[name]
        assert spec.mode in (APPEND, BUCKET_APPEND), f"{name}: compact needs an append mode"
        rels = self._state["deltas"].get(name, [])
        if len(rels) <= 1:
            return
        df = self.read(name)
        if resolver is not None:
            df = resolver(df)
        rel = f"{name}/c{self._state['wave']}"
        self._write(df, spec, rel)
        new_state = json.loads(json.dumps(self._state))
        new_state["deltas"][name] = [rel]
        if spec.mode == BUCKET_APPEND:
            new_state["delta_buckets"][name] = {rel: self._leaf_manifest(rel)}
        self._write_checkpoint(new_state)
        self._vacuum_deltas(name)

    def compact_split(self, name: str, archive_name: str, resolver, hot_filter) -> None:
        """Compact a merge-on-read log ``name`` by ROUTING resolved rows:
        ``resolver(log_df)`` is the log's merge-on-read resolution (run
        ONCE, persisted across both output writes), rows matching
        ``hot_filter`` become the log's single consolidated delta, the
        rest are appended as a new delta of ``archive_name`` (a plain
        APPEND history table).

        This is the 100×-read-path fix for logs whose resolved state
        partitions into a small LIVE set and an ever-growing TERMINAL
        set (the frontier: rows transition pending→terminal exactly
        once). A plain resolved compaction keeps terminal rows in the
        hot log, so every wave's pending scan reads all-time history;
        routing terminal rows to the archive keeps the hot log
        proportional to the live frontier + the deltas since the last
        compaction, while the archive still serves full-history views.

        Crash-safe like commit: both consolidated dirs are fully
        written before one atomic checkpoint os.replace publishes them;
        a crash mid-compaction leaves stale c/dc dirs that the retry
        (same wave) rmtree's and the next compaction's delta vacuum
        (later wave) reclaims — for BOTH the hot and the archive table."""
        spec = self.tables[name]
        aspec = self.tables[archive_name]
        assert spec.mode in (APPEND, BUCKET_APPEND), f"{name}: compact needs an append mode"
        assert aspec.mode == APPEND, f"{archive_name}: archive must be APPEND"
        rels = self._state["deltas"].get(name)
        if not rels:
            return
        wave = self._state["wave"]
        hot_rel = f"{name}/c{wave}"
        if rels == [hot_rel]:
            # already compacted at this committed wave (crash-retry or a
            # double call): re-splitting would route nothing new, and the
            # rmtree below would delete the very dir the lazy `hot` plan
            # reads from
            return
        # Resolve ONCE and persist: hot and archive are two filters of
        # the same resolved plan, and their writes are two independent
        # actions — without the persist each write would re-scan every
        # log delta and re-run the resolution shuffles.
        resolved = resolver(self.read(name)).persist()
        try:
            hot = resolved.filter(hot_filter)
            # Complement includes NULL: SQL three-valued logic drops
            # predicate-NULL rows from BOTH filter(p) and filter(~p), which
            # would silently lose rows for any resolver/filter pair whose
            # routing column can be null (the frontier's `state` is
            # non-null today, but this is a generic API) — every resolved
            # row must land in exactly one output.
            archive = resolved.filter(~hot_filter | hot_filter.isNull())
            arch_rel = f"{archive_name}/dc{wave}"
            self._write(hot, spec, hot_rel)
            self._write(archive, aspec, arch_rel)
        finally:
            resolved.unpersist()
        new_state = json.loads(json.dumps(self._state))
        new_state["deltas"][name] = [hot_rel]
        if spec.mode == BUCKET_APPEND:
            new_state["delta_buckets"][name] = {hot_rel: self._leaf_manifest(hot_rel)}
        new_state["deltas"].setdefault(archive_name, []).append(arch_rel)
        self._write_checkpoint(new_state)
        self._vacuum_deltas(name)
        # also reclaim archive-side dc* dirs orphaned by a crash between
        # the archive write and the checkpoint publish of an EARLIER
        # compaction (the retry path only covers a same-wave rerun)
        self._vacuum_deltas(archive_name)

    def destroy(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
