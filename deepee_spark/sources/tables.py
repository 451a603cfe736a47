"""Stage catalog — Iceberg-style checkpointed stage tables on plain parquet.

Production target is an Iceberg catalog (atomic snapshot commits, schema
evolution, `days(warc_ts)`/`bucket(url)` partition transforms). The
sandbox has no Iceberg runtime jar, so this module emulates the part of
the contract the pipeline relies on (SURVEY.md §7 risk "Iceberg
availability"):

  * atomic publish: write to ``<table>/.tmp-<token>`` then rename to
    ``<table>/snapshot=<n>`` (POSIX rename on one FS = atomic enough for
    the sandbox; Iceberg commit in production)
  * snapshot metadata: ``_meta.json`` records run_id, stage name, input
    fingerprint, row count, wall seconds
  * resume: ``is_current(name, fingerprint)`` — a stage whose latest
    snapshot matches the input fingerprint is NOT recomputed (the
    reference's materialized-intermediate pattern, QAEE
    script_args_qa.sh test_file=trigger_predictions.json, generalized)
  * lineage columns: every stage write stamps ``_run_id``, ``_stage``,
    ``_part_id`` (spark_partition_id at write time)

Reads go through ``spark.read.parquet`` so Catalyst still gets pushdown +
pruning on the stage tables.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

META = "_meta.json"



# Join-key columns that get parquet bloom filters when present: the
# rewrite/anti-join/point-lookup paths (rewrite_stale_canonicals,
# frontier admission, mh_bands probes) filter on these, and a row-group
# bloom filter lets the scan skip groups without reading the column —
# the Iceberg/parquet file-layout lever for 10^12-row tables. Advisory:
# readers that ignore bloom filters are unaffected.
_BLOOM_COLS = ("url", "subj", "obj", "entity_id", "band_key")


def _with_bloom_filters(writer, columns):
    tagged = False
    for c in _BLOOM_COLS:
        if c in columns:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
            tagged = True
    if tagged:
        # cap the per-chunk filter at 128 KiB (parquet-mr defaults to
        # 1 MiB = 1M-NDV sizing; snapshot tables here are partitioned
        # by day/url-hash so per-file NDV is far below that)
        writer = writer.option("parquet.bloom.filter.max.bytes", str(128 * 1024))
    return writer


class StageCatalog:
    def __init__(self, root: str, run_id: str | None = None):
        self.root = root
        self.run_id = run_id or uuid.uuid4().hex[:12]
        os.makedirs(root, exist_ok=True)
        # published snapshots are immutable, so their _meta.json reads
        # memoize safely; a long-lived stream's per-epoch idempotence
        # check then costs one meta read per NEW snapshot instead of
        # re-opening every retained snapshot's meta each micro-batch
        self._meta_cache: dict[tuple[str, str], dict] = {}

    def _table_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _snapshots(self, name: str) -> list[str]:
        d = self._table_dir(name)
        if not os.path.isdir(d):
            return []
        snaps = [s for s in os.listdir(d) if s.startswith("snapshot=")]
        return sorted(snaps, key=lambda s: int(s.split("=")[1]))

    def _meta_at(self, name: str, snap_dir: str) -> dict | None:
        hit = self._meta_cache.get((name, snap_dir))
        if hit is not None:
            return hit
        p = os.path.join(self._table_dir(name), snap_dir, META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            meta = json.load(f)
        self._meta_cache[(name, snap_dir)] = meta
        return meta

    def latest_meta(self, name: str) -> dict | None:
        snaps = self._snapshots(name)
        if not snaps:
            return None
        return self._meta_at(name, snaps[-1])

    def history(self, name: str) -> list[dict]:
        """Commit history — the Iceberg ``table.history()``/``snapshots``
        metadata-table analogue: the _meta.json of every RETAINED
        snapshot, oldest first. Each entry carries run_id, fingerprint,
        row/partition counters, wall seconds, and commit time, so an
        operator can answer "which run produced snapshot 3 and how many
        rows did it commit" without touching data files."""
        return [
            m
            for s in self._snapshots(name)
            if (m := self._meta_at(name, s)) is not None
        ]

    def is_current(self, name: str, fingerprint: str) -> bool:
        meta = self.latest_meta(name)
        return bool(meta) and meta.get("fingerprint") == fingerprint

    def was_committed(self, name: str, fingerprint: str) -> bool:
        """True when ANY retained snapshot of ``name`` carries this
        fingerprint — the replay-idempotence check for merge/append
        sinks. ``is_current`` inspects only the LATEST snapshot, so it
        misses a crawl drop replayed after any later commit to the same
        table (the orchestrator re-run would re-apply a non-idempotent
        merge/append and double its rows). Scans newest-first — replays
        overwhelmingly concern recent commits — over memoized meta
        reads. The fingerprint lands in the snapshot's meta before the
        atomic publish rename, so a crash leaves either no snapshot
        (replay re-applies) or a fingerprinted one (replay skips).
        Caveat shared with every marker scheme: expire_snapshots
        erases old fingerprints, so retention must outlast the replay
        horizon."""
        for s in reversed(self._snapshots(name)):
            m = self._meta_at(name, s)
            if m is not None and m.get("fingerprint") == fingerprint:
                return True
        return False

    def stage(
        self,
        spark: SparkSession,
        name: str,
        fingerprint: str,
        build,
        resume: bool = True,
        partition_by: list[str] | None = None,
    ) -> tuple[DataFrame, bool, float]:
        """The one resume-or-build-and-commit contract every durable
        DAG stage follows (Pipeline._stage, curation's funnel): skip
        the build when the latest snapshot is current for this
        fingerprint, else call ``build()`` and commit the result.
        Returns (read-back DataFrame, ran, wall_sec) so callers keep
        their own ran/skipped bookkeeping without re-implementing the
        currency check."""
        if resume and self.is_current(name, fingerprint):
            return self.read(spark, name), False, 0.0
        t0 = time.time()
        self.write(build(), name, fingerprint, partition_by)
        return self.read(spark, name), True, round(time.time() - t0, 3)

    def write(
        self,
        df: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Stamp lineage columns, write a new snapshot, publish atomically.

        Counter metrics ride the write action itself via the Observation
        API (no second scan): row count + written-partition count land in
        the snapshot's _meta.json and are appended to
        <root>/pipeline_runs.jsonl — the `pipeline_runs` metrics table of
        SURVEY.md §7.11 (resume checks read them; ops dashboards would).
        """
        t0 = time.time()
        tmp, counters, schema = self._write_staged(
            df, name, f"stage:{name}", partition_by,
            F.approx_count_distinct("_part_id").alias("partitions"),
        )
        meta = {
            "run_id": self.run_id,
            "stage": name,
            "fingerprint": fingerprint,
            "snapshot": self._next_snapshot(name),
            "rows": int(counters.get("rows", -1)),
            "partitions": int(counters.get("partitions", -1)),
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.time(),
            # schema travels with the snapshot: an EMPTY partitioned write
            # produces no data files and parquet inference would fail
            "schema": schema,
            # the partition spec too, so table-maintenance ops
            # (compact/append) preserve the layout without being told
            "partition_by": list(partition_by or []),
        }
        return self._publish(name, tmp, meta)

    def _next_snapshot(self, name: str) -> int:
        snaps = self._snapshots(name)
        return int(snaps[-1].split("=")[1]) + 1 if snaps else 0

    def _write_staged(self, df, name, obs_name, partition_by, *metrics):
        """Stamp lineage columns and write ``df`` into a fresh staging
        dir of table ``name``, counting rows (plus ``metrics``) on the
        write itself. -> (staging dir, observed counters, schema json)."""
        from pyspark.sql import Observation

        obs = Observation(obs_name)
        stamped = (
            df.withColumn("_run_id", F.lit(self.run_id))
            .withColumn("_stage", F.lit(name))
            .withColumn("_part_id", F.spark_partition_id())
            .observe(obs, F.count(F.lit(1)).alias("rows"), *metrics)
        )
        tdir = self._table_dir(name)
        os.makedirs(tdir, exist_ok=True)
        tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex[:8]}")
        writer = _with_bloom_filters(
            stamped.write.mode("overwrite"), df.columns
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        return tmp, dict(obs.get), stamped.schema.json()

    def _publish(self, name: str, tmp: str, meta: dict) -> dict:
        """Commit a staged tree: its _meta.json, the atomic rename to
        snapshot=<meta["snapshot"]>, then one pipeline_runs.jsonl row."""
        with open(os.path.join(tmp, META), "w") as f:
            json.dump(meta, f)
        os.rename(
            tmp,
            os.path.join(self._table_dir(name), f"snapshot={meta['snapshot']}"),
        )
        with open(os.path.join(self.root, "pipeline_runs.jsonl"), "a") as f:
            f.write(json.dumps(meta) + "\n")
        return meta

    def read(
        self, spark: SparkSession, name: str, snapshot: int | None = None
    ) -> DataFrame:
        """Read the latest snapshot, or — time travel, the Iceberg
        ``VERSION AS OF`` analogue — a specific retained ``snapshot``
        number (raises if it was expired)."""
        snaps = self._snapshots(name)
        if not snaps:
            raise FileNotFoundError(f"no snapshot for stage table {name!r}")
        if snapshot is None:
            pick = snaps[-1]
        else:
            pick = f"snapshot={int(snapshot)}"
            if pick not in snaps:
                raise FileNotFoundError(
                    f"stage table {name!r} has no snapshot {snapshot} "
                    f"(retained: {[int(s.split('=')[1]) for s in snaps]})"
                )
        path = os.path.join(self._table_dir(name), pick)
        # Every snapshot carries its schema in _meta.json; supplying it to
        # the reader skips the footer-sampling inference job Spark would
        # otherwise run per read — one fewer driver round-trip per stage
        # (the corpus-size-constant latency BENCH/BASELINE.md §3 measures)
        # — and it is what makes EMPTY partitioned snapshots readable at
        # all (no data files -> nothing to infer from).
        meta = self._meta_at(name, pick) or {}
        if "schema" in meta:
            from pyspark.sql import types as T

            schema = T.StructType.fromJson(json.loads(meta["schema"]))
            return spark.read.schema(schema).parquet(path)
        return spark.read.parquet(path)

    def merge_accumulate(
        self,
        spark: SparkSession,
        delta: DataFrame,
        name: str,
        keys: list[str],
        counters: list[str],
        fingerprint: str,
    ) -> DataFrame:
        """A9 multi-round counter accumulation — Iceberg `MERGE INTO`
        emulated as snapshot N+1 = (snapshot N ∪ delta) re-aggregated by
        key with the counter columns SUMMED (the reference's
        correct-count accumulation across eval rounds, DMCNN
        test_trigger.py counters, made a table operation).

        union + groupBy-sum rather than a full-outer join: additive
        counters shuffle once on the key and get map-side partial
        aggregation — the shape that survives a billion-key table.

        A merge is NOT idempotent (replaying the same delta doubles
        the counters), so a fingerprint already present anywhere in
        the table's history short-circuits to the current snapshot —
        the same guard the streaming sinks apply per epoch
        (was_committed)."""
        return self._merge(
            spark, delta, name, keys, counters,
            lambda c: F.sum(c).cast("long"), fingerprint,
        )

    def merge_bitmap(
        self,
        spark: SparkSession,
        delta: DataFrame,
        name: str,
        fingerprint: str,
    ) -> DataFrame:
        """bit_or-merge a (word_idx, word) Bloom bitmap delta into
        table `name` — merge_accumulate's contract with OR instead of
        SUM (set-bit union is the bitmap's additive operation;
        operators/bloom.py). Same one-shuffle shape: union + keyed
        groupBy with map-side partials. bit_or IS idempotent, but the
        replay guard still applies so a replayed epoch skips the merge
        job and, more importantly, so frontier_gate can locate the
        pre-merge snapshot by fingerprint for replay-deterministic
        probing."""
        return self._merge(
            spark, delta, name, ["word_idx"], ["word"], F.bit_or, fingerprint
        )

    def _merge(self, spark, delta, name, keys, values, agg, fingerprint):
        """Snapshot N+1 = (snapshot N ∪ delta) grouped by ``keys`` with
        ``agg`` over each ``values`` column; a fingerprint already in
        the table's history returns the current snapshot unchanged."""
        if self.was_committed(name, fingerprint):
            return self.read(spark, name)
        try:
            cur = self.read(spark, name).select(*keys, *values)
        except FileNotFoundError:
            cur = None
        d = delta.select(*keys, *values)
        merged = cur.unionByName(d) if cur is not None else d
        merged = merged.groupBy(*keys).agg(*[agg(c).alias(c) for c in values])
        self.write(merged, name, fingerprint)
        return self.read(spark, name)

    def compact(self, spark: SparkSession, name: str,
                target_rows_per_file: int = 1_000_000,
                sort_by: list[str] | None = None) -> dict:
        """Small-file compaction — the Iceberg `rewrite_data_files`
        analogue. A stage written at high parallelism leaves one parquet
        file per task; a 10^12-row table accumulated over many runs
        drowns the scan planner in file listings long before it runs
        out of bytes. Compaction rewrites the LATEST snapshot as a new
        snapshot with ceil(rows / target_rows_per_file) files, keeping
        the fingerprint — so `is_current` still holds and resume
        semantics are unchanged; readers atomically switch to the
        compacted snapshot like any other commit.

        Row counts ride the snapshot metadata, so sizing needs no extra
        count job.

        ``sort_by`` additionally sorts rows WITHIN each rewritten file
        (the Iceberg sort-order rewrite): parquet row-group min/max
        stats on the sort columns then prune point/range scans inside
        files, not just across partitions — repartitionByRange buckets
        the key space across files, sortWithinPartitions orders inside.
        """
        meta = self.latest_meta(name)
        if meta is None:
            raise FileNotFoundError(f"no snapshot for stage table {name!r}")
        rows = max(int(meta.get("rows", 0)), 0)
        n_files = max(1, -(-rows // max(target_rows_per_file, 1)))
        part_cols = list(meta.get("partition_by") or [])
        df = self.read(spark, name).drop("_run_id", "_stage", "_part_id")
        if sort_by:
            # partition columns lead the sort so the partitioned writer
            # does not re-sort (operators/shuffle.py docstring), then the
            # requested order gives in-file min/max runs
            keys = part_cols + [c for c in sort_by if c not in part_cols]
            df = df.repartitionByRange(n_files, *keys)
            df = df.sortWithinPartitions(*keys)
        else:
            df = df.coalesce(n_files)
        return self.write(
            df, name, meta["fingerprint"], partition_by=part_cols or None
        )

    def _link_tree(self, a: str, b: str) -> None:
        """Hardlink a snapshot's data files into another tree (copy on
        cross-device); partition subdirs are merged, _meta.json skipped."""
        os.makedirs(b, exist_ok=True)
        for entry in os.listdir(a):
            if entry == META:
                continue
            pa, pb = os.path.join(a, entry), os.path.join(b, entry)
            if os.path.isdir(pa):
                self._link_tree(pa, pb)
            else:
                try:
                    os.link(pa, pb)
                except OSError:
                    shutil.copy2(pa, pb)

    def append(
        self,
        delta: DataFrame,
        name: str,
        fingerprint: str,
        partition_by: list[str] | None = None,
    ) -> dict:
        """Fast append — the Iceberg append-snapshot analogue: the new
        snapshot references the PREVIOUS snapshot's data files (hardlinks
        — no rewrite, like Iceberg's manifest reuse) plus the delta's
        freshly written files. This is how a daily crawl drop lands on a
        10^12-row triples table: the day's partitions are written, the
        rest of the table is metadata. Spark part-file names carry task
        UUIDs, so merged partition directories never collide.

        First append on an empty table degenerates to write(). When
        ``partition_by`` is omitted, the table's recorded spec applies."""
        snaps = self._snapshots(name)
        if not snaps:
            return self.write(delta, name, fingerprint, partition_by)
        prev_dir = os.path.join(self._table_dir(name), snaps[-1])
        prev_meta = self.latest_meta(name) or {}
        if partition_by is None:
            partition_by = list(prev_meta.get("partition_by") or []) or None

        t0 = time.time()
        tmp, counters, schema = self._write_staged(
            delta, name, f"append:{name}", partition_by
        )
        delta_rows = int(counters.get("rows", 0))
        self._link_tree(prev_dir, tmp)

        meta = {
            "run_id": self.run_id,
            "stage": name,
            "fingerprint": fingerprint,
            "snapshot": self._next_snapshot(name),
            "rows": max(int(prev_meta.get("rows", 0)), 0) + delta_rows,
            "appended_rows": delta_rows,
            "append_of": int(snaps[-1].split("=")[1]),
            "partitions": -1,
            "wall_sec": round(time.time() - t0, 3),
            "committed_at": time.time(),
            "schema": schema,
            "partition_by": list(partition_by or []),
        }
        return self._publish(name, tmp, meta)

    def vacuum(
        self, name: str | None = None, grace_sec: float = 3600.0
    ) -> list[str]:
        """Orphan cleanup — the Iceberg `remove_orphan_files` analogue:
        delete `.tmp-*` staging trees left behind by crashed writes
        (a write that died between parquet output and the atomic rename).
        Published snapshots are never touched. ``grace_sec`` spares trees
        younger than the window (a concurrently-running write's staging
        dir looks identical to an orphan — so the default grace must be
        longer than any plausible in-flight write, not 0; a maintenance
        job that KNOWS no writer is live may pass 0 explicitly)."""
        names = [name] if name else [
            d for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d))
        ]
        removed = []
        now = time.time()
        for nm in names:
            tdir = self._table_dir(nm)
            if not os.path.isdir(tdir):
                continue
            for entry in os.listdir(tdir):
                p = os.path.join(tdir, entry)
                if (
                    entry.startswith(".tmp-")
                    and os.path.isdir(p)
                    and now - os.path.getmtime(p) >= grace_sec
                ):
                    shutil.rmtree(p)
                    removed.append(os.path.join(nm, entry))
        return removed

    def rollback(self, name: str, snapshot: int) -> dict:
        """Rollback — the Iceberg ``rollback_to_snapshot`` analogue: make
        a retained older snapshot current again by RE-PUBLISHING it as a
        new snapshot (history is append-only; readers resolving "latest"
        atomically switch, and the bad snapshot stays in history for
        forensics until expired). Metadata-cheap: data files are
        hardlinked, not copied — like Iceberg's pointer flip, no table
        rewrite. The fingerprint carries over, so resume treats the
        rolled-back state as current."""
        src_dir = f"snapshot={int(snapshot)}"
        src_meta = self._meta_at(name, src_dir)
        if src_dir not in self._snapshots(name) or src_meta is None:
            raise FileNotFoundError(
                f"stage table {name!r} has no snapshot {snapshot}"
            )
        tdir = self._table_dir(name)
        tmp = os.path.join(tdir, f".tmp-{uuid.uuid4().hex[:8]}")
        self._link_tree(os.path.join(tdir, src_dir), tmp)
        meta = dict(src_meta)
        meta.update(
            snapshot=self._next_snapshot(name),
            rollback_of=int(snapshot),
            run_id=self.run_id,
            committed_at=time.time(),
        )
        return self._publish(name, tmp, meta)

    def expire_snapshots(self, name: str, keep_last: int = 2) -> list[int]:
        """Retention — the Iceberg `expire_snapshots` analogue: drop all
        but the newest ``keep_last`` snapshots of a table. Old snapshots
        exist for time-travel/debug and as commit history; every
        version of a 10^12-row table kept forever is a storage leak.
        The latest snapshot is never touched, so readers (which always
        resolve latest) and resume are unaffected. Returns the expired
        snapshot numbers."""
        snaps = self._snapshots(name)
        expired = []
        for s in snaps[:-keep_last] if keep_last > 0 else snaps[:-1]:
            shutil.rmtree(os.path.join(self._table_dir(name), s))
            expired.append(int(s.split("=")[1]))
        return expired

    def drop(self, name: str) -> None:
        d = self._table_dir(name)
        if os.path.isdir(d):
            shutil.rmtree(d)
