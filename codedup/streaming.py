"""Streaming surface: incremental near-duplicate detection.

The reference is batch-with-resume (SURVEY §2.7) — its incremental unit
is one file (cache.py:122-126).  This module exposes the same
semantics over Structured Streaming: new file rows arrive on a stream,
each micro-batch is deduplicated BOTH against itself and against
everything seen before, and all state lives in tables of the row
shapes the batch stages produce (signatures, band rows, verified
pairs) — so a streaming job and a batch job are interchangeable views
of one incremental computation.

Shape: ``readStream`` (file source) → ``foreachBatch``: inside each
batch we reuse the exact batch-stage functions (fingerprint,
signatures, banding, the candidates stage's ``bucket_pairs`` policy,
verify) — no separate streaming implementations to drift out of sync.
``process_batch`` does not call ``pipeline.minhash_chain``: its reps
(history-aware exact collapse), candidates (touched buckets only) and
verify inputs (pruned to candidate ids) all differ from the batch
chain's.  It keeps the chain's rules: a checkpoint only on a table with
several readers (named at each), and ``band_rows`` keeps FAULT
signature rows (kept in ``signatures/``) out of the bands.  State:

    <work>/stream/config_fp     the DedupConfig fingerprint of the state
    <work>/stream/signatures/   all signatures seen (append-only)
    <work>/stream/bands/        all band rows seen (append-only)
    <work>/stream/pairs/        verified pairs (append-only)
    <work>/stream/contents/     (file_id, content, sha256) of signed reps
    <work>/stream/bucket_stats/ per-(band, band_hash) size/rep deltas

One config per state, as for the batch stages: a fresh root records its
fingerprint, and opening state recorded under another config, or state
with no record, raises ``ValueError`` (band hashes and signatures of
two configs must never mix).

New-batch candidates come from the INCREMENTAL band-bucket state: only
buckets touched by new files are processed, sized from the persisted
stats deltas (sum/min merge on read) — each arriving file is compared
against the history members of its own buckets, never all-pairs and
never a full-history rescan (see _incremental_candidates).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from codedup.config import DedupConfig
from codedup.stages.banding import band_rows
from codedup.stages.candidates import bucket_pairs, star_regime
from codedup.stages.exact import representatives
from codedup.stages.fingerprint import fingerprint
from codedup.stages.ingest import FILES_SCHEMA
from codedup.stages.signatures import compute_signatures
from codedup.stages.verify import VERIFIED_SCHEMA, verify_pairs


class IncrementalDedup:
    """foreachBatch processor with exactly-once state tables.

    foreachBatch is AT-LEAST-once: a crash between state writes and the
    checkpoint commit re-delivers the batch (ADVICE r1).  Two guards
    make replays no-ops:

      * each batch stages its outputs under ``<table>/batch_id=N/``
        with overwrite — a partial retry rewrites the same paths
        instead of appending duplicates;
      * a commit marker ``_committed/N`` is written LAST; a re-entered
        batch whose marker exists returns immediately;
      * a re-entered batch whose marker does NOT exist first deletes any
        ``batch_id=N`` staging dirs left by the crashed attempt — else
        the retry would read its own half-written output as history and
        anti-join the whole batch away (ADVICE r2 high: silent loss in
        the partial-commit window).

    ``compact()`` folds the accumulated per-batch directories into one
    snapshot per table so per-batch history reads stay bounded (state
    growth finding, VERDICT r1 #9).  With ``compact_every=k`` it runs
    automatically inside the commit path after every k-th committed
    batch (VERDICT r2 #8)."""

    def __init__(self, spark: SparkSession, work_dir: str, cfg: DedupConfig | None = None,
                 compact_every: int | None = 8):
        self.spark = spark
        self.cfg = cfg or DedupConfig()
        self.compact_every = compact_every
        self.root = os.path.join(work_dir, "stream")
        self.sig_dir = os.path.join(self.root, "signatures")
        self.bands_dir = os.path.join(self.root, "bands")
        self.pairs_dir = os.path.join(self.root, "pairs")
        self.content_dir = os.path.join(self.root, "contents")
        self.stats_dir = os.path.join(self.root, "bucket_stats")
        self.marker_dir = os.path.join(self.root, "_committed")
        self._tables = (self.sig_dir, self.bands_dir, self.pairs_dir,
                        self.content_dir, self.stats_dir)
        # state is read only under the config that wrote it (the batch
        # stages' manifest rule): a config change must not mix tables
        fp, record = self.cfg.fingerprint(), os.path.join(self.root, "config_fp")
        if os.path.exists(record):
            with open(record) as f:
                found = f.read()
            if found != fp:
                raise ValueError(f"stream state at {self.root} was written under config "
                                 f"{found}, not this config {fp}")
        elif os.path.isdir(self.root) and any(
                not e.startswith(".") for e in os.listdir(self.root)):
            raise ValueError(f"stream state at {self.root} has no config record, so it "
                             f"cannot be shown to match this config {fp}")
        else:   # fresh: record the config, staged then renamed
            os.makedirs(self.root, exist_ok=True)
            tmp = os.path.join(self.root, ".config_fp.tmp")
            with open(tmp, "w") as f:
                f.write(fp)
            os.replace(tmp, record)

    @property
    def _shuffle_partitions(self) -> int:   # the deployment's setting
        return int(self.spark.conf.get("spark.sql.shuffle.partitions"))

    # --- state access ---
    def _recover_compaction(self, path: str) -> None:
        """Repair a compact() interrupted by a crash (ADVICE r3 medium):
        compact renames the live table aside (``<t>._old``) before the
        snapshot takes its place, so the live data is ALWAYS present in
        exactly one of <t> / <t>._old.  If <t> is missing or empty while
        <t>._old exists, the crash hit between the rename-aside and the
        snapshot move — restore the original; if <t> is populated, the
        snapshot landed — the leftovers are garbage.  A leftover
        ``._compact`` tmp is always garbage (the snapshot is only ever
        MOVED out of it after a complete write)."""
        import shutil

        old, tmp = path + "._old", path + "._compact"
        if os.path.isdir(old):
            live = os.path.isdir(path) and any(
                not e.startswith((".", "_")) for e in os.listdir(path))
            if not live:
                if os.path.isdir(path):
                    shutil.rmtree(path)
                os.rename(old, path)
            else:
                shutil.rmtree(old)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)

    def _read_or_none(self, path: str) -> DataFrame | None:
        self._recover_compaction(path)
        if not os.path.isdir(path) or not any(
            not e.startswith((".", "_")) for e in os.listdir(path)
        ):
            return None
        df = self.spark.read.option("basePath", path).parquet(path)
        return df.drop("batch_id") if "batch_id" in df.columns else df

    def _stage_write(self, df: DataFrame, table_dir: str, batch_id: int) -> None:
        # Bound output files per batch: a per-batch write at full shuffle
        # parallelism leaves shuffle_partitions tiny files per table per
        # batch, and every later batch re-lists and re-opens ALL of them
        # — at 20 batches x 128 partitions x 4 tables the history read
        # becomes a small-files scan that grows the per-batch wall
        # superlinearly.  repartition (not coalesce: coalesce would cap
        # the upstream compute stage's parallelism) shuffles only this
        # batch's small output.
        n_files = max(self._shuffle_partitions // 16, 2)
        df.repartition(n_files).write.mode("overwrite").parquet(
            os.path.join(table_dir, f"batch_id={batch_id}"))

    def _is_committed(self, batch_id: int) -> bool:
        return os.path.exists(os.path.join(self.marker_dir, str(batch_id)))

    def _mark_committed(self, batch_id: int) -> None:
        os.makedirs(self.marker_dir, exist_ok=True)
        with open(os.path.join(self.marker_dir, str(batch_id)), "w") as f:
            f.write("ok")

    def _n_committed(self) -> int:
        if not os.path.isdir(self.marker_dir):
            return 0
        return sum(1 for e in os.listdir(self.marker_dir) if not e.startswith("."))

    def _clear_staged(self, batch_id: int) -> None:
        """Delete UNCOMMITTED batch_id=N staging dirs before reading any
        state.  process_batch only reaches here when the marker is
        absent, so a present staging dir is a crashed prior attempt of
        this same batch — leaving it would make the retry see its own
        rows as history, anti-join them away, and overwrite the staged
        dirs with empty data (permanent silent loss)."""
        import shutil

        for d in self._tables:
            staged = os.path.join(d, f"batch_id={batch_id}")
            if os.path.isdir(staged):
                shutil.rmtree(staged)

    def compact(self) -> dict:
        """Fold per-batch directories into one snapshot per table;
        returns per-table file counts before/after.  State contents are
        unchanged (tested).

        Crash-recoverable (ADVICE r3 medium — the old order deleted the
        live dir before the snapshot was in place, so a crash inside the
        window lost the table's entire state): the snapshot is fully
        written to ``<t>._compact`` first, THEN the live dir is renamed
        aside to ``<t>._old`` (one atomic rename), the snapshot moves in,
        and ``._old`` is deleted last.  Every crash point leaves either
        the original state or the complete snapshot recoverable;
        _recover_compaction (run before every state read) repairs it."""
        import shutil

        stats = {}
        for d in self._tables:
            df = self._read_or_none(d)   # also runs recovery for d
            if df is None:
                continue
            if d == self.stats_dir:
                # deltas fold with sum/min (associative), so the
                # snapshot can pre-merge to one row per bucket
                df = df.groupBy("band", "band_hash").agg(
                    F.sum("cnt").alias("cnt"), F.min("rep").alias("rep"))
            before = sum(len(fs) for _, _, fs in os.walk(d))
            tmp, old = d + "._compact", d + "._old"
            df.coalesce(max(self._shuffle_partitions // 4, 1)) \
                .write.mode("overwrite").parquet(tmp)
            os.rename(d, old)            # live state parked, atomically
            os.makedirs(d)
            # snapshot lives under batch_id=-1 so the layout stays
            # partition-discoverable next to future batch_id=N writes
            os.rename(tmp, os.path.join(d, "batch_id=-1"))
            shutil.rmtree(old)           # only after the snapshot is live
            after = sum(len(fs) for _, _, fs in os.walk(d))
            stats[os.path.basename(d)] = {"files_before": before, "files_after": after}
        return stats

    def signatures(self) -> DataFrame | None:
        return self._read_or_none(self.sig_dir)

    def pairs(self) -> DataFrame:
        df = self._read_or_none(self.pairs_dir)
        if df is None:
            return self.spark.createDataFrame([], VERIFIED_SCHEMA)
        return df

    def _bucket_stats(self) -> DataFrame | None:
        """Merged per-(band, band_hash) bucket stats: the per-batch
        DELTAS (cnt, rep) fold with sum/min on read — associative, so
        the generic compact() snapshot (plain concatenation) stays
        correct, and compact() additionally pre-merges this table.
        Every committed batch writes its delta next to its band rows,
        so the table covers the whole bands history."""
        return self._read_or_none(self.stats_dir)

    def _incremental_candidates(self, new_bands: DataFrame,
                                old_bands: DataFrame | None):
        """-> (candidate pairs touching new files, this batch's stats
        delta).  The pair policy is stages.candidates.bucket_pairs, the
        same call the batch candidate_pairs makes (VERDICT r4 #2); what
        is streaming's own is which rows reach it:

          * bucket SIZE and REP come from the persisted stats deltas
            merged with this batch's counts — no window over history;
          * only buckets touched by new files are processed at all
            (untouched buckets' pairs were earlier batches' output);
          * buckets below star_regime fetch their old members via a
            broadcast semi-join keyed on the touched-bucket set, so the
            small self-join and the salt spread see the whole bucket;
          * star-regime buckets NEVER fetch members: the old rep stands
            in for them, so new members edge to the merged rep and a
            new file taking over as rep gets one (new_rep, old_rep)
            bridge that keeps the component connected — the
            boilerplate bucket every batch touches costs O(new members
            in it), not O(bucket);
          * only pairs touching a new file are kept.

        Per-batch shuffle volume is therefore ∝ this batch's bands +
        members of touched non-star buckets, independent of history
        size; history is only SCANNED (broadcast semi-join, no
        exchange).  At 10^12 scale the bands state would be bucketed by
        band_hash so even the scan prunes to touched buckets — same
        logical plan."""
        new_stats = (   # read by the merge, the stats semi-join and the stats write
            new_bands.groupBy("band", "band_hash")
            .agg(F.count(F.lit(1)).alias("cnt"), F.min("file_id").alias("rep"))
            .localCheckpoint(eager=True)
        )
        # merged size/rep of each touched bucket, plus its old rep
        # (null for a bucket no earlier batch touched)
        merged = new_stats.withColumn("rep_old", F.lit(None).cast("long"))
        old_stats = self._bucket_stats()
        if old_stats is not None:
            merged = merged.unionByName(
                old_stats.join(F.broadcast(new_stats.select("band", "band_hash")),
                               ["band", "band_hash"], "left_semi")
                .withColumn("rep_old", F.col("rep")))
        tot = (   # read by below, old_reps and sized; lazy, each would rescan the stats
            merged.groupBy("band", "band_hash")
            .agg(F.sum("cnt").alias("bsz"), F.min("rep").alias("rep"),
                 F.min("rep_old").alias("rep_old"))
            .filter(F.col("bsz") > 1)
            .localCheckpoint(eager=True)   # small: one row per touched bucket
        )
        star = star_regime(self.cfg)
        members = new_bands.select("band", "band_hash", "file_id")
        if old_bands is not None:
            below = tot.filter(~star).select("band", "band_hash")
            members = members.unionByName(
                old_bands.join(F.broadcast(below), ["band", "band_hash"], "left_semi")
                .select("band", "band_hash", "file_id"))
        # a star bucket's old members are represented by its old rep:
        # the star edge (rep, rep_old) is the rep-takeover bridge
        old_reps = tot.filter(star & F.col("rep_old").isNotNull()) \
            .select("band", "band_hash", F.col("rep_old").alias("file_id"))
        sized = members.unionByName(old_reps).join(
            F.broadcast(tot.select("band", "band_hash", "bsz", "rep")),
            ["band", "band_hash"])
        pairs = bucket_pairs(sized, self.cfg)

        # keep only pairs touching a NEW file (old x old inside touched
        # small buckets were earlier batches' candidates)
        new_ids = new_bands.select("file_id").distinct()
        na = new_ids.select(F.col("file_id").alias("a")).withColumn("_na", F.lit(1))
        nb = new_ids.select(F.col("file_id").alias("b")).withColumn("_nb", F.lit(1))
        cands = (
            pairs.join(F.broadcast(na), "a", "left")
            .join(F.broadcast(nb), "b", "left")
            .filter(F.col("_na").isNotNull() | F.col("_nb").isNotNull())
            .drop("_na", "_nb")
        )
        return cands, new_stats

    # --- the batch function ---
    def process_batch(self, batch: DataFrame, batch_id: int) -> None:
        if self._is_committed(batch_id):
            return  # at-least-once replay of a committed batch: no-op
        self._clear_staged(batch_id)  # purge any crashed partial attempt
        cfg = self.cfg
        reps = representatives(fingerprint(batch))

        seen = self.signatures()
        old_contents = self._read_or_none(self.content_dir)
        # cross-batch exact-dup collapse (P3 across time): a content whose
        # sha256 is already in history is not re-signed — its duplicate
        # relationship is recoverable from fingerprints by sha, exactly
        # like within-batch exact groups
        new_reps = reps.select("file_id", "sha256", "content")
        if old_contents is not None:
            new_reps = new_reps.join(old_contents.select("sha256"), "sha256", "left_anti")
        if seen is not None:
            new_reps = new_reps.join(seen.select("file_id"), "file_id", "left_anti")
        # read by signatures, verify and the contents write; the history anti-joins run once
        new_reps = new_reps.localCheckpoint(eager=True)
        new_sigs = compute_signatures(   # read by banding, verify and the signatures write
            new_reps.select("file_id", "content"), cfg
        ).localCheckpoint(eager=True)
        # read by the candidates (stats, members, new ids) and the bands write
        new_bands = band_rows(new_sigs, cfg).localCheckpoint(eager=True)

        old_bands = self._read_or_none(self.bands_dir)
        # Candidates from the incremental band-bucket state (VERDICT r4
        # #2): only buckets touched by new files, sized from persisted
        # stats deltas, paired by the batch path's bucket_pairs.
        cands, new_stats = self._incremental_candidates(new_bands, old_bands)
        cands = cands.localCheckpoint(eager=True)   # feeds id-prune + verify

        # Verify joins must see content/signatures ∝ CANDIDATES, not the
        # full history: semi-join both state tables down to candidate-
        # involved ids first (the candidate id set is small — broadcast),
        # else every batch shuffles the whole accumulated corpus twice
        # and per-batch wall grows superlinearly (measured: 16.8 s ->
        # 142.7 s over 6 batches at the 355k tier before this prune).
        cand_ids = (   # read by both semi-joins; lazy, each would aggregate its own copy
            cands.select(F.col("a").alias("file_id"))
            .unionByName(cands.select(F.col("b").alias("file_id")))
            .distinct().localCheckpoint(eager=True)
        )
        contents = new_reps.select("file_id", "content")
        if old_contents is not None:
            contents = contents.unionByName(old_contents.select("file_id", "content"))
        all_sigs = new_sigs if seen is None else seen.unionByName(new_sigs)
        contents = contents.join(F.broadcast(cand_ids), "file_id", "left_semi")
        all_sigs = all_sigs.join(F.broadcast(cand_ids), "file_id", "left_semi")
        verified = verify_pairs(cands, contents, all_sigs, cfg)

        # commit state: per-batch staging dirs (overwrite => replay-safe)
        # then the marker LAST — a crash anywhere earlier leaves a
        # partial batch that the retry simply rewrites
        self._stage_write(verified, self.pairs_dir, batch_id)
        self._stage_write(new_sigs, self.sig_dir, batch_id)
        self._stage_write(new_bands, self.bands_dir, batch_id)
        self._stage_write(new_stats, self.stats_dir, batch_id)
        self._stage_write(new_reps.select("file_id", "content", "sha256"),
                          self.content_dir, batch_id)
        self._mark_committed(batch_id)
        if self.compact_every and self._n_committed() % self.compact_every == 0:
            self.compact()

    def start(self, source_dir: str, checkpoint_dir: str | None = None,
              trigger_once: bool = True):
        """File-source stream over a directory of parquet drops."""
        stream = (
            self.spark.readStream.schema(FILES_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(source_dir)
        )
        writer = (
            stream.writeStream
            .foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir or os.path.join(self.root, "_chk"))
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()
