"""Index compaction: fold streaming deltas back into the base index.

Deltas produced by streaming/incremental.incremental_index share the base's
block layout, so queries COULD read base+deltas directly; compaction exists
to (a) restore the one-dir-per-bucket file layout, (b) merge fragmented
small blocks (a tail term touched by many deltas), and (c) refresh
term_stats / field_stats to cover the delta docs.

One fold, two re-block policies.  The fold decodes nothing: doc_ids are
append-only, so delta blocks are NEW (term, salt-range) rows disjoint from
every base block; the delta block files are linked into the postings
snapshot, and term_stats is the live table plus the deltas' block-metadata
aggregate (df = sum n_docs, cf = sum sum_tf), merged with pyarrow on the
coordinator up to TERM_STATS_CACHE_MAX live rows and through Spark above
it.  After the fold commits, mode="merge" re-blocks (defrag) every bucket
the folded deltas touched, which leaves the block rows a fresh build over
the union corpus writes; mode="append" re-blocks only buckets whose file
count crosses auto_defrag_files.  The stages re-run through the
StageManager — the 'postings' and 'term_stats' stage fingerprints include
the delta list, so compaction itself is an idempotent, resumable commit.
field_stats scalars are updated EXACTLY from the per-delta stats JSONs (no
re-tokenization).  n_buckets is part of the checked layout (check_layout):
re-bucketing an index is a rebuild.

Idempotency protocol: a delta's delta_stats.json is its commit marker — the
delta writer writes it last, atomically — and a batch_* dir without it has
not finished landing, so it is neither folded nor recorded.  field_stats.json
carries "folded_deltas" (the list of delta basenames already folded AND
stats-committed) and is rewritten atomically (tmp + rename) as the LAST
step — it is the commit point.  Delta dirs themselves are left in place (an
external janitor may remove folded ones); re-running compact() only
processes deltas not in folded_deltas.
The crash window between the postings swap and the stats commit is covered
by the swapped postings manifest: its conf records which deltas the
snapshot contains ("compact_of"), so a re-run detects base-already-contains
deltas and completes the stats commit without re-folding.  The swap itself
goes rename(old -> old.bak), rename(new -> old), replace manifest, remove
backup — there is never a moment without a readable postings dir, and an
interrupted swap is healed at the start of the next run, including the two
narrow windows: (a) data rename done but manifest replace lost (heal
finishes the manifest commit so the delta cannot be re-unioned), and (b)
postings swapped but term_stats_compacted never installed (the swap pass
runs on every compact() call, not only after a fresh compute, so the
orphaned snapshot is installed on recovery).

Append-only doc_id assumption (new crawl docs get new ids); re-crawled urls
should be deduped upstream before indexing.
"""

from __future__ import annotations

import glob
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lineage import StageManager
from .build import (
    TERM_STATS_CACHE_MAX, IndexConfig, apply_block_encoder, block_term_stats,
    check_layout,
)
from .codec import decode_blocks_concat

_LONG_FORM = "doc_id long, term string, tf long, doc_len long"


def _payload_stream(col):
    """The blocks' payloads of one Arrow binary column as one contiguous
    buffer (the column's data buffer between its first and last offset)."""
    import pyarrow as pa

    if not len(col):
        return b""
    _, off_buf, data = col.buffers()
    width = np.int64 if pa.types.is_large_binary(col.type) else np.int32
    offs = np.frombuffer(off_buf, dtype=width)
    return memoryview(data)[offs[col.offset]:offs[col.offset + len(col)]]


def decode_postings_df(blocks: DataFrame) -> DataFrame:
    """Inverse of the block builder: block rows -> (doc_id, term, tf, doc_len).
    mapInArrow: each batch's blocks decode in one decode_blocks_concat call,
    and each block's term repeats n_docs times."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            ns = batch.column("n_docs").to_numpy().astype(np.int64)
            streams = [
                [_payload_stream(batch.column(c))]
                for c in ("doc_id_deltas", "tfs", "doc_lens")
            ]
            ids, tfs, dls = decode_blocks_concat(*streams, ns)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.astype(np.int64)),
                    batch.column("term").take(
                        pa.array(np.repeat(np.arange(len(ns)), ns))
                    ),
                    pa.array(tfs.astype(np.int64)),
                    pa.array(dls.astype(np.int64)),
                ],
                names=["doc_id", "term", "tf", "doc_len"],
            )

    return blocks.select(
        "term", "n_docs", "doc_id_deltas", "tfs", "doc_lens"
    ).mapInArrow(run, _LONG_FORM)


def _heal_interrupted_swap(mgr: StageManager) -> None:
    """Recover from a crash inside the swap.  For each stage:

    - live dir missing: restore it from the compacted snapshot (finish the
      swap) or from the .bak backup (roll back) — never a run start without
      a readable dir.
    - compacted MANIFEST present but its data dir gone while the live dir
      exists: the swap's data rename completed and only the manifest replace
      was lost.  The live data already IS the compacted snapshot, so finish
      the manifest commit here — otherwise the live manifest lacks
      ``compact_of`` and a recovery run would re-union the delta into the
      already-compacted base, duplicating every delta posting (doubled
      df/cf).
    """
    import shutil

    for stage in ("postings", "term_stats"):
        old = mgr.stage_path(stage)
        new = mgr.stage_path(stage + "_compacted")
        bak = old + ".bak"
        new_mp = mgr._manifest_path(stage + "_compacted")
        if not os.path.isdir(old):
            if os.path.isdir(new):
                os.rename(new, old)
                if os.path.exists(new_mp):
                    os.replace(new_mp, mgr._manifest_path(stage))
                shutil.rmtree(bak, ignore_errors=True)
            elif os.path.isdir(bak):
                os.rename(bak, old)
        elif os.path.exists(new_mp) and not os.path.isdir(new):
            os.replace(new_mp, mgr._manifest_path(stage))
            shutil.rmtree(bak, ignore_errors=True)
    # a committed term_stats_compacted whose postings half has FULLY swapped
    # (crash between the two stage swaps) must be installed before compact()
    # reads live term_stats — the fold adds the deltas' stats to the live
    # table, so a stale live term_stats here would leak into the next
    # snapshot if a new delta arrived before recovery
    if (
        os.path.isdir(mgr.stage_path("term_stats_compacted"))
        and os.path.exists(mgr._manifest_path("term_stats_compacted"))
        and not os.path.isdir(mgr.stage_path("postings_compacted"))
        and not os.path.exists(mgr._manifest_path("postings_compacted"))
    ):
        _swap_one(mgr, "term_stats")


def _swap_one(mgr: StageManager, stage: str) -> None:
    """Install the committed ``<stage>_compacted`` snapshot (data dir AND
    manifest both present) as the live stage.  Order: backup old, rename new
    into place, replace the manifest, drop the backup — every intermediate
    state is recoverable by _heal_interrupted_swap."""
    import shutil

    old, new = mgr.stage_path(stage), mgr.stage_path(stage + "_compacted")
    new_mp = mgr._manifest_path(stage + "_compacted")
    if not (os.path.isdir(new) and os.path.exists(new_mp)):
        return  # nothing committed to install (a dir without a manifest is
        # an uncommitted partial — StageManager.run cleans those)
    bak = old + ".bak"
    if os.path.isdir(bak):
        shutil.rmtree(bak)
    if os.path.isdir(old):
        os.rename(old, bak)
    os.rename(new, old)
    os.replace(new_mp, mgr._manifest_path(stage))
    shutil.rmtree(bak, ignore_errors=True)


def _swap_compacted_stages(mgr: StageManager) -> None:
    for stage in ("postings", "term_stats"):
        _swap_one(mgr, stage)


def _link_untouched_buckets(live: str, tmp: str, touched: set[int]) -> None:
    """Carry bucket partitions without delta rows into the new snapshot as
    hardlinks (copy fallback across filesystems) — no data rewrite.  On a
    real cluster this is the metadata-only partition carry-over of an
    Iceberg replacePartitions commit."""
    import shutil

    for bdir in sorted(glob.glob(os.path.join(live, "bucket=*"))):
        bid = int(os.path.basename(bdir).split("=", 1)[1])
        if bid in touched:
            continue
        dst = os.path.join(tmp, os.path.basename(bdir))
        os.makedirs(dst, exist_ok=True)
        for fn in os.listdir(bdir):
            if not fn.endswith(".parquet"):
                continue
            try:
                os.link(os.path.join(bdir, fn), os.path.join(dst, fn))
            except OSError:
                shutil.copy2(os.path.join(bdir, fn), os.path.join(dst, fn))


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)  # same-directory rename: atomic commit


def fragmented_buckets(index_dir: str, max_files: int) -> list[int]:
    """Bucket ids of the live postings stage whose parquet file count
    exceeds max_files — repeated append compactions leave one file per
    (delta x original file) in every touched bucket, and the tail-term
    fragmentation cost is proportional to that count."""
    live = StageManager(index_dir).stage_path("postings")
    out = []
    for bdir in sorted(glob.glob(os.path.join(live, "bucket=*"))):
        n = sum(1 for fn in os.listdir(bdir) if fn.endswith(".parquet"))
        if n > max_files:
            out.append(int(os.path.basename(bdir).split("=", 1)[1]))
    return out


def defrag(
    spark: SparkSession, index_dir: str, config: IndexConfig = IndexConfig(),
    max_files_per_bucket: int = 32, buckets: list[int] | None = None,
) -> dict:
    """Re-block fragmented buckets of the LIVE base (no deltas involved):
    decode just those buckets to long form, rebuild full blocks, and swap a
    snapshot where every untouched bucket dir is hardlinked.  term_stats and
    field_stats are untouched — defrag changes layout, not content.  This is
    the re-block step of compact(): mode="merge" passes the buckets its
    deltas touched; mode="append" stays O(delta) per batch, and a bucket is
    defragmented only when its file count crosses the threshold (Lucene's
    tiered-merge policy shape).  Crash-safe via the same stage-commit +
    swap + heal protocol as compact().  Raises ValueError when `config`
    disagrees with the index's layout (check_layout)."""
    check_layout(index_dir, config)
    mgr = StageManager(index_dir)
    _heal_interrupted_swap(mgr)
    _swap_compacted_stages(mgr)  # install leftovers of a crashed prior run
    if buckets is None:
        buckets = fragmented_buckets(index_dir, max_files_per_bucket)
    if not buckets:
        return {}
    post_manifest = mgr.manifest("postings") or {}
    conf = {
        # carry the live snapshot's delta bookkeeping so the crash-window
        # detection (in_base) survives a defrag swap
        "compact_of": post_manifest.get("config", {}).get("compact_of", []),
        "mode": "defrag", "touched_buckets": sorted(buckets),
        **config.fingerprint_dict(),
    }
    base = spark.read.parquet(mgr.stage_path("postings")).filter(
        F.col("bucket").isin(list(buckets))
    )
    long_form = decode_postings_df(base)

    def write_postings(tmp: str):
        salted = long_form.select(
            "doc_id", "term", "tf", "doc_len",
            (F.col("doc_id") / config.salt_range).cast("long").alias("salt"),
        )
        (
            salted.repartition(max(len(buckets), 1), "term", "salt")
            .sortWithinPartitions("term", "salt", "doc_id")
            .transform(lambda df: apply_block_encoder(df, config))
            .repartition(max(len(buckets), 1), "bucket")
            .write.partitionBy("bucket").parquet(tmp)
        )
        _link_untouched_buckets(mgr.stage_path("postings"), tmp, set(buckets))

    out = {
        "postings_defragged": mgr.run("postings_compacted", conf, write_postings),
        "defragged_buckets": sorted(buckets),
    }
    _swap_one(mgr, "postings")
    return out


def compact(
    spark: SparkSession, index_dir: str, config: IndexConfig = IndexConfig(),
    mode: str = "merge", auto_defrag_files: int | None = 32,
    min_pending_deltas: int = 1,
) -> dict:
    """Fold unfolded deltas/batch_* into the base index (postings + stats
    stages).  Idempotent and crash-safe — see module docstring protocol.

    The fold is O(delta) and decodes nothing: doc_ids are append-only, so
    delta blocks are NEW (term, salt-range) rows disjoint from every base
    block — the folded postings table is literally base ∪ delta block rows.
    The snapshot hardlinks every base file and links the delta files into
    their bucket dirs.  term_stats = live stats + the deltas' per-term
    block-metadata sums (df = Σ n_docs, cf = Σ sum_tf; no doc overlap, so
    df/cf add exactly), read with pyarrow.  While the live term_stats has at
    most TERM_STATS_CACHE_MAX rows (parquet footer count) the merge runs on
    the coordinator with pyarrow, O(vocabulary) and no Spark job; above it,
    a Spark union/groupBy does the same merge.  The Lucene-tiered-merge /
    Iceberg-style fast path.

    mode picks the re-block policy that runs after field_stats commits:
      "merge"  (default) defrag() every bucket the folded deltas touched, so
               tail terms fragmented across deltas end up in full blocks
               (the block rows of a fresh build over the union corpus).
               A crash between the fold and this re-block leaves a correct
               index whose touched buckets are not re-blocked; the next
               merge fold re-blocks the buckets its own deltas touch.
      "append" any bucket whose parquet file count exceeds
               auto_defrag_files is re-blocked via defrag() (untouched
               buckets stay hardlinked), so the fast path does not rely on
               an operator running "merge" occasionally.  None disables
               the trigger.

    Only deltas whose delta_stats.json marker exists are folded; a delta
    still landing is left pending for a later call.

    Fold-batching policy (round-5 verdict item 2 — the drill measured a
    fixed ~60 s cost per fold, so folding every tiny batch caps sustained
    ingest at ~130 docs/s): the fold is DEFERRED (no-op returning
    {"deferred": ...}) while fewer than ``min_pending_deltas`` deltas are
    pending.  The default folds on every call.  Trade-off: docs in a
    deferred delta are not yet queryable, so time-to-queryable is bounded
    by (min_pending_deltas x batch interval) — pick the knob from the
    freshness SLA.  Crash-window deltas (swap committed, stats commit lost)
    always heal immediately regardless of the policy.

    Returns the StageResults by stage ("postings_compacted",
    "term_stats_compacted", and "postings_defragged" after a merge
    re-block); an "append" fold that re-blocked adds defrag()'s result
    under "defrag".  Raises ValueError when `config` disagrees with the
    index's layout (check_layout).
    """
    if mode not in ("merge", "append"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    check_layout(index_dir, config)
    mgr = StageManager(index_dir)
    _heal_interrupted_swap(mgr)

    fs_path = os.path.join(index_dir, "field_stats.json")
    with open(fs_path) as f:
        fs = json.load(f)
    folded = set(fs.get("folded_deltas", []))

    # delta_stats.json is a delta's commit marker (written last by the
    # delta writer): a dir without it has not finished landing
    all_deltas = sorted(
        d for d in glob.glob(os.path.join(index_dir, "deltas", "batch_*"))
        if os.path.exists(os.path.join(d, "delta_stats.json"))
    )
    pending = [d for d in all_deltas if os.path.basename(d) not in folded]
    if not pending:
        return {}

    # deltas already inside the live postings snapshot (swap happened, stats
    # commit did not — the crash window) are folded into stats only
    post_manifest = mgr.manifest("postings") or {}
    in_base = [
        b for b in post_manifest.get("config", {}).get("compact_of", [])
        if b not in folded
    ]
    if not in_base and len(pending) < min_pending_deltas:
        return {"deferred": True, "pending_deltas": len(pending)}
    to_compact = [d for d in pending if os.path.basename(d) not in in_base]
    results: dict = {}

    if to_compact:
        # hardlink the whole base, copy the delta block files into their
        # bucket dirs (names prefixed by batch so repeated folds never
        # collide), and sum per-term delta aggregates into term_stats
        snapshot_of = sorted(in_base + [os.path.basename(d) for d in to_compact])
        conf = {"compact_of": snapshot_of, "mode": "append",
                **config.fingerprint_dict()}

        def write_postings(tmp: str):
            import shutil

            def link_into(src_dir: str, prefix: str = "") -> None:
                for bdir in sorted(glob.glob(os.path.join(src_dir, "bucket=*"))):
                    dst = os.path.join(tmp, os.path.basename(bdir))
                    os.makedirs(dst, exist_ok=True)
                    for fn in os.listdir(bdir):
                        if not fn.endswith(".parquet"):
                            continue
                        s, t = os.path.join(bdir, fn), os.path.join(dst, prefix + fn)
                        try:
                            os.link(s, t)
                        except OSError:
                            shutil.copy2(s, t)

            link_into(mgr.stage_path("postings"))
            for d in to_compact:
                link_into(d, prefix=os.path.basename(d) + "_")

        # write to a new stage name, then swap: the old postings stay
        # readable until the compacted snapshot is committed (crash-safe)
        results["postings_compacted"] = mgr.run(
            "postings_compacted", conf, write_postings
        )

        def write_term_stats(tmp: str):
            import pyarrow as pa
            import pyarrow.dataset as ds
            import pyarrow.parquet as pq

            # the deltas' stats from their block metadata (never decoded)
            delta = block_term_stats(to_compact)
            live_dir = mgr.stage_path("term_stats")
            live = ds.dataset(live_dir, format="parquet")
            if live.count_rows() <= TERM_STATS_CACHE_MAX:
                # coordinator merge, O(vocabulary): the reader holds a
                # vocabulary this size in memory anyway.  One schema for
                # both sides: a Spark-written live table may mark df/cf
                # required, and concat_tables compares nullability too.
                schema = pa.schema([
                    ("term", pa.string()), ("df", pa.int64()), ("cf", pa.int64()),
                ])
                agg = pa.concat_tables([
                    live.to_table(columns=schema.names).cast(schema),
                    delta.cast(schema),
                ]).group_by("term").aggregate([("df", "sum"), ("cf", "sum")])
                merged = pa.table({
                    "term": agg["term"], "df": agg["df_sum"], "cf": agg["cf_sum"],
                }).sort_by("term")
                os.makedirs(tmp)
                pq.write_table(merged, os.path.join(tmp, "part-00000.parquet"))
                return
            delta_df = spark.createDataFrame(
                delta.to_pandas(), "term string, df long, cf long"
            )
            (
                spark.read.parquet(live_dir).unionByName(delta_df)
                .groupBy("term")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
                .write.parquet(tmp)
            )

        results["term_stats_compacted"] = mgr.run(
            "term_stats_compacted", conf, write_term_stats
        )

    # swap committed compacted stages into place; never a moment without a
    # live dir.  Runs UNCONDITIONALLY (not only when this run computed a
    # snapshot): a crash after the postings swap but before the term_stats
    # swap leaves to_compact empty on recovery — the live postings manifest
    # already records the delta — with term_stats_compacted still waiting to
    # be installed.  By the time control reaches here, any lingering
    # postings_compacted has a matching term_stats_compacted (the compute
    # branch above commits term_stats before any swap happens).
    _swap_compacted_stages(mgr)

    # exact field_stats refresh from per-delta scalars, for every delta now
    # inside the live snapshot but not yet committed; the folded_deltas list
    # and the scalars commit together (atomic rename) so a re-run can never
    # double-count
    for d in pending:
        with open(os.path.join(d, "delta_stats.json")) as f:
            ds = json.load(f)
        fs["n_docs"] += ds["n_docs"]
        fs["total_len"] += ds["total_len"]
        folded.add(os.path.basename(d))
    fs["avg_doc_len"] = fs["total_len"] / fs["n_docs"] if fs["n_docs"] else 0.0
    fs["folded_deltas"] = sorted(folded)
    _atomic_write_json(fs_path, fs)

    if mode == "merge":
        # the buckets this run's deltas landed in — never the crash-window
        # deltas of in_base, so a recovery run starts no new stage
        touched = sorted({
            int(os.path.basename(p).split("=", 1)[1])
            for d in to_compact
            for p in glob.glob(os.path.join(d, "bucket=*"))
        })
        if touched:
            d = defrag(spark, index_dir, config, buckets=touched)
            results["postings_defragged"] = d["postings_defragged"]
    elif auto_defrag_files is not None:
        # tiering policy: append keeps each fold O(delta) but accretes one
        # file per (delta x base file) in touched buckets — re-block any
        # bucket past the file-count threshold now, so tail-term
        # fragmentation is bounded without a manual merge
        d = defrag(
            spark, index_dir, config, max_files_per_bucket=auto_defrag_files
        )
        if d:
            results["defrag"] = d
    return results
