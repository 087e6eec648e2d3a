"""Index compaction: fold streaming deltas into the base index, and
re-block fragmented buckets.

Commit protocol.  ``<index>/field_stats.json`` is the index's only commit
point, in the manner of Lucene's ``segments_N`` and an Iceberg snapshot
pointer.  Besides the corpus scalars and the layout, it records
``generation`` and that generation's file lists for ``postings`` and
``term_stats``, as paths relative to the index root.  ``postings/bucket=*/``
and ``term_stats/`` are pools of files that are never changed once written;
a generation is the subset its lists name (build.live_files).  Every
maintenance call writes its new pool files first, then publishes the next
generation with one atomic replace of field_stats.json, then deletes the
pool files that neither the new generation nor its parent lists.  A crash
before the replace leaves the old generation (plus unlisted files, which the
next commit deletes); after it, the new one.  A reader pins the generation
it opened (query.IndexReader), and a file stays on disk until the second
commit that does not list it.

The fold decodes nothing: doc_ids are append-only, so delta blocks are NEW
(term, salt-range) rows disjoint from every base block.  The delta block
files are linked into the postings pool under batch-prefixed names, and the
new generation's postings list is the parent's plus those files.  Its
term_stats is one new table: the live table plus the deltas' block-metadata
aggregate (df = sum n_docs, cf = sum sum_tf), merged with pyarrow on the
coordinator up to TERM_STATS_CACHE_MAX live rows and through Spark above
it.  field_stats scalars are updated EXACTLY from the per-delta stats JSONs
(no re-tokenization), in the same commit.

Re-blocking (defrag) decodes the chosen buckets' live files, rebuilds full
blocks into a staging directory, moves the files into the pool with a
generation prefix, and commits a list that swaps them for the buckets' old
files.  mode="merge" re-blocks every bucket the folded deltas touched, which
leaves the block rows a fresh build over the union corpus writes;
mode="append" re-blocks only buckets whose file count crosses
auto_defrag_files.  n_buckets is part of the checked layout (check_layout):
re-bucketing an index is a rebuild.

Idempotency: a delta's delta_stats.json is its commit marker — the delta
writer writes it last, atomically — and a batch_* dir without it has not
finished landing, so it is neither folded nor recorded.  field_stats.json
carries "folded_deltas", committed with the file lists, so a re-run of
compact() folds only deltas the live generation has not absorbed.  Delta
dirs themselves are left in place (an external janitor may remove folded
ones).  One maintainer at a time.

Append-only doc_id assumption (new crawl docs get new ids); re-crawled urls
should be deduped upstream before indexing.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lineage import StageResult
from .build import (
    TERM_STATS_CACHE_MAX, IndexConfig, apply_block_encoder, block_term_stats,
    check_layout, live_files, read_field_stats, read_live,
)
from .codec import decode_table

_LONG_FORM = "doc_id long, term string, tf long, doc_len long"
_TABLES = ("postings", "term_stats")


def decode_postings_df(blocks: DataFrame) -> DataFrame:
    """Inverse of the block builder: block rows -> (doc_id, term, tf, doc_len).
    mapInArrow: each batch's blocks decode in one decode_table call, and
    each block's term repeats n_docs times."""
    import pyarrow as pa

    def run(batches):
        for batch in batches:
            ns = batch.column("n_docs").to_numpy().astype(np.int64)
            ids, tfs, dls = decode_table(pa.Table.from_batches([batch]))
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


def _atomic_write_json(path: str, obj: dict) -> None:
    tmp = path + ".__tmp__"
    with open(tmp, "w") as f:
        json.dump(obj, f, indent=2)
    os.replace(tmp, path)  # same-directory rename: atomic commit


def _bucket(path: str) -> int:
    """The bucket id of a postings file: .../bucket=<id>/<file>."""
    return int(os.path.basename(os.path.dirname(path)).split("=", 1)[1])


def _link(src: str, dst: str) -> None:
    """Hardlink src as dst (a copy across filesystems).  A dst already there
    was left by a crashed run and is listed by no generation."""
    if os.path.exists(dst):
        os.remove(dst)
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _publish(index_dir: str, table: str, prefix: str) -> list[str]:
    """Move the parquet files written under <index>/_staging into table's
    pool, names prefixed; returns their paths relative to the index root."""
    staging = os.path.join(index_dir, "_staging")
    out = []
    for dirpath, _dirs, fns in os.walk(staging):
        sub = os.path.relpath(dirpath, staging)
        for fn in sorted(fns):
            if fn.endswith(".parquet"):
                rel = os.path.normpath(os.path.join(table, sub, prefix + fn))
                os.makedirs(os.path.dirname(os.path.join(index_dir, rel)),
                            exist_ok=True)
                os.replace(os.path.join(dirpath, fn), os.path.join(index_dir, rel))
                out.append(rel)
    shutil.rmtree(staging)
    return sorted(out)


def _staging(index_dir: str) -> str:
    """An empty <index>/_staging (a crashed run's leftovers removed)."""
    staging = os.path.join(index_dir, "_staging")
    shutil.rmtree(staging, ignore_errors=True)
    return staging


def _commit(index_dir: str, parent: dict, fs: dict) -> None:
    """Publish fs as the generation after parent: one atomic replace of
    field_stats.json, then delete the pool files neither lists."""
    fs["generation"] = parent["generation"] + 1
    _atomic_write_json(os.path.join(index_dir, "field_stats.json"), fs)
    keep = {
        os.path.join(index_dir, p) for g in (parent, fs) for t in _TABLES
        for p in g[t]
    }
    for t in _TABLES:
        for dirpath, _dirs, fns in os.walk(os.path.join(index_dir, t)):
            for fn in fns:
                if os.path.join(dirpath, fn) not in keep:
                    os.remove(os.path.join(dirpath, fn))


def _result(stage: str, index_dir: str, files: list[str], t0: float) -> StageResult:
    import pyarrow.parquet as pq

    rows = [pq.ParquetFile(os.path.join(index_dir, f)).metadata.num_rows
            for f in files]
    sizes = [os.path.getsize(os.path.join(index_dir, f)) for f in files]
    return StageResult(
        stage=stage, path=index_dir, skipped=False, rows=sum(rows),
        bytes=sum(sizes), wall_ms=(time.time() - t0) * 1000,
        files=[{"file": f, "rows": r, "bytes": b}
               for f, r, b in zip(files, rows, sizes)],
    )


def fragmented_buckets(index_dir: str, max_files: int) -> list[int]:
    """Bucket ids whose live postings file count exceeds max_files —
    repeated append folds add one file per (delta x delta file) to every
    touched bucket, and the tail-term fragmentation cost is proportional to
    that count."""
    counts: dict[int, int] = {}
    for p in live_files(index_dir, "postings"):
        counts[_bucket(p)] = counts.get(_bucket(p), 0) + 1
    return sorted(b for b, n in counts.items() if n > max_files)


def defrag(
    spark: SparkSession, index_dir: str, config: IndexConfig = IndexConfig(),
    max_files_per_bucket: int = 32, buckets: list[int] | None = None,
) -> dict:
    """Re-block fragmented buckets of the live generation (no deltas
    involved): decode just those buckets' files to long form, rebuild full
    blocks into <index>/_staging, move the files into their bucket dirs
    with a g<N>_ prefix, and commit generation N, whose list swaps them for
    the buckets' old files.  Every other bucket keeps its files.  term_stats
    and field_stats scalars are untouched — defrag changes layout, not
    content.  This is the re-block step of compact(): mode="merge" passes
    the buckets its deltas touched; mode="append" stays O(delta) per batch,
    and a bucket is defragmented only when its file count crosses the
    threshold (Lucene's tiered-merge policy shape).  A crash before the
    commit leaves the previous generation; a re-run redoes the re-block.
    Returns {"postings_defragged": StageResult, "defragged_buckets": [...]}
    or {} when no bucket qualifies.  Raises ValueError when `config`
    disagrees with the index's layout (check_layout)."""
    check_layout(index_dir, config)
    fs = read_field_stats(index_dir)
    if buckets is None:
        buckets = fragmented_buckets(index_dir, max_files_per_bucket)
    old = [p for p in fs["postings"] if _bucket(p) in buckets]
    if not old:
        return {}
    t0 = time.time()
    long_form = decode_postings_df(
        read_live(spark, index_dir, "postings", {"postings": old})
    )
    salted = long_form.select(
        "doc_id", "term", "tf", "doc_len",
        (F.col("doc_id") / config.salt_range).cast("long").alias("salt"),
    )
    (
        salted.repartition(len(buckets), "term", "salt")
        .sortWithinPartitions("term", "salt", "doc_id")
        .transform(lambda df: apply_block_encoder(df, config))
        .repartition(len(buckets), "bucket")
        .write.partitionBy("bucket").parquet(_staging(index_dir))
    )
    new = _publish(index_dir, "postings", f"g{fs['generation'] + 1}_")
    _commit(index_dir, fs, {
        **fs, "postings": sorted(set(fs["postings"]) - set(old) | set(new)),
    })
    return {
        "postings_defragged": _result("postings_defragged", index_dir, new, t0),
        "defragged_buckets": sorted(buckets),
    }


def _fold_term_stats(
    spark: SparkSession, index_dir: str, fs: dict, deltas: list[str]
) -> list[str]:
    """Write the folded term_stats table into the pool: the live table of
    generation fs plus the deltas' stats from their block metadata (never
    decoded).  Returns its files, relative to the index root."""
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    delta = block_term_stats(deltas)
    live = ds.dataset(live_files(index_dir, "term_stats", fs), format="parquet")
    staging = _staging(index_dir)
    if live.count_rows() <= TERM_STATS_CACHE_MAX:
        # coordinator merge, O(vocabulary): the reader holds a vocabulary
        # this size in memory anyway.  One schema for both sides: a
        # Spark-written live table may mark df/cf required, and
        # concat_tables compares nullability too.
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
        os.makedirs(staging)
        pq.write_table(merged, os.path.join(staging, "part-00000.parquet"))
    else:
        delta_df = spark.createDataFrame(
            delta.to_pandas(), "term string, df long, cf long"
        )
        (
            read_live(spark, index_dir, "term_stats", fs)
            .unionByName(delta_df)
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
            .write.parquet(staging)
        )
    return _publish(index_dir, "term_stats", f"g{fs['generation'] + 1}_")


def compact(
    spark: SparkSession, index_dir: str, config: IndexConfig = IndexConfig(),
    mode: str = "merge", auto_defrag_files: int | None = 32,
    min_pending_deltas: int = 1,
) -> dict:
    """Fold unfolded deltas/batch_* into the base index as one new
    generation (see the module docstring for the commit protocol).
    Idempotent, and a crash leaves the old or the new generation.

    The fold is O(delta) and decodes nothing: doc_ids are append-only, so
    delta blocks are NEW (term, salt-range) rows disjoint from every base
    block — the folded postings table is literally base ∪ delta block rows.
    The delta files are linked into their bucket dirs of the pool, and the
    new postings list repeats every base file; nothing of the base is
    copied or linked.  term_stats = live stats + the deltas' per-term
    block-metadata sums (df = Σ n_docs, cf = Σ sum_tf; no doc overlap, so
    df/cf add exactly), read with pyarrow.  While the live term_stats has at
    most TERM_STATS_CACHE_MAX rows (parquet footer count) the merge runs on
    the coordinator with pyarrow, O(vocabulary) and no Spark job; above it,
    a Spark union/groupBy does the same merge.  The Lucene-tiered-merge /
    Iceberg-style fast path.

    mode picks the re-block policy that runs after the fold commits:
      "merge"  (default) defrag() every bucket the folded deltas touched, so
               tail terms fragmented across deltas end up in full blocks
               (the block rows of a fresh build over the union corpus).
               A crash between the fold and this re-block leaves a correct
               index whose touched buckets are not re-blocked; the next
               merge fold re-blocks the buckets its own deltas touch.
      "append" any bucket whose live file count exceeds auto_defrag_files
               is re-blocked via defrag() (other buckets keep their
               files), so the fast path does not rely on an operator
               running "merge" occasionally.  None disables the trigger.

    Only deltas whose delta_stats.json marker exists are folded; a delta
    still landing is left pending for a later call.

    Fold-batching policy (round-5 verdict item 2 — the drill measured a
    fixed ~60 s cost per fold, so folding every tiny batch caps sustained
    ingest at ~130 docs/s): the fold is DEFERRED (no-op returning
    {"deferred": ...}) while fewer than ``min_pending_deltas`` deltas are
    pending.  The default folds on every call.  Trade-off: docs in a
    deferred delta are not yet queryable, so time-to-queryable is bounded
    by (min_pending_deltas x batch interval) — pick the knob from the
    freshness SLA.

    Returns StageResults by step ("term_stats_compacted", and
    "postings_defragged" after a merge re-block); an "append" fold that
    re-blocked adds defrag()'s result under "defrag".  Raises ValueError
    when `config` disagrees with the index's layout (check_layout).
    """
    if mode not in ("merge", "append"):
        raise ValueError(f"unknown compaction mode {mode!r}")
    check_layout(index_dir, config)
    fs = read_field_stats(index_dir)
    folded = set(fs.get("folded_deltas", []))

    # delta_stats.json is a delta's commit marker (written last by the
    # delta writer): a dir without it has not finished landing
    pending = sorted(
        d for d in glob.glob(os.path.join(index_dir, "deltas", "batch_*"))
        if os.path.exists(os.path.join(d, "delta_stats.json"))
        and os.path.basename(d) not in folded
    )
    if not pending:
        return {}
    if len(pending) < min_pending_deltas:
        return {"deferred": True, "pending_deltas": len(pending)}

    # the delta block files join the pool under batch-prefixed names, so
    # repeated folds never collide
    linked = []
    for d in pending:
        for src in sorted(glob.glob(os.path.join(d, "bucket=*", "*.parquet"))):
            bdir, fn = os.path.split(src)
            rel = os.path.join("postings", os.path.basename(bdir),
                               f"{os.path.basename(d)}_{fn}")
            os.makedirs(os.path.dirname(os.path.join(index_dir, rel)),
                        exist_ok=True)
            _link(src, os.path.join(index_dir, rel))
            linked.append(rel)
    t0 = time.time()
    term_stats = _fold_term_stats(spark, index_dir, fs, pending)
    results = {"term_stats_compacted": _result(
        "term_stats_compacted", index_dir, term_stats, t0)}

    # exact field_stats scalars from the per-delta stats; they, the file
    # lists and folded_deltas commit together, so a re-run never
    # double-counts
    new = {**fs, "postings": sorted(fs["postings"] + linked),
           "term_stats": term_stats}
    for d in pending:
        with open(os.path.join(d, "delta_stats.json")) as f:
            ds = json.load(f)
        new["n_docs"] += ds["n_docs"]
        new["total_len"] += ds["total_len"]
        folded.add(os.path.basename(d))
    new["avg_doc_len"] = new["total_len"] / new["n_docs"] if new["n_docs"] else 0.0
    new["folded_deltas"] = sorted(folded)
    _commit(index_dir, fs, new)

    if mode == "merge":
        touched = sorted({_bucket(p) for p in linked})
        if touched:
            d = defrag(spark, index_dir, config, buckets=touched)
            results["postings_defragged"] = d["postings_defragged"]
    elif auto_defrag_files is not None:
        # tiering policy: append keeps each fold O(delta) but accretes one
        # file per (delta x delta file) in touched buckets — re-block any
        # bucket past the file-count threshold now, so tail-term
        # fragmentation is bounded without a manual merge
        d = defrag(
            spark, index_dir, config, max_files_per_bucket=auto_defrag_files
        )
        if d:
            results["defrag"] = d
    return results
