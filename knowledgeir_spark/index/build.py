"""Distributed inverted-index build (north_rule core).

Pipeline (each stage an idempotent lineage-tracked commit, plans/lineage.py):

  docs(doc_id, text)
    --[map-only: Arrow tokenize+count, functions/text.doc_terms]-->
  doc_terms(doc_id, term, tf, doc_len)                       [stage 1]
    --[salt = doc_id // salt_range; bucket = md5(term) % n_buckets;
       repartition(term, salt) + sortWithinPartitions(term, salt, doc_id);
       mapInArrow block encoder]-->
  postings(bucket=*/...)                                     [stage 2]
  term_stats(term, df, cf)                                   [stage 3]
  field_stats.json {n_docs, total_len, avg_doc_len,
                    generation: 1, postings: [...], term_stats: [...]}
                                                             [stage 4]

field_stats.json is the index's commit point: it lists the files of the
live generation (live_files), and postings/ and term_stats/ are pools that
later folds and defrags add files to (index/compact.py).

Skew strategy: the salt is a CONTIGUOUS doc_id range bucket, not a random
hash — so (a) a Zipf head term (df ~ n_docs) is split across ~n_docs/salt_range
groups, bounding every shuffle group to salt_range postings; (b) each
(term, salt) group covers a disjoint sorted doc range, so partial posting
blocks need NO re-merge: global posting order is (salt asc, block asc), and
query-time just sorts blocks by first_doc_id.  Tail terms (df << salt_range)
usually live in few salts, costing only a handful of extra block rows.
Catalyst/AQE does not salt aggregations by itself (SURVEY.md §4) — this is
the engine's custom physical strategy.

The bucket partition column gives query-time partition pruning: a query
touches <= |q| buckets out of n_buckets.

Doc ids: callers with natural int64 ids pass them through; url-keyed input
uses operators/ids.assign_doc_ids (deterministic dense ids).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections.abc import Iterator
from dataclasses import asdict, dataclass

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import doc_terms
from ..plans.lineage import StageManager, StageResult
from .codec import BLOCK_SIZE


@dataclass(frozen=True)
class IndexConfig:
    """Index layout, recorded in field_stats.json by build_index; maintenance
    calls refuse a config that disagrees with it (check_layout).  Posting
    payloads are always varint (index/codec.py)."""

    block_size: int = BLOCK_SIZE
    salt_range: int = 1 << 20      # docs per salt bucket (contiguous ranges)
    n_buckets: int = 32            # term-hash partition dirs (query pruning)
    build_partitions: int | None = None  # shuffle width; None -> session default
    tokenizer: str = "spec"        # "spec" (engine v1) | "simple" (SQL-parity)
    # "docid": blocks = contiguous doc_id runs (disjoint per-block id
    # ranges; enables decode-level WAND).  "impact": within each (term,
    # salt) group postings are BUCKETED into blocks by descending tf first
    # (block 0 = the group's top-tf postings), then each block re-sorted by
    # doc_id for delta coding — block score bounds become strictly
    # discriminative on Zipf corpora, so the serving top-k cut stops after
    # a few blocks where doc-ordered 128-blocks all share the head tf.
    block_order: str = "docid"     # "docid" | "impact"

    def fingerprint_dict(self) -> dict:
        return asdict(self)


# layout fields a maintenance call must share with the index it writes into
# (a different n_buckets would make readers prune to the wrong buckets;
# re-bucketing an index is a rebuild)
_LAYOUT_FIELDS = (
    "tokenizer", "block_size", "salt_range", "block_order", "n_buckets",
)

# compact(mode="append") merges delta stats into a term_stats table of at
# most this many rows on the coordinator with pyarrow; a larger vocabulary
# folds through a Spark union/groupBy.  (IndexReader does not read
# term_stats: its df comes from the posting blocks' term directory.)
TERM_STATS_CACHE_MAX = 2_000_000


def check_codec(field_stats: dict, index_dir: str) -> None:
    """Refuse an index whose posting payloads are not varint (an index
    written before the format went varint-only), or whose field_stats.json
    lists no generation files (written before the generation commit)."""
    if "generation" not in field_stats:
        raise ValueError(
            f"index {index_dir} has no generation file lists; rebuild it "
            "with build_index"
        )
    codec = field_stats.get("codec", "varint")
    if codec != "varint":
        raise ValueError(
            f"index {index_dir} stores {codec!r} posting payloads; only "
            "varint is readable — rebuild it with build_index"
        )


def read_field_stats(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "field_stats.json")) as f:
        return json.load(f)


def live_files(index_dir: str, table: str, fs: dict | None = None) -> list[str]:
    """Paths of the parquet files of `table` ("postings" or "term_stats")
    in the generation field_stats.json commits, or in `fs`, a field_stats
    dict read earlier (which pins that generation) or any dict holding
    `table`'s list.  Every reader of the tables resolves them here: the
    table directories are pools that also hold files of other
    generations."""
    if fs is None:
        fs = read_field_stats(index_dir)
    return [os.path.join(index_dir, p) for p in fs[table]]


def read_live(
    spark: SparkSession, index_dir: str, table: str, fs: dict | None = None
) -> DataFrame:
    """Spark scan of live_files(index_dir, table, fs); the postings'
    `bucket` partition column comes from the paths below the pool."""
    return spark.read.option(
        "basePath", os.path.join(index_dir, table)
    ).parquet(*live_files(index_dir, table, fs))


def check_layout(index_dir: str, config: IndexConfig) -> None:
    """Raise ValueError when `config` disagrees with the layout recorded in
    index_dir's field_stats.json (no base index yet: nothing to check).
    Deltas or re-blocked buckets written under another tokenizer, block
    size, salt range, block order or bucket count would silently mix two
    layouts."""
    if not os.path.exists(os.path.join(index_dir, "field_stats.json")):
        return
    fs = read_field_stats(index_dir)
    check_codec(fs, index_dir)
    diff = [
        f"{k}: index has {fs[k]!r}, config has {getattr(config, k)!r}"
        for k in _LAYOUT_FIELDS
        if k in fs and fs[k] != getattr(config, k)
    ]
    if diff:
        raise ValueError(
            f"IndexConfig does not match the layout of {index_dir}: "
            + "; ".join(diff)
        )


# what the block ENCODERS emit; `bucket` is appended afterwards from the
# block rows (term_bucket_expr over ~1/25 the rows — hashing every long-form
# posting cost ~16s of an 82M-row scan stage)
ENCODER_SCHEMA = (
    "term string, salt long, block_id int, n_docs int, "
    "first_doc_id long, max_doc_id long, max_tf int, min_doc_len int, "
    "doc_id_deltas binary, tfs binary, doc_lens binary, sum_tf long"
)
POSTINGS_SCHEMA = f"bucket int, {ENCODER_SCHEMA}"


def choose_salt_range(n_docs: int, parallelism: int,
                      min_range: int = 1024, max_range: int = 1 << 20) -> int:
    """Size the contiguous doc-id salt range so a Zipf head term
    (df ~ n_docs) splits into ~4x `parallelism` groups (good balance) while
    every shuffle group stays <= salt_range postings (bounded memory).
    Clamped: below 1024 the per-group overhead dominates; above 2^20 a
    single group's decode buffer gets large.  At 10^12 docs with ~10^4 cores
    this lands on the max (2^20 ~ 1M postings ~ 2-4MB per group)."""
    target = n_docs // max(4 * parallelism, 1) or 1
    return int(min(max(target, min_range), max_range))


def term_bucket_py(term: str, n_buckets: int) -> int:
    """Portable term -> bucket hash (computable without Spark at query time)."""
    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % n_buckets


def term_bucket_expr(term: Column, n_buckets: int) -> Column:
    """JVM-side equivalent of term_bucket_py (md5 hex prefix, base-16 parse)."""
    return F.pmod(
        F.conv(F.substring(F.md5(term.cast("binary")), 1, 8), 16, 10).cast("long"),
        F.lit(n_buckets),
    ).cast("int")


def _impact_order(grp_id: np.ndarray, offs: np.ndarray, ids: np.ndarray,
                  tfs: np.ndarray, block_size: int) -> np.ndarray:
    """Permutation for block_order="impact": within each (term, salt) group
    (rows sorted by term, salt, doc_id; grp_id numbers the groups, offs is
    each row's offset in its group) assign postings to blocks by DESCENDING
    tf (ties: doc_id asc, deterministic), then re-sort each block by doc_id
    so the delta codec still sees ascending ids.  Groups keep their row
    extents, so the encoder emits the same (term, salt, block_id) keys as
    under docid order — only block membership differs.  A doc still
    appears in exactly one block per term; only block METADATA sharpens
    (block 0 carries the group's max tf, later blocks strictly lower),
    which is what makes the serving bound-cut discriminative."""
    order = np.lexsort((ids, -tfs.astype(np.int64), grp_id))
    blk = offs // block_size
    return order[np.lexsort((ids[order], blk, grp_id))]


def _make_block_builder_arrow(block_size: int, block_order: str = "docid"):
    """mapInArrow fn: partition rows sorted by (term, salt, doc_id) ->
    posting-block rows.  Streams Arrow batches with a carry buffer so a
    (term, salt) group spanning batch boundaries is encoded exactly once;
    memory is bounded by max group size (<= salt_range postings) + one batch.
    block_order="impact" re-buckets each group's postings into blocks by
    descending tf before encoding (see _impact_order).

    The term column stays an Arrow array end to end: boundary detection is
    an Arrow compute kernel over shifted slices, the numeric columns are
    zero-copy numpy views, block terms come out via take(), and the three
    varint payload columns are built by RE-SLICING the single encoded stream
    with a per-block offsets array over the same buffer
    (pyarrow.Array.from_buffers — no per-block byte copies at all)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from .codec import varint_encode_with_offsets

    def _payload_col(data: bytes, val_off: np.ndarray,
                     blk_bounds: np.ndarray) -> "pa.Array":
        # arrow binary layout == one data buffer + int32 offsets; block i
        # spans values [blk_bounds[i], blk_bounds[i+1]) of the stream
        offs = val_off[blk_bounds].astype(np.int32)
        return pa.Array.from_buffers(
            pa.binary(), len(blk_bounds) - 1,
            [None, pa.py_buffer(offs.tobytes()), pa.py_buffer(data)],
        )

    def group_starts(tbl: "pa.Table"):
        """(terms, salts, mask of rows that open a (term, salt) group)."""
        n = tbl.num_rows
        terms = tbl["term"].combine_chunks()
        salts = tbl["salt"].to_numpy()
        new_grp = np.ones(n, dtype=bool)
        if n > 1:
            t_neq = pc.not_equal(
                terms.slice(1), terms.slice(0, n - 1)
            ).to_numpy(zero_copy_only=False)
            new_grp[1:] = t_neq | (salts[1:] != salts[:-1])
        return terms, salts, new_grp

    def encode_table(tbl: "pa.Table") -> "pa.RecordBatch":
        n = tbl.num_rows
        terms, salts, new_grp = group_starts(tbl)
        ids = tbl["doc_id"].to_numpy().astype(np.uint64)
        tfs = tbl["tf"].to_numpy().astype(np.uint64)
        dls = tbl["doc_len"].to_numpy().astype(np.uint64)
        grp_starts = np.flatnonzero(new_grp)
        sizes = np.diff(np.append(grp_starts, n))
        offs = np.arange(n, dtype=np.int64) - np.repeat(grp_starts, sizes)
        if block_order == "impact":
            perm = _impact_order(
                np.cumsum(new_grp) - 1, offs, ids, tfs, block_size
            )
            ids, tfs, dls = ids[perm], tfs[perm], dls[perm]
        blk_starts = np.flatnonzero(offs % block_size == 0)
        blk_ends = np.append(blk_starts[1:], n)
        blk_bounds = np.append(blk_starts, n)
        deltas = ids.copy()
        deltas[1:] -= ids[:-1]
        deltas[blk_starts] = ids[blk_starts]
        d_bytes, d_off = varint_encode_with_offsets(deltas)
        t_bytes, t_off = varint_encode_with_offsets(tfs)
        l_bytes, l_off = varint_encode_with_offsets(dls)
        last = blk_ends - 1
        idx = pa.array(blk_starts)
        return pa.RecordBatch.from_arrays(
            [
                pc.take(terms, idx),
                pa.array(salts[blk_starts].astype(np.int64)),
                pa.array((offs[blk_starts] // block_size).astype(np.int32)),
                pa.array((blk_ends - blk_starts).astype(np.int32)),
                pa.array(ids[blk_starts].astype(np.int64)),
                pa.array(ids[last].astype(np.int64)),
                pa.array(np.maximum.reduceat(tfs, blk_starts).astype(np.int32)),
                pa.array(np.minimum.reduceat(dls, blk_starts).astype(np.int32)),
                _payload_col(d_bytes, d_off, blk_bounds),
                _payload_col(t_bytes, t_off, blk_bounds),
                _payload_col(l_bytes, l_off, blk_bounds),
                pa.array(np.add.reduceat(
                    tfs.astype(np.int64), blk_starts).astype(np.int64)),
            ],
            names=[
                "term", "salt", "block_id", "n_docs",
                "first_doc_id", "max_doc_id", "max_tf", "min_doc_len",
                "doc_id_deltas", "tfs", "doc_lens", "sum_tf",
            ],
        )

    def builder(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        carry: "pa.Table | None" = None
        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            if carry is not None and carry.num_rows:
                tbl = pa.concat_tables([carry, tbl]).combine_chunks()
            if not tbl.num_rows:
                continue
            # split off the (possibly batch-spanning) last (term, salt) group
            last_start = int(np.flatnonzero(group_starts(tbl)[2])[-1])
            carry = tbl.slice(last_start)
            if last_start:
                yield encode_table(tbl.slice(0, last_start))
        if carry is not None and carry.num_rows:
            yield encode_table(carry)

    return builder


def block_term_stats(dirs: list[str]):
    """(term string, df long, cf long) over the posting-block files under
    dirs (``<dir>/bucket=*/*.parquet``), from block metadata alone: df =
    sum(n_docs), cf = sum(sum_tf), since every doc-term posting lands in
    exactly one block.  Read with pyarrow on the coordinator, so it is meant
    for delta-sized dirs; nothing is decoded."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    files = sorted(
        f for d in dirs
        for f in glob.glob(os.path.join(d, "bucket=*", "*.parquet"))
    )
    blocks = (
        ds.dataset(files, format="parquet").to_table(
            columns=["term", "n_docs", "sum_tf"])
        if files else
        pa.table({"term": pa.array([], pa.string()),
                  "n_docs": pa.array([], pa.int64()),
                  "sum_tf": pa.array([], pa.int64())})
    )
    agg = blocks.group_by("term").aggregate([("n_docs", "sum"), ("sum_tf", "sum")])
    return pa.table({
        "term": agg["term"].cast(pa.string()),
        "df": agg["n_docs_sum"].cast(pa.int64()),
        "cf": agg["sum_tf_sum"].cast(pa.int64()),
    })


def apply_block_encoder(sorted_df: DataFrame, config: IndexConfig) -> DataFrame:
    """Partition rows sorted by (term, salt, doc_id) -> posting-block rows
    (POSTINGS_SCHEMA) through the Arrow block builder.  The term-hash
    `bucket` is computed HERE, on the ~1/25-sized block rows, not per
    posting."""
    encoded = sorted_df.mapInArrow(
        _make_block_builder_arrow(config.block_size, config.block_order),
        ENCODER_SCHEMA,
    )
    return encoded.withColumn(
        "bucket", term_bucket_expr(F.col("term"), config.n_buckets)
    )


def build_index(
    spark: SparkSession,
    docs_df: DataFrame,
    index_dir: str,
    config: IndexConfig = IndexConfig(),
    input_token: str = "",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, StageResult]:
    """Build (or resume) the full index at index_dir.  Returns stage results
    (each .skipped tells whether the committed snapshot was reused)."""
    mgr = StageManager(index_dir)
    # format 2 = sum_tf block column; format 3 = varint-only payloads;
    # format 4 = generation file lists in field_stats.json.  Bumping the
    # fingerprint keeps resume from ever pairing new code with an old
    # snapshot
    conf = {"input": input_token, "format": 4, **config.fingerprint_dict()}
    results: dict[str, StageResult] = {}

    # stage 1: long-form doc terms (map-only tokenize+TF)
    def write_doc_terms(tmp: str):
        dt = doc_terms(
            docs_df, text_col=text_col, id_col=id_col,
            simple=(config.tokenizer == "simple"),
        )
        if id_col != "doc_id":
            dt = dt.withColumnRenamed(id_col, "doc_id")
        dt.write.parquet(tmp)

    results["doc_terms"] = mgr.run("doc_terms", conf, write_doc_terms)
    dt = spark.read.parquet(mgr.stage_path("doc_terms"))

    # stage 2: salted block build
    def write_postings(tmp: str):
        parts = config.build_partitions or spark.conf.get(
            "spark.sql.shuffle.partitions"
        )
        # the configured width is a data-sized floor (spill bound); never run
        # the encode stage below the session's core count — a 16-partition
        # shuffle on 32 cores leaves half the Python encoders idle
        parts = max(int(parts), spark.sparkContext.defaultParallelism)
        salted = dt.select(
            "doc_id", "term",
            # narrower types across the exchange and the Python boundary
            # (guide §2.3): tf / doc_len are per-doc token counts, always
            # int32-safe; the encoder widens back to uint64 so the varint
            # payloads are byte-identical
            F.col("tf").cast("int").alias("tf"),
            F.col("doc_len").cast("int").alias("doc_len"),
            (F.col("doc_id") / config.salt_range).cast("long").alias("salt"),
        )
        (
            apply_block_encoder(
                salted.repartition(parts, "term", "salt")
                .sortWithinPartitions("term", "salt", "doc_id"),
                config,
            )
            # block rows are ~1/100 the size of the long-form postings, so a
            # second (cheap) exchange by bucket keeps the file count at
            # ~n_buckets instead of shuffle_partitions x n_buckets tiny files;
            # sorting by term inside each bucket file gives parquet row-group
            # min/max stats that let a query skip non-matching row groups
            .repartition(config.n_buckets, "bucket")
            .sortWithinPartitions("term", "salt", "block_id")
            .write.partitionBy("bucket")
            .parquet(tmp)
        )

    results["postings"] = mgr.run("postings", conf, write_postings)

    def gen_files(stage: str) -> list[str]:
        """The stage's files, relative to index_dir: generation 1 lists."""
        return [os.path.join(stage, f["file"]) for f in results[stage].files]

    # stage 3: term stats (df = distinct docs, cf = collection tf).
    # Aggregated from the block METADATA (sum of per-block n_docs / sum_tf)
    # instead of the long form: ~1/25 the rows for identical values (every
    # doc-term posting lands in exactly one block).
    def write_term_stats(tmp: str):
        blocks = read_live(spark, index_dir, "postings",
                           {"postings": gen_files("postings")})
        (
            blocks.groupBy("term")
            .agg(
                F.sum("n_docs").cast("long").alias("df"),
                F.sum("sum_tf").cast("long").alias("cf"),
            )
            .write.parquet(tmp)
        )

    results["term_stats"] = mgr.run("term_stats", conf, write_term_stats)

    # stage 4: field-level scalars (computed over ALL docs incl. empty);
    # total_len = sum of collection tf = sum(cf) over the (small) term_stats
    # table — the long form is never re-scanned.  Re-committed whenever a
    # stage above was recomputed, so the file lists never name a file the
    # recompute removed
    if not mgr.is_json_committed("field_stats", conf) or not all(
        r.skipped for r in results.values()
    ):
        n_docs = docs_df.count()
        ts = read_live(spark, index_dir, "term_stats",
                       {"term_stats": gen_files("term_stats")})
        row = ts.agg(F.sum("cf").alias("total_len")).collect()[0]
        total_len = int(row["total_len"] or 0)
        mgr.put_json(
            "field_stats", conf,
            {
                "n_docs": n_docs,
                "total_len": total_len,
                "avg_doc_len": (total_len / n_docs) if n_docs else 0.0,
                "n_buckets": config.n_buckets,
                "block_size": config.block_size,
                "salt_range": config.salt_range,
                "codec": "varint",
                "block_order": config.block_order,
                "tokenizer": config.tokenizer,
                "generation": 1,
                "postings": gen_files("postings"),
                "term_stats": gen_files("term_stats"),
            },
        )
    return results
