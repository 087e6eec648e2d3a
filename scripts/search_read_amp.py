"""Read amplification of search()'s tasks on a salted index.

Builds the perfbench corpus (perfbench/workload.py, one seed) into an index
with IndexConfig(n_buckets=8, salt_range=...), stops Spark, then replays
what each search() task reads for one 50-query Zipf batch: the query
terms' block rows of the task's salt ranges (query._read_blocks), one
task after another in this process, counting the bytes the process reads
(/proc/self/io rchar) per task.

    read amplification = bytes read by all tasks
                          / on-disk bytes of the query terms' rows

The terms' on-disk bytes are estimated as the touched files' bytes times
the terms' rows' share of those files' decoded Arrow bytes.  With
--row-group-rows, the same is measured again on copies of the touched
buckets rewritten sorted by (term, salt, block_id) with smaller row groups,
with the engine's `isin` term predicate and with an OR of equalities.
Prints one JSON object.  Linux only (rchar).

    python scripts/search_read_amp.py --docs 100000 --salt-range 16384 \\
        --tasks 4 --row-group-rows 4096 1024 --work /tmp/read_amp
"""

from __future__ import annotations

import argparse
import functools
import json
import operator
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.join(ROOT, "perfbench"), ROOT]
# Spark's Python workers import the engine from PYTHONPATH
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _rchar() -> int:
    with open("/proc/self/io") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("rchar"))


def build(work: str, n_docs: int, salt_range: int, seed: int, cpus: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from knowledgeir_spark.index.build import IndexConfig, build_index
    from knowledgeir_spark.session import get_spark
    from workload import Corpus, rng_for

    ids, texts, _ = Corpus(seed).docs(rng_for(seed, 1), n_docs, 0)
    src = os.path.join(work, "docs.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                             "text": pa.array(texts, pa.string())}), src)
    idx = os.path.join(work, "index")
    spark = get_spark(cpus=cpus)
    try:
        build_index(spark, spark.read.parquet(src), idx,
                    IndexConfig(n_buckets=8, salt_range=salt_range))
    finally:
        spark.stop()
    return idx


def measure(idx: str, tasks: int, seed: int, rg_rows: list[int]) -> dict:
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from knowledgeir_spark.index import query
    from workload import Corpus, rng_for

    reader = query.IndexReader(None, idx)  # df and file lists only: no Spark
    batch = Corpus(seed).zipf_queries(rng_for(seed, 3), 50, "q")
    _, all_terms = query._query_term_dicts(batch)
    terms = sorted(reader.term_stats_for(sorted(all_terms)))
    fs = reader.field_stats
    n_salts = -(-int(fs["n_docs"]) // int(fs["salt_range"])) or 1
    cols = [*query._BLOCK_COLUMNS, "salt"]

    def or_of_equalities(files, ts, columns, salts):
        """The engine's read with the term predicate as an OR of
        equalities, which pyarrow does prune row groups by (not `isin`)."""
        lo, hi = salts
        pred = functools.reduce(operator.or_, (ds.field("term") == t for t in ts))
        if lo is not None:
            pred &= ds.field("salt") >= lo
        if hi is not None:
            pred &= ds.field("salt") < hi
        return ds.dataset(files).to_table(columns=columns, filter=pred)

    def amplification(reads: list[tuple[list[str], list[str]]],
                      read_blocks=query._read_blocks) -> dict:
        """Bytes read per task count, against the terms' rows' bytes."""
        def read(salts):
            r0, nbytes = _rchar(), 0
            for files, ts in reads:
                nbytes += read_blocks(files, ts, cols, salts).nbytes
            return _rchar() - r0, nbytes

        files = [f for fs, _ in reads for f in fs]
        files_bytes = sum(map(os.path.getsize, files))
        all_rows = ds.dataset(files).to_table(columns=cols).nbytes
        read((None, None))  # warm the page cache
        out = {"files": len(files), "files_bytes": files_bytes,
               "row_groups_per_file": max(pq.ParquetFile(f).num_row_groups
                                          for f in files)}
        for n_tasks in sorted({1, tasks}):
            per_task = [read(s) for s in query._salt_ranges(n_salts, n_tasks)]
            # the terms' rows' share of the files' bytes, by decoded size
            term_disk = files_bytes * sum(nb for _, nb in per_task) / all_rows
            out[f"tasks_{n_tasks}"] = {
                "bytes_read": sum(b for b, _ in per_task),
                "terms_rows_disk_bytes_est": round(term_disk),
                "read_amplification": round(
                    sum(b for b, _ in per_task) / term_disk, 2),
            }
        return out

    # one read per bucket, so each copy below can hold one bucket's rows
    reads = [(reader._bucket_files[b], ts) for b, ts in reader._by_bucket(terms)]
    out = {"n_docs": int(fs["n_docs"]), "salt_range": int(fs["salt_range"]),
           "n_salts": n_salts, "query_terms": len(terms),
           "as_built": amplification(reads)}
    # each bucket's rows rewritten as one file sorted by (term, salt,
    # block_id) with row groups of `rows` rows, so the reader's statistics
    # can skip row groups (the built files hold several sorted runs: the
    # write's sort by bucket undoes the sort by term)
    for rows in rg_rows:
        copies = []
        for b, (files, ts) in enumerate(reads):
            copy = os.path.join(os.path.dirname(idx), f"rg{rows}_{b}.parquet")
            pq.write_table(
                pa.concat_tables(map(pq.read_table, files)).sort_by(
                    [("term", "ascending"), ("salt", "ascending"),
                     ("block_id", "ascending")]),
                copy, row_group_size=rows)
            copies.append(([copy], ts))
        out[f"row_groups_of_{rows}"] = amplification(copies)
        out[f"row_groups_of_{rows}_or_eq"] = amplification(copies, or_of_equalities)
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--salt-range", type=int, default=16_384)
    ap.add_argument("--tasks", type=int, default=4)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--row-group-rows", type=int, nargs="*", default=[],
                    help="also measure copies with row groups of this many rows")
    ap.add_argument("--work", required=True, help="scratch dir (deleted after)")
    args = ap.parse_args()
    os.makedirs(args.work, exist_ok=True)
    try:
        idx = build(args.work, args.docs, args.salt_range, args.seed, args.cpus)
        print(json.dumps(measure(idx, args.tasks, args.seed,
                                 args.row_group_rows)))
    finally:
        shutil.rmtree(args.work, ignore_errors=True)


if __name__ == "__main__":
    main()
