"""Driver-contract simulation: run every registered query through BOTH the
Spark engine and its DuckDB oracle at sf0.01 and compare rows / schema /
typed values — the same three checks the round driver records in
CORRECTNESS_rN.json.  The typed comparison is deliberately strict (dtype
KIND must agree after Arrow conversion) because the driver hashes typed
values: a DuckDB HUGEINT surfacing as decimal128 fails the driver even when
the numbers match (round-4 verdict, repetition_features).

Usage: python scripts/oracle_gate.py [sf_dir] [query ...]
"""
from __future__ import annotations

import os
import sys
import time

# the checkout this script lives in: its package is the one under test, in
# the driver and (through PYTHONPATH) in Spark's Python workers
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _normalize(pdf):
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    # Arrow large_string/string etc. all land as object; make NaN/None match
    pdf = pdf.sort_values(by=list(pdf.columns), ignore_index=True)
    return pdf


def _kind(dtype) -> str:
    import pandas as pd

    k = dtype.kind if hasattr(dtype, "kind") else "O"
    # driver treats all ints alike and all floats alike, but int != decimal
    return {"i": "i", "u": "i", "f": "f", "O": "O", "b": "b", "M": "M"}.get(
        k, k
    )


def main() -> int:
    import duckdb
    import pandas as pd

    import __spark_entry__ as e
    from knowledgeir_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    qs = e.queries()
    oracles = e.oracle_sql()
    spark = get_spark(cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
            if name not in oracles:
                print(f"{name:32s} rows={len(spdf)} (no oracle: rows-only) "
                      f"[{time.time()-t0:.1f}s]")
                continue
            opdf = con.execute(oracles[name]).arrow().to_pandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name:32s} ERROR: {type(ex).__name__}: {ex}")
            n_fail += 1
            continue
        problems = []
        if len(spdf) != len(opdf):
            problems.append(f"rows {len(spdf)} != {len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            problems.append(
                f"schema {sorted(spdf.columns)} != {sorted(opdf.columns)}"
            )
        if not problems:
            # normalize/compare inside the same guard as query execution: a
            # pandas comparison error on one pathological query must record
            # a FAIL for that query, not abort the whole gate (round-5
            # ADVICE item)
            try:
                s, o = _normalize(spdf), _normalize(opdf)
                for c in s.columns:
                    ks, ko = _kind(s[c].dtype), _kind(o[c].dtype)
                    if ks != ko:
                        # decimal/object vs int is exactly the driver's
                        # HUGEINT failure mode
                        problems.append(
                            f"dtype[{c}] {s[c].dtype} != {o[c].dtype}"
                        )
                if not problems:
                    pd.testing.assert_frame_equal(
                        s, o, check_dtype=False, check_exact=True
                    )
            except AssertionError as ex:
                problems.append(f"values: {str(ex).splitlines()[-1]}")
            except Exception as ex:  # noqa: BLE001
                problems.append(f"compare: {type(ex).__name__}: {ex}")
        status = "OK " if not problems else "FAIL"
        if problems:
            n_fail += 1
        print(f"{name:32s} {status} rows={len(spdf)} "
              f"[{time.time()-t0:.1f}s]" + (
                  "  " + "; ".join(problems) if problems else ""))
        sys.stdout.flush()
    spark.stop()
    print(f"\n{'ALL GREEN' if n_fail == 0 else f'{n_fail} FAILURES'} "
          f"({len(qs)} queries)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
