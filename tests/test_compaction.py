"""Index lifecycle: base build -> streaming deltas -> compaction -> queries
rank-identical to a from-scratch oracle over the UNION corpus."""

from __future__ import annotations

import pytest

from knowledgeir_spark.index.build import (
    IndexConfig, build_index, live_files, read_field_stats, read_live,
)
from knowledgeir_spark.index.compact import compact, decode_postings_df
from knowledgeir_spark.index.query import IndexReader
from knowledgeir_spark.oracle.index import OracleIndex
from knowledgeir_spark.streaming.incremental import incremental_index

CFG = IndexConfig(block_size=16, salt_range=64, n_buckets=4, build_partitions=4)


def test_compacted_index_equals_fresh_oracle(spark, webpages_pdf, tmp_path):
    idx_dir = str(tmp_path / "idx")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    base_pdf = pdf.iloc[:200]
    delta1 = pdf.iloc[200:250]
    delta2 = pdf.iloc[250:300]

    docs = spark.createDataFrame(base_pdf[["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200")

    inp = str(tmp_path / "arrivals")
    schema = "doc_id long, text string"
    spark.createDataFrame(delta1[["doc_id", "text"]]).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    spark.createDataFrame(delta2[["doc_id", "text"]]).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)

    res = compact(spark, idx_dir, CFG)
    assert res and not any(r.skipped for r in res.values())

    # postings now cover all 300 docs; equality vs full oracle
    oracle = OracleIndex(list(zip(pdf["doc_id"], pdf["text"])))
    reader = IndexReader(spark, idx_dir)
    assert reader.field_stats["n_docs"] == 300
    assert reader.field_stats["avg_doc_len"] == pytest.approx(oracle.avg_doc_len, abs=1e-9)

    long_form = decode_postings_df(
        read_live(spark, idx_dir, "postings")
    ).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t

    queries = [("1", "the data spark w0005"), ("2", "w0100 w0200"), ("3", "index")]
    for qid, qtext in queries:
        ranked = reader.search([(qid, qtext)], k=15).collect()
        expected = oracle.topk(qtext, k=15)
        assert [(r["doc_id"]) for r in sorted(ranked, key=lambda r: r["rank"])] == [
            d for d, _ in expected
        ], qtext
        for r in ranked:
            assert r["score"] == pytest.approx(dict(expected)[r["doc_id"]], abs=1e-6)


def test_compact_noop_without_deltas(spark, webpages_pdf, tmp_path):
    idx_dir = str(tmp_path / "idx2")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"}).iloc[:50]
    docs = spark.createDataFrame(pdf[["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="t50")
    assert compact(spark, idx_dir, CFG) == {}


def test_compact_rerun_and_new_delta(spark, webpages_pdf, tmp_path):
    """Idempotency: a re-run after compaction is a no-op; a later delta folds
    only ITSELF (no re-union of already-folded deltas, no double-counted
    stats)."""
    import json
    import os

    idx_dir = str(tmp_path / "idx3")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")

    inp = str(tmp_path / "arr3")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[100:140][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG)

    with open(os.path.join(idx_dir, "field_stats.json")) as f:
        fs1 = json.load(f)
    assert fs1["n_docs"] == 140 and len(fs1["folded_deltas"]) == 1
    # consumed deltas are recorded -> immediate re-run is a no-op
    assert compact(spark, idx_dir, CFG) == {}
    with open(os.path.join(idx_dir, "field_stats.json")) as f:
        assert json.load(f) == fs1

    # a later delta folds alone on top of the compacted base
    spark.createDataFrame(pdf.iloc[140:170][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG)
    with open(os.path.join(idx_dir, "field_stats.json")) as f:
        fs2 = json.load(f)
    assert fs2["n_docs"] == 170 and len(fs2["folded_deltas"]) == 2

    oracle = OracleIndex(list(zip(pdf.iloc[:170]["doc_id"], pdf.iloc[:170]["text"])))
    long_form = decode_postings_df(read_live(spark, idx_dir, "postings")).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t


def test_compact_recovers_stats_commit_crash(
    spark, webpages_pdf, tmp_path, monkeypatch
):
    """Crash just before the commit point (the field_stats.json replace):
    the pool already holds the fold's files, but field_stats.json is the
    whole pre-fold file, so the index reads exactly as before the fold.  A
    re-run folds the delta once and equals an uninterrupted fold."""
    import json
    import os
    import shutil

    import knowledgeir_spark.index.compact as cm

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "sc")
    pre, ref = str(tmp_path / "sc_pre"), str(tmp_path / "sc_ref")
    shutil.copytree(idx_dir, pre)
    shutil.copytree(idx_dir, ref)
    assert compact(spark, ref, CFG, mode="append")
    fs_path = os.path.join(idx_dir, "field_stats.json")
    with open(fs_path) as f:
        fs_pre = f.read()

    def crash(*_a, **_kw):
        raise RuntimeError("simulated crash before the stats commit")

    monkeypatch.setattr(cm, "_atomic_write_json", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, idx_dir, CFG, mode="append")
    monkeypatch.undo()

    with open(fs_path) as f:
        assert f.read() == fs_pre
    assert _index_diff(idx_dir, pre) is None
    assert IndexReader(spark, idx_dir).field_stats["n_docs"] == 100

    compact(spark, idx_dir, CFG, mode="append")  # recovery run
    assert _index_diff(idx_dir, ref) is None
    with open(fs_path) as f:
        fs_after = json.load(f)
    assert fs_after["n_docs"] == 130 and len(fs_after["folded_deltas"]) == 1
    # postings were NOT unioned twice: same physical row count
    assert read_live(spark, idx_dir, "postings").count() == \
        read_live(spark, ref, "postings").count()
    _assert_matches_oracle(spark, idx_dir, corpus)


def _build_with_one_delta(spark, webpages_pdf, tmp_path, tag):
    """base 100 docs + one 30-doc streaming delta, NOT yet compacted."""
    idx_dir = str(tmp_path / f"idx_{tag}")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")
    inp = str(tmp_path / f"arr_{tag}")
    spark.createDataFrame(pdf.iloc[100:130][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    return idx_dir, pdf.iloc[:130]


def _assert_matches_oracle(spark, idx_dir, corpus_pdf):
    """Postings AND term_stats exactly match a from-scratch oracle over the
    union corpus (catches both duplicated postings and stale df/cf)."""
    oracle = OracleIndex(list(zip(corpus_pdf["doc_id"], corpus_pdf["text"])))
    long_form = decode_postings_df(read_live(spark, idx_dir, "postings")).collect()
    got: dict[str, list] = {}
    for r in long_form:
        got.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    assert set(got) == set(oracle.postings)
    for t in got:
        assert sorted(got[t]) == sorted(oracle.postings[t]), t
    stats = {
        r["term"]: (r["df"], r["cf"])
        for r in read_live(spark, idx_dir, "term_stats").collect()
    }
    for t, plist in oracle.postings.items():
        assert stats[t] == (len(plist), sum(tf for _, tf in plist)), t


def _index_diff(a: str, b: str):
    """scripts/index_diff.py's first difference between two indexes' live
    generations, or None."""
    import importlib.util
    import pathlib

    path = pathlib.Path(__file__).parents[1] / "scripts" / "index_diff.py"
    spec = importlib.util.spec_from_file_location("index_diff", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.index_diff(a, b)


def _defragged_buckets(idx_dir: str) -> list[int]:
    """Buckets holding files the live generation's own defrag wrote (named
    g<generation>_*)."""
    import os

    prefix = f"g{read_field_stats(idx_dir)['generation']}_"
    return sorted({
        int(os.path.basename(os.path.dirname(p)).split("=", 1)[1])
        for p in live_files(idx_dir, "postings")
        if os.path.basename(p).startswith(prefix)
    })


def test_compact_recovers_crash_before_term_stats_write(
    spark, webpages_pdf, tmp_path, monkeypatch
):
    """Crash after the delta files are linked into the postings pool but
    before the folded term_stats is written: nothing lists the linked
    files, so the index reads exactly as before; the recovery run relinks
    them, and equals an uninterrupted fold."""
    import os
    import shutil

    import knowledgeir_spark.index.compact as cm

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "c1")
    pre, ref = str(tmp_path / "c1_pre"), str(tmp_path / "c1_ref")
    shutil.copytree(idx_dir, pre)
    shutil.copytree(idx_dir, ref)
    compact(spark, ref, CFG)

    def crash(*_a, **_kw):
        raise RuntimeError("simulated crash before the term_stats write")

    monkeypatch.setattr(cm, "_fold_term_stats", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, idx_dir, CFG)
    monkeypatch.undo()

    # the linked files are really in the pool, and listed by nothing
    linked = [p for p in os.listdir(f"{idx_dir}/postings/bucket=0")
              if p.startswith("batch_")]
    assert linked
    assert _index_diff(idx_dir, pre) is None
    res = compact(spark, idx_dir, CFG)  # recovery run
    assert res and not any(r.skipped for r in res.values())
    _assert_matches_oracle(spark, idx_dir, corpus)
    assert _index_diff(idx_dir, ref) is None


def test_compact_recovers_crash_before_cleanup(
    spark, webpages_pdf, tmp_path, monkeypatch
):
    """Crash right after the field_stats.json replace, before the files no
    generation needs are deleted: the index reads as the new generation, a
    re-run has nothing to fold, and the next commit deletes the leftovers."""
    import json
    import os

    import knowledgeir_spark.index.compact as cm

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "c2")
    real = cm._atomic_write_json

    def commit_then_crash(path, obj):
        real(path, obj)
        raise RuntimeError("simulated crash before cleanup")

    monkeypatch.setattr(cm, "_atomic_write_json", commit_then_crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, idx_dir, CFG, mode="append")
    monkeypatch.undo()

    _assert_matches_oracle(spark, idx_dir, corpus)
    with open(f"{idx_dir}/field_stats.json") as f:
        fs = json.load(f)
    assert fs["n_docs"] == 130 and len(fs["folded_deltas"]) == 1
    assert fs["generation"] == 2
    # idempotent afterwards
    assert compact(spark, idx_dir, CFG, mode="append") == {}
    # the build's _SUCCESS marker is listed by no generation: it stays
    # until the next commit's cleanup
    assert os.path.exists(f"{idx_dir}/postings/_SUCCESS")
    from knowledgeir_spark.index.compact import defrag

    defrag(spark, idx_dir, CFG, buckets=[0])
    assert not os.path.exists(f"{idx_dir}/postings/_SUCCESS")
    _assert_matches_oracle(spark, idx_dir, corpus)


class _Crash(Exception):
    pass


class _CrashingOs:
    """Stands in for the os module inside index/compact.py: counts the
    calls that change the index directory (link, replace, remove) and
    raises _Crash instead of making call number `at`."""

    WRITES = ("link", "replace", "remove")

    def __init__(self, at: int | None):
        import os

        self._os, self.at, self.calls = os, at, []

    def __getattr__(self, name):
        real = getattr(self._os, name)
        if name not in self.WRITES:
            return real

        def step(*a, **kw):
            self.calls.append(name)
            if len(self.calls) == self.at:
                raise _Crash(f"crash before {name} #{self.at}")
            return real(*a, **kw)

        return step


@pytest.mark.parametrize("op", ["fold", "defrag"])
def test_crash_at_every_write_step_reads_old_or_new(
    spark, webpages_pdf, tmp_path, monkeypatch, op
):
    """Inject a crash before each write step of an append fold and of a
    defrag (every link and replace, and the first delete of the cleanup):
    after each, a fresh reader sees exactly the old or exactly the new
    index, and a re-run converges to an uninterrupted run (index_diff)."""
    import shutil

    import knowledgeir_spark.index.compact as cm

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, op)
    if op == "defrag":  # re-block two buckets of the folded index
        compact(spark, idx_dir, CFG, mode="append")
        corpus_old = corpus_new = corpus
    else:
        corpus_old, corpus_new = corpus.iloc[:100], corpus

    def run(path):
        if op == "fold":
            return compact(spark, path, CFG, mode="append",
                           auto_defrag_files=None)
        return cm.defrag(spark, path, CFG, buckets=[0, 1])

    old = str(tmp_path / f"{op}_old")
    shutil.copytree(idx_dir, old)
    new = str(tmp_path / f"{op}_new")
    shutil.copytree(idx_dir, new)
    rec = _CrashingOs(None)
    monkeypatch.setattr(cm, "os", rec)
    assert run(new)
    monkeypatch.undo()
    # every link and replace, then the cleanup's first delete
    steps = [i + 1 for i, n in enumerate(rec.calls) if n != "remove"]
    steps += [rec.calls.index("remove") + 1] if "remove" in rec.calls else []
    assert len(steps) >= 3, rec.calls

    oracle_old = OracleIndex(list(zip(corpus_old["doc_id"], corpus_old["text"])))
    oracle_new = OracleIndex(list(zip(corpus_new["doc_id"], corpus_new["text"])))
    for at in steps:
        path = str(tmp_path / f"{op}_crash_{at}")
        shutil.copytree(old, path)
        monkeypatch.setattr(cm, "os", _CrashingOs(at))
        with pytest.raises(_Crash):
            run(path)
        monkeypatch.undo()
        as_old, as_new = _index_diff(path, old), _index_diff(path, new)
        assert as_old is None or as_new is None, (at, as_old, as_new)
        reader = IndexReader(spark, path)
        oracle = oracle_old if as_old is None else oracle_new
        for q in ("the data spark w0005", "w0100 w0200"):
            got = reader.search_local([("1", q)], k=10)
            assert [r[1] for r in got] == [d for d, _ in oracle.topk(q, k=10)]
        run(path)  # re-run after the crash
        assert _index_diff(path, new) is None, at
        shutil.rmtree(path)


def test_compact_rewrites_only_touched_buckets(spark, webpages_pdf, tmp_path):
    """Per-bucket incremental merge: a delta touching one term-hash bucket
    must leave every other bucket's parquet files physically intact (same
    inodes, carried as hardlinks) while the merged index still matches a
    from-scratch oracle."""
    import os

    from knowledgeir_spark.index.build import term_bucket_py

    idx_dir = str(tmp_path / "idx_pb")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base100")

    # one new doc with a single novel term -> exactly one touched bucket
    term = "zqxjkvbn"
    tb = term_bucket_py(term, CFG.n_buckets)
    inp = str(tmp_path / "arr_pb")
    spark.createDataFrame(
        [(500, term)], "doc_id long, text string"
    ).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)

    def bucket_inodes(bucket: int) -> set[int]:
        return {
            os.stat(p).st_ino for p in live_files(idx_dir, "postings")
            if os.path.dirname(p).endswith(f"bucket={bucket}")
        }

    pre = {b: bucket_inodes(b) for b in range(CFG.n_buckets) if b != tb}
    assert all(pre.values())  # every untouched bucket has base data

    assert compact(spark, idx_dir, CFG)

    assert _defragged_buckets(idx_dir) == [tb]
    for b, inodes in pre.items():
        assert bucket_inodes(b) == inodes, f"bucket {b} was rewritten"

    corpus = list(zip(pdf.iloc[:100]["doc_id"], pdf.iloc[:100]["text"])) + [
        (500, term)
    ]
    import pandas as pd

    _assert_matches_oracle(
        spark, idx_dir, pd.DataFrame(corpus, columns=["doc_id", "text"])
    )


def test_append_compaction_equals_fresh_oracle(spark, webpages_pdf, tmp_path):
    """mode='append': O(delta) compaction — base files carry over by inode
    (nothing decoded or rewritten), delta blocks land in their bucket dirs,
    term_stats sum exactly — and the result matches a from-scratch oracle
    and answers queries rank-identically."""
    import os

    from knowledgeir_spark.index.query import IndexReader

    idx_dir = str(tmp_path / "idx_app")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200")

    inp = str(tmp_path / "arr_app")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[200:250][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    spark.createDataFrame(pdf.iloc[250:300][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)

    def inodes(idx_dir):
        return {os.stat(p).st_ino for p in live_files(idx_dir, "postings")}

    base_inodes = inodes(idx_dir)
    res = compact(spark, idx_dir, CFG, mode="append")
    assert res and not any(r.skipped for r in res.values())
    after = inodes(idx_dir)
    assert base_inodes <= after  # every base file carried over untouched

    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:300])

    # idempotent re-run; queries rank-identical to the from-scratch oracle
    assert compact(spark, idx_dir, CFG, mode="append") == {}
    oracle = OracleIndex(list(zip(pdf.iloc[:300]["doc_id"],
                                  pdf.iloc[:300]["text"])))
    reader = IndexReader(spark, idx_dir)
    assert reader.field_stats["n_docs"] == 300
    for qid, qtext in [("1", "the data spark w0005"), ("2", "w0100 w0200")]:
        ranked = reader.search([(qid, qtext)], k=15).collect()
        expected = oracle.topk(qtext, k=15)
        assert [r["doc_id"] for r in sorted(ranked, key=lambda r: r["rank"])] \
            == [d for d, _ in expected], qtext
        for r in ranked:
            assert r["score"] == pytest.approx(dict(expected)[r["doc_id"]],
                                               abs=1e-6)

    # a later delta can be folded by the MERGE mode on top of the appended
    # snapshot (defragmentation path composes with the fast path)
    extra = pdf.iloc[:50].copy()
    extra["doc_id"] = extra["doc_id"] + 1000
    spark.createDataFrame(extra[["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    assert compact(spark, idx_dir, CFG, mode="merge")
    full = list(zip(pdf.iloc[:300]["doc_id"], pdf.iloc[:300]["text"])) + list(
        zip(extra["doc_id"], extra["text"])
    )
    import pandas as pd

    _assert_matches_oracle(
        spark, idx_dir, pd.DataFrame(full, columns=["doc_id", "text"])
    )


def test_append_auto_defrag_rewrites_only_fragmented_buckets(
    spark, webpages_pdf, tmp_path
):
    """Tiering policy: repeated append folds fragment a bucket's dir; once
    its file count crosses auto_defrag_files, compact(mode='append')
    re-blocks THAT bucket automatically while buckets under the threshold
    keep their files byte-identical (same inodes), and the defragged index
    still matches the from-scratch oracle."""
    import os

    from knowledgeir_spark.index.build import term_bucket_py
    from knowledgeir_spark.index.compact import fragmented_buckets

    idx_dir = str(tmp_path / "idx_defrag")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:120][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base120")

    inp = str(tmp_path / "arr_defrag")
    schema = "doc_id long, text string"
    term = "zqxjkvbn"  # single novel term -> deltas touch exactly one bucket
    tb = term_bucket_py(term, CFG.n_buckets)

    def bucket_files(b):
        return {os.path.basename(p): os.stat(p).st_ino
                for p in live_files(idx_dir, "postings")
                if os.path.dirname(p).endswith(f"bucket={b}")}

    for i in range(5):
        spark.createDataFrame(
            [(500 + i, term)], schema
        ).write.mode("append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, CFG)
        assert compact(spark, idx_dir, CFG, mode="append",
                       auto_defrag_files=None)  # fast path only, no defrag

    counts = {b: len(bucket_files(b)) for b in range(CFG.n_buckets)}
    others_max = max(c for b, c in counts.items() if b != tb)
    assert counts[tb] > others_max  # only the delta bucket fragmented
    assert fragmented_buckets(idx_dir, others_max) == [tb]
    keep = {b: bucket_files(b) for b in range(CFG.n_buckets) if b != tb}

    # one more delta; this fold defrags the fragmented bucket automatically
    spark.createDataFrame(
        [(600, term)], schema
    ).write.mode("append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    res = compact(spark, idx_dir, CFG, mode="append",
                  auto_defrag_files=others_max)
    assert "defrag" in res, res
    assert res["defrag"]["defragged_buckets"] == [tb]
    assert _defragged_buckets(idx_dir) == [tb]
    assert len(bucket_files(tb)) <= others_max  # re-blocked, fewer files
    for b, files in keep.items():
        now = bucket_files(b)
        for f, ino in files.items():
            assert now.get(f) == ino, f"bucket {b} file {f} rewritten"

    corpus = list(zip(pdf.iloc[:120]["doc_id"], pdf.iloc[:120]["text"])) + [
        (500 + i, term) for i in range(5)
    ] + [(600, term)]
    import pandas as pd

    _assert_matches_oracle(
        spark, idx_dir, pd.DataFrame(corpus, columns=["doc_id", "text"])
    )
    # idempotent: nothing pending, nothing fragmented at the new layout
    assert compact(spark, idx_dir, CFG, mode="append",
                   auto_defrag_files=others_max) == {}


def test_impact_layout_through_delta_lifecycle(spark, webpages_pdf, tmp_path):
    """block_order='impact' composes with the whole lifecycle: base build ->
    streaming delta -> append fold -> merge defrag, and the result still
    matches the from-scratch oracle (the re-block paths all thread
    config.block_order)."""
    from knowledgeir_spark.index.build import IndexConfig

    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": "impact"})
    idx_dir = str(tmp_path / "idx_imp_life")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:150][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, cfg, input_token="base150i")

    inp = str(tmp_path / "arr_imp_life")
    schema = "doc_id long, text string"
    spark.createDataFrame(pdf.iloc[150:180][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, cfg)
    assert compact(spark, idx_dir, cfg, mode="append")
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:180])

    spark.createDataFrame(pdf.iloc[180:200][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, cfg)
    assert compact(spark, idx_dir, cfg, mode="merge")
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:200])
    reader = IndexReader(spark, idx_dir)
    assert reader.block_order == "impact"


def test_append_fold_batching_policy(spark, webpages_pdf, tmp_path):
    """min_pending_deltas defers the fold until enough deltas accumulate
    (round-6 freshness-throughput knob); the deferred fold then lands all
    pending deltas in ONE pass and the result matches the from-scratch
    oracle.  Crash-window deltas always fold regardless of the policy."""
    idx_dir = str(tmp_path / "idx_batch")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]])
    build_index(spark, docs, idx_dir, CFG, input_token="base200b")

    inp = str(tmp_path / "arr_batch")
    schema = "doc_id long, text string"
    for lo, hi in ((200, 230), (230, 260)):
        spark.createDataFrame(pdf.iloc[lo:hi][["doc_id", "text"]]).write.mode(
            "append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, CFG)
        res = compact(spark, idx_dir, CFG, mode="append",
                      min_pending_deltas=3)
        assert res.get("deferred") is True
    # third delta crosses the threshold -> one fold of all three
    spark.createDataFrame(pdf.iloc[260:300][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    res = compact(spark, idx_dir, CFG, mode="append", min_pending_deltas=3)
    assert res and "deferred" not in res
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:300])
    # idempotent + policy no-op afterwards
    assert compact(spark, idx_dir, CFG, mode="append",
                   min_pending_deltas=3) == {}


def test_maintenance_refuses_layout_mismatch(spark, webpages_pdf, tmp_path):
    """incremental_index, compact and defrag write blocks under the caller's
    IndexConfig, so one whose tokenizer, block_size, salt_range,
    block_order or n_buckets disagrees with the index's field_stats.json is
    refused before anything is written."""
    import glob

    from knowledgeir_spark.index.compact import defrag

    idx_dir = str(tmp_path / "idx_layout")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    build_index(spark, spark.createDataFrame(pdf.iloc[:60][["doc_id", "text"]]),
                idx_dir, CFG, input_token="base60")
    inp = str(tmp_path / "arr_layout")
    spark.createDataFrame(pdf.iloc[60:80][["doc_id", "text"]]).write.parquet(inp)
    fs_before = read_field_stats(idx_dir)
    pool_before = sorted(glob.glob(f"{idx_dir}/*/**", recursive=True))

    def other(**kw):
        return IndexConfig(**{**CFG.fingerprint_dict(), **kw})

    with pytest.raises(ValueError, match="tokenizer"):
        incremental_index(spark, inp, idx_dir, "doc_id long, text string",
                          other(tokenizer="simple"))
    assert not glob.glob(f"{idx_dir}/deltas/batch_*")
    with pytest.raises(ValueError, match="block_order"):
        defrag(spark, idx_dir, other(block_order="impact"), buckets=[0])
    with pytest.raises(ValueError, match="block_size"):
        compact(spark, idx_dir, other(block_size=32))
    with pytest.raises(ValueError, match="salt_range"):
        compact(spark, idx_dir, other(salt_range=128), mode="append")
    # a different bucket count would make readers prune to the wrong buckets
    with pytest.raises(ValueError, match="n_buckets"):
        incremental_index(spark, inp, idx_dir, "doc_id long, text string",
                          other(n_buckets=8))
    for mode in ("merge", "append"):
        with pytest.raises(ValueError, match="n_buckets"):
            compact(spark, idx_dir, other(n_buckets=8), mode=mode)
    with pytest.raises(ValueError, match="n_buckets"):
        defrag(spark, idx_dir, other(n_buckets=8), buckets=[0])
    assert not glob.glob(f"{idx_dir}/deltas/batch_*")
    # nothing committed, and no file written
    assert read_field_stats(idx_dir) == fs_before
    assert sorted(glob.glob(f"{idx_dir}/*/**", recursive=True)) == pool_before
    # the matching config still folds
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    assert compact(spark, idx_dir, CFG, mode="append")
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:80])


def test_compact_skips_delta_without_marker(spark, webpages_pdf, tmp_path):
    """delta_stats.json is a delta's commit marker: a delta whose writer
    died before the marker landed is neither folded nor recorded as folded
    (folding it would leave n_docs/avg_doc_len wrong for good); once the
    marker exists the next fold takes it and matches the oracle."""
    import json
    import os

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "mk")
    fs_path = os.path.join(idx_dir, "field_stats.json")
    with open(fs_path) as f:
        fs_before = json.load(f)
    (delta,) = [os.path.join(idx_dir, "deltas", b)
                for b in os.listdir(os.path.join(idx_dir, "deltas"))]
    marker = os.path.join(delta, "delta_stats.json")
    with open(marker) as f:
        stats = json.load(f)
    os.remove(marker)

    assert compact(spark, idx_dir, CFG, mode="append") == {}
    with open(fs_path) as f:
        assert json.load(f) == fs_before  # not folded, not recorded

    with open(marker, "w") as f:
        json.dump(stats, f)
    assert compact(spark, idx_dir, CFG, mode="append")
    _assert_matches_oracle(spark, idx_dir, corpus)
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    with open(fs_path) as f:
        fs = json.load(f)
    assert fs["n_docs"] == 130
    assert fs["folded_deltas"] == [os.path.basename(delta)]
    assert fs["avg_doc_len"] == pytest.approx(oracle.avg_doc_len, abs=1e-9)


def test_append_fold_term_stats_branches_agree(
    spark, webpages_pdf, tmp_path, monkeypatch
):
    """compact(mode='append') merges the deltas' block-metadata stats into
    term_stats on the coordinator (no Spark job) while the live table is at
    most TERM_STATS_CACHE_MAX rows, and through Spark above it.  Both
    branches give the same (term, df, cf) table, equal to the oracle's,
    including a term new to the index, a delta holding an empty doc (which
    counts in n_docs) and a delta of one empty doc (no block rows)."""
    import json
    import shutil

    import pandas as pd

    import knowledgeir_spark.index.compact as cm

    idx_dir = str(tmp_path / "idx_br")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    build_index(spark, spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]]),
                idx_dir, CFG, input_token="base200br")
    novel = pd.DataFrame({"doc_id": [900], "text": ["zqxjkvbn spark data"]})
    empty = pd.DataFrame({"doc_id": [901], "text": [""]})
    d1 = pd.concat([pdf.iloc[200:230][["doc_id", "text"]], novel])
    d2 = pd.concat([pdf.iloc[230:250][["doc_id", "text"]], empty])
    d3 = pd.DataFrame({"doc_id": [902], "text": [""]})
    inp = str(tmp_path / "arr_br")
    schema = "doc_id long, text string"
    for d in (d1, d2, d3):
        spark.createDataFrame(d, schema).write.mode("append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, CFG)
    corpus = pd.concat([pdf.iloc[:200][["doc_id", "text"]], d1, d2, d3])
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    assert "zqxjkvbn" in oracle.postings

    spark_dir = str(tmp_path / "idx_br_spark")
    shutil.copytree(idx_dir, spark_dir)
    sc = spark.sparkContext

    def fold(path: str, group: str) -> dict:
        sc.setJobGroup(group, "append fold")
        try:
            assert compact(spark, path, CFG, mode="append",
                           auto_defrag_files=None)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return {
            r["term"]: (r["df"], r["cf"])
            for r in read_live(spark, path, "term_stats").collect()
        }

    coord = fold(idx_dir, "fold-coordinator")
    assert not sc.statusTracker().getJobIdsForGroup("fold-coordinator")
    monkeypatch.setattr(cm, "TERM_STATS_CACHE_MAX", 0)
    via_spark = fold(spark_dir, "fold-spark")
    assert sc.statusTracker().getJobIdsForGroup("fold-spark")

    assert coord == via_spark
    assert coord == {t: (len(p), sum(tf for _, tf in p))
                     for t, p in oracle.postings.items()}
    for path in (idx_dir, spark_dir):
        _assert_matches_oracle(spark, path, corpus)
        with open(f"{path}/field_stats.json") as f:
            fs = json.load(f)
        assert fs["n_docs"] == len(corpus) == 253
        assert len(fs["folded_deltas"]) == 3
        assert fs["avg_doc_len"] == pytest.approx(oracle.avg_doc_len, abs=1e-9)


def test_append_fold_after_full_rewrite_merge(spark, webpages_pdf, tmp_path):
    """A merge fold whose text delta touches every bucket re-blocks every
    bucket; the next append fold merges term_stats with the nullable
    block-metadata aggregate on the coordinator and must still match the
    oracle."""
    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "mr")
    assert compact(spark, idx_dir, CFG, mode="merge")
    # every bucket re-blocked
    assert _defragged_buckets(idx_dir) == list(range(CFG.n_buckets))

    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    inp = str(tmp_path / "arr_mr")  # the arrivals dir of _build_with_one_delta
    spark.createDataFrame(pdf.iloc[130:160][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    sc = spark.sparkContext
    sc.setJobGroup("fold-after-merge", "append fold")
    try:
        assert compact(spark, idx_dir, CFG, mode="append", auto_defrag_files=None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("fold-after-merge")

    corpus = pdf.iloc[:160]
    _assert_matches_oracle(spark, idx_dir, corpus)
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    reader = IndexReader(spark, idx_dir)
    assert reader.field_stats["n_docs"] == 160
    assert reader.field_stats["avg_doc_len"] == pytest.approx(
        oracle.avg_doc_len, abs=1e-9)


@pytest.mark.parametrize("block_order", ["docid", "impact"])
def test_merge_fold_equals_fresh_build(spark, webpages_pdf, tmp_path, block_order):
    """compact(mode='merge') folds two deltas and re-blocks the buckets they
    touched: the postings block rows (payload bytes included), term_stats
    and field_stats scalars are those of a fresh build_index over the union
    corpus with the same config."""
    import json

    cfg = IndexConfig(**{**CFG.fingerprint_dict(), "block_order": block_order})
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    idx_dir = str(tmp_path / f"idx_mf_{block_order}")
    build_index(spark, spark.createDataFrame(pdf.iloc[:200][["doc_id", "text"]]),
                idx_dir, cfg, input_token=f"base200mf_{block_order}")
    inp = str(tmp_path / f"arr_mf_{block_order}")
    schema = "doc_id long, text string"
    for lo, hi in ((200, 250), (250, 300)):
        spark.createDataFrame(pdf.iloc[lo:hi][["doc_id", "text"]]).write.mode(
            "append").parquet(inp)
        incremental_index(spark, inp, idx_dir, schema, cfg)
    res = compact(spark, idx_dir, cfg, mode="merge")
    assert res and not any(r.skipped for r in res.values())

    fresh_dir = str(tmp_path / f"idx_fresh_{block_order}")
    build_index(spark, spark.createDataFrame(pdf.iloc[:300][["doc_id", "text"]]),
                fresh_dir, cfg, input_token=f"fresh300_{block_order}")

    def postings(path):
        return read_live(spark, path, "postings").orderBy(
            "bucket", "term", "salt", "block_id").collect()

    def term_stats(path):
        return [tuple(r) for r in read_live(spark, path, "term_stats")
                .select("term", "df", "cf").orderBy("term").collect()]

    def scalars(path):
        with open(f"{path}/field_stats.json") as f:
            fs = json.load(f)
        return fs["n_docs"], fs["total_len"]

    got, want = postings(idx_dir), postings(fresh_dir)
    assert len(got) == len(want)
    assert got == want
    assert term_stats(idx_dir) == term_stats(fresh_dir)
    assert scalars(idx_dir) == scalars(fresh_dir)
    assert scalars(idx_dir)[0] == 300


def test_merge_crash_before_reblock_leaves_folded_index(
    spark, webpages_pdf, tmp_path, monkeypatch
):
    """A crash after the merge fold commits field_stats but before its
    re-block leaves a correct index whose touched buckets are not
    re-blocked: it matches the oracle, counts the delta once, and a re-run
    has nothing to do.  A later merge fold re-blocks the buckets its own
    delta touched and still matches the oracle."""
    import glob
    import json
    import os

    import knowledgeir_spark.index.compact as cm

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "rb")

    def crash(*_a, **_kw):
        raise RuntimeError("simulated crash before re-block")

    monkeypatch.setattr(cm, "defrag", crash)
    with pytest.raises(RuntimeError, match="simulated crash"):
        compact(spark, idx_dir, CFG, mode="merge")
    monkeypatch.undo()

    _assert_matches_oracle(spark, idx_dir, corpus)
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    fs_path = os.path.join(idx_dir, "field_stats.json")
    with open(fs_path) as f:
        fs = json.load(f)
    assert fs["n_docs"] == 130 and len(fs["folded_deltas"]) == 1
    assert fs["avg_doc_len"] == pytest.approx(oracle.avg_doc_len, abs=1e-9)
    # the fold's generation committed; no bucket re-blocked
    assert fs["generation"] == 2 and _defragged_buckets(idx_dir) == []
    n_rows = read_live(spark, idx_dir, "postings").count()
    assert compact(spark, idx_dir, CFG, mode="merge") == {}
    assert read_live(spark, idx_dir, "postings").count() == n_rows

    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    inp = str(tmp_path / "arr_rb")  # the arrivals dir of _build_with_one_delta
    spark.createDataFrame(pdf.iloc[130:160][["doc_id", "text"]]).write.mode(
        "append").parquet(inp)
    incremental_index(spark, inp, idx_dir, "doc_id long, text string", CFG)
    (batch,) = set(os.listdir(f"{idx_dir}/deltas")) - set(fs["folded_deltas"])
    touched = sorted(
        int(p.rsplit("=", 1)[1])
        for p in glob.glob(f"{idx_dir}/deltas/{batch}/bucket=*")
    )
    res = compact(spark, idx_dir, CFG, mode="merge")
    assert not res["postings_defragged"].skipped
    assert _defragged_buckets(idx_dir) == touched
    _assert_matches_oracle(spark, idx_dir, pdf.iloc[:160])


def _topk_all(reader, queries, k=10):
    """(search_local rows per query, search() rows) of one reader."""
    local = [reader.search_local([q], k=k) for q in queries]
    dist = sorted(map(tuple, reader.search(queries, k=k).collect()))
    return local, dist


@pytest.mark.parametrize("op", ["append", "merge", "defrag"])
def test_reader_pinned_to_its_generation(
    spark, webpages_pdf, queries_pdf, tmp_path, op
):
    """A reader opened before an append fold, a merge fold or a defrag —
    cold (never searched) or warm — keeps answering exactly as a reader
    over a copy of the pre-fold index, through search_local and search().
    A reader opened afterwards sees the new docs."""
    import shutil

    from knowledgeir_spark.index.compact import defrag

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, op)
    if op == "defrag":  # fold first, so the defrag re-blocks fragments
        compact(spark, idx_dir, CFG, mode="append")
    pre = str(tmp_path / f"pre_{op}")
    shutil.copytree(idx_dir, pre)
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]

    cold = IndexReader(spark, idx_dir)
    warm = IndexReader(spark, idx_dir)
    _topk_all(warm, queries)
    if op == "defrag":
        assert defrag(spark, idx_dir, CFG, buckets=list(range(CFG.n_buckets)))
    else:
        assert compact(spark, idx_dir, CFG, mode=op)

    want = _topk_all(IndexReader(spark, pre), queries)
    for reader in (cold, warm):
        assert _topk_all(reader, queries) == want
    fresh = IndexReader(spark, idx_dir)
    assert fresh.field_stats["n_docs"] == 130
    oracle = OracleIndex(list(zip(corpus["doc_id"], corpus["text"])))
    for q in queries:
        assert [r[1] for r in fresh.search_local([q], k=10)] == \
            [d for d, _ in oracle.topk(q[1], k=10)], q


@pytest.mark.parametrize("op", ["append", "merge", "defrag"])
def test_search_first_after_fold_stays_pinned(
    spark, webpages_pdf, queries_pdf, tmp_path, op
):
    """A reader opened before a fold whose first call afterwards is
    search(): the driver has loaded nothing yet, so the tasks read the
    pinned generation's file lists, not the bucket directories (which now
    also hold the fold's files); its rows equal a reader's over a copy of
    the pre-fold index."""
    import shutil

    from knowledgeir_spark.index.compact import defrag

    idx_dir, _ = _build_with_one_delta(spark, webpages_pdf, tmp_path, f"sf_{op}")
    if op == "defrag":
        compact(spark, idx_dir, CFG, mode="append")
    pre = str(tmp_path / f"pre_sf_{op}")
    shutil.copytree(idx_dir, pre)
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]

    first = IndexReader(spark, idx_dir)
    if op == "defrag":
        assert defrag(spark, idx_dir, CFG, buckets=list(range(CFG.n_buckets)))
    else:
        assert compact(spark, idx_dir, CFG, mode=op)

    want = IndexReader(spark, pre).search(queries, k=10).collect()
    assert want
    assert first.search(queries, k=10).collect() == want
    if op != "defrag":  # the fold added docs: a fresh reader answers anew
        assert IndexReader(spark, idx_dir).search(queries, k=10).collect() != want


def test_reader_survives_two_append_folds(
    spark, webpages_pdf, queries_pdf, tmp_path
):
    """An append fold drops no postings file and a reader holds its
    term_stats from open, so cold and warm readers survive any number of
    append folds (here two, past the cleanup of their own generation)."""
    import shutil

    idx_dir, corpus = _build_with_one_delta(spark, webpages_pdf, tmp_path, "a2")
    pre = str(tmp_path / "pre_a2")
    shutil.copytree(idx_dir, pre)
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]
    cold = IndexReader(spark, idx_dir)
    warm = IndexReader(spark, idx_dir)
    _topk_all(warm, queries)

    assert compact(spark, idx_dir, CFG, mode="append")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    spark.createDataFrame(pdf.iloc[130:160][["doc_id", "text"]]).write.mode(
        "append").parquet(str(tmp_path / "arr_a2"))
    incremental_index(spark, str(tmp_path / "arr_a2"), idx_dir,
                      "doc_id long, text string", CFG)
    assert compact(spark, idx_dir, CFG, mode="append")
    assert read_field_stats(idx_dir)["generation"] == 3

    want = _topk_all(IndexReader(spark, pre), queries)
    for reader in (cold, warm):
        assert _topk_all(reader, queries) == want
    assert IndexReader(spark, idx_dir).field_stats["n_docs"] == 160


def test_zero_row_delta_changes_nothing(spark, webpages_pdf, queries_pdf, tmp_path):
    """An empty parquet input goes through incremental_index, then compact
    in either mode: n_docs is unchanged and a fresh reader answers exactly
    as over the pre-delta index."""
    import shutil

    idx_dir = str(tmp_path / "idx_zero")
    pdf = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    build_index(spark, spark.createDataFrame(pdf.iloc[:100][["doc_id", "text"]]),
                idx_dir, CFG, input_token="base100zero")
    pre = str(tmp_path / "pre_zero")
    shutil.copytree(idx_dir, pre)
    inp = str(tmp_path / "arr_zero")
    schema = "doc_id long, text string"
    spark.createDataFrame([], schema).write.parquet(inp)
    incremental_index(spark, inp, idx_dir, schema, CFG)
    queries = [(str(r.qid), r.query) for r in queries_pdf.itertuples()][:10]
    want = [IndexReader(spark, pre).search_local([q], k=10) for q in queries]
    for mode in ("append", "merge"):
        path = str(tmp_path / f"zero_{mode}")
        shutil.copytree(idx_dir, path)
        compact(spark, path, CFG, mode=mode)
        reader = IndexReader(spark, path)
        # the empty delta landed and was folded, adding nothing
        assert len(reader.field_stats["folded_deltas"]) == 1
        assert reader.field_stats["n_docs"] == 100
        assert [reader.search_local([q], k=10) for q in queries] == want
        assert _index_diff(path, pre) is None


def test_index_diff_compares_live_generations(spark, webpages_pdf, tmp_path):
    """index_diff reads only the files each field_stats.json lists: pool
    files no generation lists do not count, a changed block does."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    idx_dir, _ = _build_with_one_delta(spark, webpages_pdf, tmp_path, "diff")
    compact(spark, idx_dir, CFG, mode="append")
    other = str(tmp_path / "diff_other")
    shutil.copytree(idx_dir, other)
    post = live_files(other, "postings")
    shutil.copy(post[0], f"{other}/postings/bucket=0/stray.parquet")
    (ts,) = live_files(other, "term_stats")
    shutil.copy(ts, f"{other}/term_stats/stray.parquet")
    assert _index_diff(idx_dir, other) is None

    t = pq.read_table(post[0])
    max_tf = t["max_tf"].to_numpy().copy()
    max_tf[0] += 1
    t = t.set_column(t.column_names.index("max_tf"), "max_tf",
                     pc.cast(max_tf, t.schema.field("max_tf").type))
    pq.write_table(t, post[0])
    diff = _index_diff(idx_dir, other)
    assert diff and diff.startswith("postings") and "max_tf" in diff
