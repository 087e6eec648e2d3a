"""Codec: varint/delta round-trip, incl. hypothesis property tests."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from knowledgeir_spark.index.codec import (
    decode_block,
    decode_table,
    delta_decode,
    delta_encode,
    encode_block,
    varint_decode,
    varint_encode,
)


def test_varint_known_values():
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([127], dtype=np.uint64)) == b"\x7f"
    assert varint_encode(np.array([128], dtype=np.uint64)) == b"\x80\x01"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    assert varint_encode(np.array([], dtype=np.uint64)) == b""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=500))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert varint_decode(varint_encode(arr), len(vals)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_delta_roundtrip(ids):
    arr = np.array(sorted(ids), dtype=np.uint64)
    assert delta_decode(delta_encode(arr)).tolist() == sorted(ids)


def test_block_roundtrip():
    rng = np.random.default_rng(7)
    ids = np.sort(rng.choice(10**9, size=128, replace=False)).astype(np.uint64)
    tfs = rng.integers(1, 500, size=128).astype(np.uint64)
    dls = rng.integers(1, 3000, size=128).astype(np.uint64)
    row = encode_block(ids, tfs, dls)
    assert row["n_docs"] == 128
    assert row["first_doc_id"] == int(ids[0])
    assert row["max_doc_id"] == int(ids[-1])
    assert row["max_tf"] == int(tfs.max())
    assert row["min_doc_len"] == int(dls.min())
    d_ids, d_tfs, d_dls = decode_block(row)
    assert d_ids.tolist() == ids.tolist()
    assert d_tfs.tolist() == tfs.tolist()
    assert d_dls.tolist() == dls.tolist()

    # decode_table over many blocks whose payload columns are chunked
    # arrays of 3 chunks, one of them a slice with a nonzero offset
    import pyarrow as pa

    rows = [row] + [
        encode_block(
            np.sort(rng.choice(10**6, size=n, replace=False)).astype(np.uint64),
            rng.integers(1, 50, size=n), rng.integers(1, 900, size=n),
        )
        for n in (1, 5, 17, 128, 3, 40)
    ]
    want = [np.concatenate(a) for a in zip(*map(decode_block, rows))]
    junk = encode_block(np.array([7, 9]), np.array([3, 4]), np.array([5, 6]))
    for typ in (pa.binary(), pa.large_binary()):
        cols = {"n_docs": pa.array([r["n_docs"] for r in rows])}
        for c in ("doc_id_deltas", "tfs", "doc_lens"):
            vals = [r[c] for r in rows]
            cols[c] = pa.chunked_array([
                pa.array(vals[:2], typ),
                pa.array([junk[c]] + vals[2:5] + [junk[c]], typ).slice(1, 3),
                pa.array(vals[5:], typ),
            ], typ)
        tbl = pa.table(cols)
        assert tbl["tfs"].num_chunks == 3 and tbl["tfs"].chunk(1).offset == 1
        got = decode_table(tbl)
        assert [g.tolist() for g in got] == [w.tolist() for w in want], typ
        assert decode_table(tbl, ids_only=True).tolist() == want[0].tolist()


def test_truncated_stream_raises():
    data = varint_encode(np.array([1, 2, 3], dtype=np.uint64))
    with pytest.raises(ValueError):
        varint_decode(data, 4)


def _sorted_postings(seed: int = 11) -> dict:
    """Synthetic long-form postings sorted by (term, salt, doc_id), shaped
    like a Zipf vocabulary: t00 has 900 postings split over two salts, so
    its groups are several batches long; tf in 1..5 leaves many ties."""
    rng = np.random.default_rng(seed)
    terms, ids = [], []
    for i in range(40):
        df = max(1, 900 // (i + 1))
        terms += [f"t{i:02d}"] * df
        ids.append(np.sort(rng.choice(2000, size=df, replace=False)))
    ids = np.concatenate(ids).astype(np.int64)
    n = len(ids)
    return {
        "doc_id": ids,
        "term": np.array(terms, dtype=object),
        "tf": rng.integers(1, 6, n).astype(np.int32),
        "doc_len": rng.integers(5, 400, n).astype(np.int32),
        "salt": ids // 1024,
    }


def _groups(cols: dict) -> list[tuple[int, int]]:
    """[start, end) row ranges of the (term, salt) groups."""
    keys = list(zip(cols["term"], cols["salt"]))
    starts = [i for i in range(len(keys)) if i == 0 or keys[i] != keys[i - 1]]
    return list(zip(starts, starts[1:] + [len(keys)]))


def _per_block_reference(cols: dict, block_size: int, block_order: str) -> list:
    """encode_block per block; impact order = tf desc, doc_id asc within
    each (term, salt) group, then each block re-sorted by doc_id."""
    rows = []
    for s, e in _groups(cols):
        ids = cols["doc_id"][s:e].astype(np.uint64)
        tfs = cols["tf"][s:e].astype(np.uint64)
        dls = cols["doc_len"][s:e].astype(np.uint64)
        if block_order == "impact":
            o = np.lexsort((ids, -tfs.astype(np.int64)))
            ids, tfs, dls = ids[o], tfs[o], dls[o]
        for bi, b in enumerate(range(0, len(ids), block_size)):
            sl = slice(b, b + block_size)
            o = np.argsort(ids[sl], kind="stable")
            blk = encode_block(ids[sl][o], tfs[sl][o], dls[sl][o])
            blk.update(term=cols["term"][s], salt=int(cols["salt"][s]), block_id=bi,
                       sum_tf=int(tfs[sl].sum()))
            rows.append(blk)
    return rows


@pytest.mark.parametrize("block_order", ["docid", "impact"])
def test_arrow_builder_byte_identical_to_per_block(block_order):
    """The mapInArrow block builder (whole-partition vectorized varint
    encode, impact permutation applied to the numpy columns) must produce
    exactly the per-block encode_block rows, including for (term, salt)
    groups carried across several 257-row batches and an empty batch."""
    import pyarrow as pa

    from knowledgeir_spark.index.build import _make_block_builder_arrow

    cols = _sorted_postings()
    tbl = pa.table(cols)
    batches = tbl.to_batches(max_chunksize=257)
    batches.insert(2, pa.RecordBatch.from_pylist([], schema=tbl.schema))
    # the carry path must see a group spanning three or more batches
    assert max((e - 1) // 257 - s // 257 for s, e in _groups(cols)) >= 2

    out = pa.Table.from_batches(
        list(_make_block_builder_arrow(16, block_order)(iter(batches)))
    ).to_pylist()
    ref = _per_block_reference(cols, 16, block_order)
    assert len(out) == len(ref) > 100
    for got, want in zip(out, ref):
        assert got == {c: want[c] for c in got}, (got["term"], got["block_id"])
    if block_order == "impact":
        by_group: dict = {}
        for r in out:
            by_group.setdefault((r["term"], r["salt"]), []).append(r["max_tf"])
        assert all(
            a >= b for mts in by_group.values() for a, b in zip(mts, mts[1:])
        )


def _webpage_postings(spark, webpages_pdf):
    """doc_terms of the webpage fixture as a pandas frame sorted by
    (term, salt, doc_id), the layout apply_block_encoder feeds the builder."""
    from pyspark.sql import functions as F

    from knowledgeir_spark.functions.text import doc_terms

    pdf_src = webpages_pdf.reset_index().rename(columns={"index": "doc_id"})
    docs = spark.createDataFrame(pdf_src[["doc_id", "text"]])
    return (
        doc_terms(docs)
        .withColumn("salt", (F.col("doc_id") / 64).cast("long"))
        .orderBy("term", "salt", "doc_id")
        .toPandas()
    )


def test_vectorized_builder_byte_identical_to_per_block(spark, webpages_pdf):
    """The whole-partition vectorized varint encoder, given real doc_terms
    output as one batch, must produce byte-identical block rows to the
    per-block encode_block reference (same order, payloads and stats)."""
    import pyarrow as pa

    from knowledgeir_spark.index.build import _make_block_builder_arrow

    pdf = _webpage_postings(spark, webpages_pdf)
    tbl = pa.Table.from_pandas(pdf, preserve_index=False)
    out = pa.Table.from_batches(
        list(_make_block_builder_arrow(16)(iter(tbl.to_batches())))
    ).to_pylist()
    cols = {c: pdf[c].to_numpy() for c in ("doc_id", "term", "tf", "doc_len", "salt")}
    ref = _per_block_reference(cols, 16, "docid")
    assert len(out) == len(ref) > 50
    for got, want in zip(out, ref):
        assert got == {c: want[c] for c in got}, (got["term"], got["block_id"])


def test_arrow_builder_byte_identical_to_pandas(spark, webpages_pdf):
    """The mapInArrow block builder, fed 257-row batches so (term, salt)
    groups span batch boundaries, must produce byte-identical block rows to
    a pandas groupby reference that encodes each group block by block."""
    import pandas as pd
    import pyarrow as pa

    from knowledgeir_spark.index.build import _make_block_builder_arrow

    pdf = _webpage_postings(spark, webpages_pdf)
    rows = []
    for (term, salt), g in pdf.groupby(["term", "salt"], sort=False):
        ids = g["doc_id"].to_numpy(np.int64).astype(np.uint64)
        tfs = g["tf"].to_numpy(np.int64).astype(np.uint64)
        dls = g["doc_len"].to_numpy(np.int64).astype(np.uint64)
        for bi, start in enumerate(range(0, len(ids), 16)):
            sl = slice(start, start + 16)
            blk = encode_block(ids[sl], tfs[sl], dls[sl])
            blk.update(term=term, salt=int(salt), block_id=bi,
                       sum_tf=int(tfs[sl].sum()))
            rows.append(blk)
    ref = pd.DataFrame(rows)

    batches = pa.Table.from_pandas(pdf, preserve_index=False).to_batches(
        max_chunksize=257
    )
    assert len(batches) > 2
    got = pa.Table.from_batches(
        list(_make_block_builder_arrow(16)(iter(batches)))
    ).to_pandas()
    assert sorted(got.columns) == sorted(ref.columns)
    assert len(got) == len(ref) > 50
    for c in got.columns:
        a, b = got[c].tolist(), ref[c].tolist()
        if c in ("doc_id_deltas", "tfs", "doc_lens"):
            a, b = [bytes(x) for x in a], [bytes(x) for x in b]
        assert a == b, c
