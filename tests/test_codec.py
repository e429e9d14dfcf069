"""Codec unit + property tests: varint/delta round-trip, block layout,
block max_impact correctness (SURVEY.md §5.2)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from webindex import codec, schema


def _rows(cols: dict) -> list[dict]:
    """encode_blocks' columnar output as one dict per block."""
    return [{k: v[i] for k, v in cols.items()} for i in range(len(cols["n_docs"]))]


def test_varint_known_values():
    assert codec.varint_encode(np.array([0])) == b"\x00"
    assert codec.varint_encode(np.array([127])) == b"\x7f"
    assert codec.varint_encode(np.array([128])) == b"\x80\x01"
    assert codec.varint_encode(np.array([300])) == b"\xac\x02"
    assert codec.varint_encode(np.array([], dtype=np.int64)) == b""
    assert codec.varint_decode(b"").size == 0


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=500))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.int64)
    out = codec.varint_decode(codec.varint_encode(arr))
    assert np.array_equal(out, arr)


@given(
    st.lists(
        st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=400
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_varint_roundtrip_sorted_ids(ids):
    """doc_ids may be negative (xxhash64 ids) — delta+uint64-wrap roundtrips."""
    arr = np.array(sorted(set(ids)), dtype=np.int64)
    enc = codec.varint_encode(codec.delta_encode(arr))
    out = codec.delta_decode(codec.varint_decode(enc))
    assert np.array_equal(out, arr)


def test_encode_blocks_layout_and_metadata():
    n = 300
    ids = np.arange(0, 2 * n, 2, dtype=np.int64)  # 300 docs, even ids
    tfs = (ids % 7 + 1).astype(np.int64)
    dls = np.full(n, 100, dtype=np.int64)
    blocks = _rows(
        codec.encode_blocks(ids, tfs, dls, avgdl=100.0, k1=1.2, b=0.75, block_size=128)
    )
    assert [b["n_docs"] for b in blocks] == [128, 128, 44]
    assert blocks[0]["min_doc"] == 0 and blocks[0]["max_doc"] == 254
    assert blocks[2]["block_id"] == 2
    # roundtrip every block and check max_impact is the true max
    off = 0
    for blk in blocks:
        d, t, l = codec.decode_block(blk["doc_ids"], blk["tfs"], blk["doc_lens"])
        sl = slice(off, off + blk["n_docs"])
        assert np.array_equal(d, ids[sl])
        assert np.array_equal(t, tfs[sl])
        assert np.array_equal(l, dls[sl])
        true_max = codec.bm25_impact(tfs[sl], dls[sl], 100.0, 1.2, 0.75).max()
        assert blk["max_impact"] == true_max
        off += blk["n_docs"]


def test_bm25_impact_formula():
    # tf=2, dl=50, avgdl=100, k1=1.2, b=0.75:
    # 2 / (2 + 1.2*(1-0.75+0.75*0.5)) = 2 / (2 + 1.2*0.625)
    got = codec.bm25_impact(np.array([2]), np.array([50]), 100.0, 1.2, 0.75)[0]
    assert abs(got - 2.0 / (2.0 + 1.2 * 0.625)) < 1e-15


# ---- 1-byte norm quantization (BM25Config.quantize_norms) -----------------

def test_dl_quantize_exact_below_128():
    x = np.arange(128, dtype=np.int64)
    codes = codec.dl_quantize(x)
    assert np.array_equal(codec.DL_DECODE_LUT[codes], x)


@given(st.lists(st.integers(min_value=0, max_value=2**30), min_size=1, max_size=500))
@settings(max_examples=200, deadline=None)
def test_dl_quantize_properties(vals):
    x = np.array(vals, dtype=np.int64)
    codes = codec.dl_quantize(x)
    dec = codec.DL_DECODE_LUT[codes]
    clamped = np.minimum(x, codec._DL_MAX)
    # lower bound with < 12.5% relative error (truncated 3-bit mantissa)
    assert (dec <= clamped).all()
    assert (dec.astype(np.float64) >= clamped * 0.875 - 1).all()
    # representable values round-trip exactly => compaction re-encode is lossless
    assert np.array_equal(codec.DL_DECODE_LUT[codec.dl_quantize(dec)], dec)
    # monotonic
    order = np.argsort(x, kind="stable")
    assert (np.diff(codes[order].astype(np.int64)) >= 0).all()


def test_encode_blocks_quantized_layout_and_soundness():
    n = 300
    ids = np.arange(0, 2 * n, 2, dtype=np.int64)
    tfs = (ids % 7 + 1).astype(np.int64)
    dls = (137 + 13 * (ids % 50)).astype(np.int64)  # spread above 128
    exact = _rows(codec.encode_blocks(ids, tfs, dls, avgdl=300.0, k1=1.2, b=0.75,
                                      block_size=128))
    quant = _rows(codec.encode_blocks(ids, tfs, dls, avgdl=300.0, k1=1.2, b=0.75,
                                      block_size=128, quantize_norms=True))
    off = 0
    for eb, qb in zip(exact, quant):
        # doc_lens stream is exactly 1 byte per posting, never larger than varint
        assert len(qb["doc_lens"]) == qb["n_docs"]
        assert len(qb["doc_lens"]) <= len(eb["doc_lens"])
        d, t, l = codec.decode_block(qb["doc_ids"], qb["tfs"], qb["doc_lens"],
                                     quantize_norms=True)
        sl = slice(off, off + qb["n_docs"])
        assert np.array_equal(d, ids[sl])
        assert np.array_equal(t, tfs[sl])
        # decoded lengths are the quantized grid values
        assert np.array_equal(l, codec.DL_DECODE_LUT[codec.dl_quantize(dls[sl])])
        # max_impact is the true max over the scores the query path computes
        true_max = codec.bm25_impact(t, l, 300.0, 1.2, 0.75).max()
        assert qb["max_impact"] == true_max
        # quantized dl <= exact dl => impact bound >= exact impact bound
        assert qb["max_impact"] >= eb["max_impact"]
        off += qb["n_docs"]


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=0,
        max_size=600,
    ),
    st.booleans(),
    st.integers(min_value=1, max_value=100),
)
@settings(max_examples=100, deadline=None)
def test_batched_decode_equals_per_block(raw_ids, qn, block_size):
    """decode_blocks_concat / decode_ids_concat are bit-identical to the
    per-block decode_block path — including full-signed-range hash ids,
    where the concatenated cumsum wraps int64 and relies on exact mod-2^64
    difference arithmetic (round-6 batched decode)."""
    ids = np.unique(np.array(raw_ids, dtype=np.int64))
    rng = np.random.default_rng(0)
    tfs = rng.integers(1, 40, size=ids.size)
    dls = rng.integers(1, 4000, size=ids.size)
    blocks = _rows(codec.encode_blocks(
        ids, tfs, dls, 120.0, 1.2, 0.75, block_size=block_size, quantize_norms=qn
    ))
    per_i, per_t, per_d = [], [], []
    for b in blocks:
        i, t, d = codec.decode_block(b["doc_ids"], b["tfs"], b["doc_lens"], qn)
        per_i.append(i)
        per_t.append(t)
        per_d.append(d)
    counts = [b["n_docs"] for b in blocks]
    bi, bt, bd, starts = codec.decode_blocks_concat(
        [b["doc_ids"] for b in blocks],
        [b["tfs"] for b in blocks],
        [b["doc_lens"] for b in blocks],
        counts,
        qn,
    )
    exp_i = np.concatenate(per_i) if per_i else np.empty(0, dtype=np.int64)
    exp_t = np.concatenate(per_t) if per_t else np.empty(0, dtype=np.int64)
    exp_d = np.concatenate(per_d) if per_d else np.empty(0, dtype=np.int64)
    assert np.array_equal(bi, exp_i)
    assert np.array_equal(bt, exp_t)
    assert np.array_equal(bd, exp_d)
    assert np.array_equal(
        starts, np.concatenate(([0], np.cumsum(counts)))[:-1] if counts else starts
    )
    oi, ostarts = codec.decode_ids_concat([b["doc_ids"] for b in blocks], counts)
    assert np.array_equal(oi, exp_i)
    assert np.array_equal(ostarts, starts)

    # positions: tf ascending values per doc, encoded per block with one
    # group per doc (the build's layout). Each doc's first gap is absolute,
    # so ONE decode_positions over the joined streams and the concatenated
    # tfs equals the per-block decodes concatenated.
    pos = np.cumsum(rng.integers(1, 50, size=int(tfs.sum())))
    tf_cut = np.concatenate(([0], np.cumsum(tfs)))
    bufs, per_p, per_s, off = [], [], [], 0
    for b in blocks:
        lo, hi = tf_cut[off], tf_cut[off + b["n_docs"]]
        buf, _ = codec.positions_encode_grouped(
            pos[lo:hi], tf_cut[off : off + b["n_docs"]] - lo
        )
        p, s = codec.decode_positions(buf, tfs[off : off + b["n_docs"]])
        bufs.append(buf)
        per_p.append(p)
        per_s.append(s + lo)
        off += b["n_docs"]
    bp, bs = codec.decode_positions(b"".join(bufs), bt)
    assert np.array_equal(bp, np.concatenate(per_p) if per_p else bp)
    assert np.array_equal(bp, pos)
    assert np.array_equal(bs, np.concatenate(per_s) if per_s else bs)


@given(st.data(), st.booleans(), st.integers(min_value=1, max_value=20))
@settings(max_examples=100, deadline=None)
def test_batched_encode_equals_per_group(data, qn, block_size):
    """ONE multi-group encode_blocks call equals the single-group calls
    concatenated, on every byte stream and every metadata field. Group sizes
    run 1..3×block_size, ids span the full signed int64 range, and rows past
    the last group end (the build's carried trailing group) carry a higher
    impact than any real posting, so a last block that reduces over them
    gets a wrong max_impact."""
    groups = data.draw(
        st.lists(
            st.lists(
                st.integers(min_value=-(2**63), max_value=2**63 - 1),
                min_size=1,
                max_size=3 * block_size,
                unique=True,
            ),
            min_size=1,
            max_size=8,
        )
    )
    extra = data.draw(st.integers(min_value=0, max_value=5))
    ids = np.concatenate([np.sort(np.array(g, dtype=np.int64)) for g in groups])
    ends = np.cumsum([len(g) for g in groups])
    rng = np.random.default_rng(len(ids))
    tfs = rng.integers(1, 40, size=ids.size)
    dls = rng.integers(1, 4000, size=ids.size)
    # trailing rows: tf 10^4 at doc length 1 out-scores every real posting
    tail_ids = rng.integers(-(2**63), 2**63 - 1, size=extra, dtype=np.int64)
    batched = _rows(codec.encode_blocks(
        np.concatenate((ids, tail_ids)),
        np.concatenate((tfs, np.full(extra, 10_000))),
        np.concatenate((dls, np.ones(extra, dtype=np.int64))),
        120.0, 1.2, 0.75, block_size, quantize_norms=qn, group_ends=ends,
    ))
    expected, lo = [], 0
    for g, hi in enumerate(ends):
        for blk in _rows(codec.encode_blocks(
            ids[lo:hi], tfs[lo:hi], dls[lo:hi], 120.0, 1.2, 0.75, block_size,
            quantize_norms=qn,
        )):
            expected.append({**blk, "group": g})
        lo = hi
    assert len(batched) == len(expected)
    for got, exp in zip(batched, expected):
        assert got.keys() == exp.keys()
        for key in exp:
            assert got[key] == exp[key], key


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize("qn", [False, True])
def test_decode_postings_to_runs_equals_per_block(spark, positional, qn):
    """decode_postings_to_runs (one batched decode per Arrow batch) returns
    exactly the rows of a per-block codec.decode_block +
    positions_byte_slices reference, and round-trips the runs the blocks
    were built from."""
    from webindex.bm25 import BM25Config
    from webindex.build import build_postings, decode_postings_to_runs

    rng = np.random.default_rng(7)
    rows = []
    for term in range(-3, 3):
        n = int(rng.integers(1, 40))
        for d in np.unique(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64)):
            tf = int(rng.integers(1, 6))
            row = (term * 1_000_003, int(d), tf, int(rng.integers(tf, 300)))
            if positional:
                pos = np.sort(rng.choice(300, size=tf, replace=False))
                row += (codec.positions_encode_grouped(pos, np.array([0]))[0],)
            rows.append(row)
    runs_schema = (
        schema.with_positions(schema.RUNS_HASHED) if positional else schema.RUNS_HASHED
    )
    runs = spark.createDataFrame(rows, runs_schema)
    conf = BM25Config(block_size=7, quantize_norms=qn)
    postings = build_postings(
        runs, 120.0, conf, 1, n_docs=len(rows), id_space="hash", bucket_bits=2
    ).persist()
    blocks = postings.collect()
    assert len(blocks) > 8  # several blocks per term and per batch

    expected = []
    for r in blocks:
        d, t, l = codec.decode_block(
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["doc_lens"]), qn
        )
        decoded = [
            (r["term_hash"], int(d[i]), int(t[i]), int(l[i])) for i in range(len(d))
        ]
        if positional:
            pbuf = bytes(r["positions"])
            cut = codec.positions_byte_slices(pbuf, t)
            decoded = [x + (pbuf[cut[i] : cut[i + 1]],) for i, x in enumerate(decoded)]
        expected.extend(decoded)
    got = [tuple(r) for r in decode_postings_to_runs(postings, qn).collect()]
    postings.unpersist()
    assert sorted(got) == sorted(expected)
    if not qn:  # exact norms: the blocks round-trip the runs they came from
        assert sorted(got) == sorted(rows)
