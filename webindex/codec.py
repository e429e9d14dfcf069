"""Posting-list block codec: delta-gap + LEB128 varint, numpy-vectorized.

The reference stores postings inside Elasticsearch/Lucene (delta + specialized
int codecs, per-block metadata for block-max WAND). We implement the same
storage idea natively so postings live as BINARY columns in Parquet/Iceberg
tables (BASELINE.json north_star: "delta-gap + varint block-compressed posting
lists with per-block max-score metadata").

Block layout (one posting list = one term = a list of Block rows):
  doc_ids : sorted unique int64 -> delta gaps (first value absolute) -> varint
  tfs     : term frequencies   -> varint
  doc_lens: document lengths   -> varint   (makes the query path self-joining:
            BM25 needs dl per posting; storing it here avoids a doc_stats join
            per candidate at query time)
  n_docs, min_doc, max_doc, max_impact : block metadata. max_impact is
            max over the block of tf/(tf + k1*(1-b+b*dl/avgdl)) — the
            term-independent BM25 factor; block_max_score = idf * max_impact.

All encode/decode paths are numpy-vectorized (no per-element Python loops over
postings; loops run over *byte positions within a varint*, <= 10 iterations).
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # docs per block (Lucene uses 128-doc blocks for skip data)

_U7 = np.uint64(7)
_U0x7F = np.uint64(0x7F)


def varint_encode_with_sizes(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative int array; returns (bytes_u8, nbytes per
    value). One vectorized pass over the whole array — callers encoding many
    blocks concatenate their values first and slice the byte stream by the
    cumulative sizes (per-128-element calls would pay numpy setup ~10x)."""
    arr = np.asarray(values, dtype=np.uint64)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: ceil(bitlen/7), min 1
    nbytes = np.ones(arr.size, dtype=np.int64)
    shifted = arr >> _U7
    while shifted.any():
        nbytes += (shifted > 0).astype(np.int64)
        shifted >>= _U7
    starts = np.zeros(arr.size, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    out = np.empty(int(nbytes.sum()), dtype=np.uint8)
    for i in range(int(nbytes.max())):
        mask = nbytes > i
        byte = ((arr[mask] >> np.uint64(7 * i)) & _U0x7F).astype(np.uint8)
        cont = (nbytes[mask] > i + 1).astype(np.uint8) << 7
        out[starts[mask] + i] = byte | cont
    return out, nbytes


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a non-negative int array. Vectorized over the array."""
    out, _ = varint_encode_with_sizes(values)
    return out.tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 bytes back to an int64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.int64)
    ends = np.nonzero((b & 0x80) == 0)[0]
    starts = np.empty(ends.size, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    vals = np.zeros(ends.size, dtype=np.uint64)
    maxlen = int((ends - starts).max()) + 1
    for i in range(maxlen):
        pos = starts + i
        mask = pos <= ends
        vals[mask] |= (b[pos[mask]] & 0x7F).astype(np.uint64) << np.uint64(7 * i)
    return vals.astype(np.int64)


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """[5, 9, 12] -> [5, 4, 3]. Input must be sorted ascending."""
    arr = np.asarray(sorted_ids, dtype=np.int64)
    if arr.size == 0:
        return arr
    out = np.empty_like(arr)
    out[0] = arr[0]
    np.subtract(arr[1:], arr[:-1], out=out[1:])
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    return np.cumsum(np.asarray(gaps, dtype=np.int64))


# --------------------------------------------------------------------------
# Lucene-style 1-byte doc_len norms (opt-in via BM25Config.quantize_norms)
#
# Lucene stores the per-document field length as a single byte
# (SmallFloat-encoded norm) rather than the exact integer — the reference
# inherits this through ES dynamic mapping (src/connectors/elasticsearch.py:
# 169-173). Scheme here: codes 0..127 store the length exactly; codes
# 128..255 keep the top 4 significant bits (3-bit mantissa after the
# implicit leading 1, truncated): code = 128 + ((e-7) << 3) + m with
# e = floor(log2(dl)), m = (dl >> (e-3)) & 7, decoding to (8+m) << (e-3).
# Properties: decode(encode(x)) <= x with < 12.5% relative error; every
# representable value round-trips exactly (so compaction's decode ->
# re-encode is idempotent); monotonic non-decreasing; lengths >= 2^23
# (8.4M tokens) clamp to the max code. Saves ~1 byte/posting vs varint for
# dl >= 128 and caps the doc_lens stream at exactly n_docs bytes/block.
# --------------------------------------------------------------------------

_DL_MAX = (1 << 23) - 1


def dl_quantize(doc_lens: np.ndarray) -> np.ndarray:
    """int64 doc lengths -> uint8 norm codes (vectorized)."""
    x = np.clip(np.asarray(doc_lens, dtype=np.int64), 0, _DL_MAX)
    # frexp exponent: x = m * 2^exp, 0.5 <= m < 1  =>  floor(log2(x)) = exp-1
    e = np.frexp(x.astype(np.float64))[1].astype(np.int64) - 1
    big = x >= 128
    eb = e[big]
    m = (x[big] >> (eb - 3)) & 7
    codes = x.astype(np.int64).copy()
    codes[big] = 128 + ((eb - 7) << 3) + m
    return codes.astype(np.uint8)


def _dl_lut() -> np.ndarray:
    lut = np.empty(256, dtype=np.int64)
    lut[:128] = np.arange(128, dtype=np.int64)
    r = np.arange(128, dtype=np.int64)
    lut[128:] = (8 + (r & 7)) << (7 + (r >> 3) - 3)
    return lut


DL_DECODE_LUT = _dl_lut()


def dl_dequantize(codes_buf: bytes) -> np.ndarray:
    """uint8 norm-code bytes -> approximate int64 doc lengths."""
    return DL_DECODE_LUT[np.frombuffer(codes_buf, dtype=np.uint8)]


def bm25_impact(
    tfs: np.ndarray, doc_lens: np.ndarray, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Term-independent BM25 factor tf/(tf + k1*(1-b+b*dl/avgdl)), float64."""
    tf = np.asarray(tfs, dtype=np.float64)
    dl = np.asarray(doc_lens, dtype=np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    block_size: int = BLOCK_SIZE,
    quantize_norms: bool = False,
    group_ends: np.ndarray | None = None,
) -> dict:
    """Split MANY posting lists into encoded blocks in one vectorized call.

    The arrays hold consecutive groups — one group is one posting list (in
    the build, one (term_hash, bucket) pair), each sorted by doc_id asc.
    group_ends[g] is group g's exclusive end row; group 0 starts at row 0,
    group g at group_ends[g-1]. Rows past group_ends[-1] are ignored (the
    build's streaming encoder passes arrays that still hold its carried,
    incomplete trailing group). group_ends=None encodes all rows as one
    group.

    quantize_norms=True stores doc_lens as 1-byte Lucene-style norm codes
    (see dl_quantize) instead of varints; max_impact is then computed from
    the QUANTIZED lengths so block bounds stay sound for the scores the
    query path will actually compute.

    One pass per stream over ALL groups: delta gaps (reset to the absolute
    id at every block start, so at every group start too), one varint pass,
    then per-block byte slices from the cumulative sizes. Every value is
    elementwise in its own group, so each group's blocks are byte- and
    metadata-identical to encoding that group alone — the per-call numpy
    setup (~0.36 ms) is paid once per batch instead of once per group.

    Returns columns, one entry per block in (group, block) order: group
    (index into group_ends), block_id (index within the group), n_docs,
    min_doc, max_doc, max_impact (numpy arrays) and doc_ids, tfs, doc_lens
    (lists of bytes, the schema.POSTINGS streams)."""
    ends_g = np.asarray(
        [len(doc_ids)] if group_ends is None else group_ends, dtype=np.int64
    )
    n = int(ends_g[-1]) if ends_g.size else 0
    # slice BEFORE the max reduce: reduceat's last segment runs to the end
    # of the array, so trailing rows past the last group would leak into
    # the last block's max_impact (an unsound WAND bound)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)[:n]
    tfs = np.asarray(tfs, dtype=np.int64)[:n]
    doc_lens = np.asarray(doc_lens, dtype=np.int64)[:n]
    if n == 0:
        empty = np.empty(0, dtype=np.int64)
        return {
            "group": empty, "block_id": empty, "n_docs": empty,
            "min_doc": empty, "max_doc": empty,
            "max_impact": np.empty(0, dtype=np.float64),
            "doc_ids": [], "tfs": [], "doc_lens": [],
        }

    starts_g = np.zeros(ends_g.size, dtype=np.int64)
    starts_g[1:] = ends_g[:-1]
    per_group = -(-(ends_g - starts_g) // block_size)  # blocks per group
    group = np.repeat(np.arange(ends_g.size, dtype=np.int64), per_group)
    local = np.arange(group.size, dtype=np.int64) - np.repeat(
        np.cumsum(per_group) - per_group, per_group
    )
    starts = starts_g[group] + local * block_size
    ends = np.minimum(starts + block_size, ends_g[group])

    # delta gaps with an absolute value at every block start
    gaps = np.empty(n, dtype=np.int64)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gaps[starts] = doc_ids[starts]

    ids_buf, ids_nb = varint_encode_with_sizes(gaps)
    tfs_buf, tfs_nb = varint_encode_with_sizes(tfs)
    if quantize_norms:
        codes = dl_quantize(doc_lens)
        doc_lens = DL_DECODE_LUT[codes]  # scoring sees the quantized value
        dls_buf = codes
        dls_nb = np.ones(n, dtype=np.int64)  # fixed 1 byte/posting
    else:
        dls_buf, dls_nb = varint_encode_with_sizes(doc_lens)

    def _slices(buf: np.ndarray, nbytes: np.ndarray) -> list[bytes]:
        cut = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(nbytes, out=cut[1:])
        raw = buf.tobytes()
        return [
            raw[lo:hi] for lo, hi in zip(cut[starts].tolist(), cut[ends].tolist())
        ]

    impact = bm25_impact(tfs, doc_lens, avgdl, k1, b)
    return {
        "group": group,
        "block_id": local,
        "n_docs": ends - starts,
        "min_doc": doc_ids[starts],
        "max_doc": doc_ids[ends - 1],
        "max_impact": np.maximum.reduceat(impact, starts),
        "doc_ids": _slices(ids_buf, ids_nb),
        "tfs": _slices(tfs_buf, tfs_nb),
        "doc_lens": _slices(dls_buf, dls_nb),
    }


# --------------------------------------------------------------------------
# term positions (opt-in, for phrase queries)
#
# Lucene/ES index term positions by default (the reference's mapping-less
# index does too, reference: src/connectors/elasticsearch.py:169-173 — text
# fields get positions, enabling match_phrase). Layout discipline matches the
# other streams: per (term, doc) the token positions are sorted ascending,
# delta-gapped (first value absolute) and varint-encoded AT THE MAP SIDE; a
# posting block's positions stream is then the plain concatenation of its
# docs' byte strings in doc_id order — compaction and block re-slicing never
# re-encode, they move opaque per-doc byte spans. The number of positions per
# doc equals its tf, so the decode needs no extra length prefix.
# --------------------------------------------------------------------------


def positions_encode_grouped(
    positions: np.ndarray, group_starts: np.ndarray
) -> tuple[bytes, np.ndarray]:
    """Encode many docs' position lists in ONE vectorized pass.

    positions: concatenated per-group ascending position arrays;
    group_starts: index of each group's first element (ascending, first 0).
    Returns (byte stream, per-VALUE byte sizes) — callers slice per group via
    cumulative sizes at the group boundaries."""
    pos = np.asarray(positions, dtype=np.int64)
    if pos.size == 0:
        return b"", np.empty(0, dtype=np.int64)
    gaps = np.empty(pos.size, dtype=np.int64)
    gaps[0] = pos[0]
    np.subtract(pos[1:], pos[:-1], out=gaps[1:])
    gaps[group_starts] = pos[group_starts]  # absolute value at each doc start
    buf, nbytes = varint_encode_with_sizes(gaps)
    return buf.tobytes(), nbytes


def decode_positions(pos_buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """positions stream of one block -> (flat positions, group starts).

    tfs: the block's per-doc term frequencies (= per-doc position counts).
    Returns the concatenated absolute positions (ascending within each doc)
    plus each doc's start offset into that array. Vectorized: one varint pass,
    then a grouped delta-decode (global cumsum minus per-group base)."""
    tfs = np.asarray(tfs, dtype=np.int64)
    gaps = varint_decode(pos_buf)
    starts = np.zeros(tfs.size, dtype=np.int64)
    np.cumsum(tfs[:-1], out=starts[1:])
    if gaps.size == 0:
        return gaps, starts
    cs = np.cumsum(gaps)
    # subtract, at every element, the running total accumulated BEFORE its
    # group (each group's first gap is the absolute position, so the global
    # cumsum overshoots by exactly the previous groups' sum)
    group_prev = np.zeros(tfs.size, dtype=np.int64)
    group_prev[1:] = cs[starts[1:] - 1]
    return cs - np.repeat(group_prev, tfs), starts


def positions_byte_slices(pos_buf: bytes, tfs: np.ndarray) -> np.ndarray:
    """Byte offsets of each doc's encoded position span within a block's
    positions stream (for splitting WITHOUT re-encoding, e.g. compaction).
    Returns an int64 array of length n_docs+1: doc i's bytes are
    pos_buf[out[i]:out[i+1]]."""
    b = np.frombuffer(pos_buf, dtype=np.uint8)
    tfs = np.asarray(tfs, dtype=np.int64)
    out = np.zeros(tfs.size + 1, dtype=np.int64)
    if b.size == 0:
        return out
    ends = np.nonzero((b & 0x80) == 0)[0]  # last byte of each varint value
    cum = np.cumsum(tfs)  # every posting has tf >= 1, so cum is ascending >0
    out[1:] = ends[cum - 1] + 1
    return out


def decode_ids_concat(doc_ids_bufs, counts) -> tuple[np.ndarray, np.ndarray]:
    """Batched doc_id-stream decode for MANY blocks (the ids-only subset of
    decode_blocks_concat, for filter-context kernels that never touch
    tfs/doc_lens). Returns (doc_ids, starts). Same modular-arithmetic
    delta-reset argument as decode_blocks_concat."""
    counts = np.asarray(counts, dtype=np.int64)
    starts = np.zeros(counts.size, dtype=np.int64)
    if counts.size:
        np.cumsum(counts[:-1], out=starts[1:])
    gaps = varint_decode(b"".join(doc_ids_bufs))
    if not gaps.size:
        return np.empty(0, dtype=np.int64), starts
    cs = np.cumsum(gaps)
    prev = np.zeros(counts.size, dtype=np.int64)
    prev[1:] = cs[starts[1:] - 1]
    return cs - np.repeat(prev, counts), starts


def decode_blocks_concat(
    doc_ids_bufs,
    tfs_bufs,
    doc_lens_bufs,
    counts,
    quantize_norms: bool = False,
):
    """Decode MANY blocks in three vectorized passes (one per stream) —
    the batch form of decode_block, bit-identical to calling it per block.

    doc_ids_bufs/tfs_bufs/doc_lens_bufs: iterables of the blocks' byte
    strings (row order); counts: each block's posting count
    (schema.POSTINGS n_docs). Returns (doc_ids, tfs, doc_lens, starts)
    where starts[i] is block i's offset into the concatenated arrays.

    Why it works: varints are self-delimiting, so one varint pass over the
    concatenated stream yields exactly the per-block value sequences; every
    block stores its FIRST doc gap as the absolute id, so the grouped
    delta-decode (global cumsum minus each block's preceding total) resets
    at every block boundary. int64 wrap-around in the global cumsum is
    harmless: addition/subtraction are exact mod 2^64 and each block's ids
    are recovered as differences, so two's-complement values round-trip
    (hash id space spans the full signed range by design).

    Motivation (round 6): the query kernels called decode_block once per
    block row — ~0.1-0.2 ms of numpy setup per call x thousands of
    candidate blocks per bucket group dominated the scoring stage's CPU
    (measured ~0.28 s of a 0.74 s query at 100k docs; the varint math
    itself is microseconds)."""
    ids, starts = decode_ids_concat(doc_ids_bufs, counts)
    tfs = varint_decode(b"".join(tfs_bufs))
    dls_cat = b"".join(doc_lens_bufs)
    dls = dl_dequantize(dls_cat) if quantize_norms else varint_decode(dls_cat)
    return ids, tfs, dls, starts


def decode_block(
    doc_ids_buf: bytes,
    tfs_buf: bytes,
    doc_lens_buf: bytes,
    quantize_norms: bool = False,
):
    """Inverse of encode_blocks for one block -> (doc_ids, tfs, doc_lens).
    quantize_norms must match the flag the index was BUILT with (persisted
    in the index's conf sidecar; see build.load_index)."""
    return (
        delta_decode(varint_decode(doc_ids_buf)),
        varint_decode(tfs_buf),
        dl_dequantize(doc_lens_buf) if quantize_norms else varint_decode(doc_lens_buf),
    )
