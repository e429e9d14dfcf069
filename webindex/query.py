"""Top-k BM25 query path: exhaustive scoring + distributed block-max WAND.

Generalizes the reference's query lifecycle (reference:
src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-306 — multi_match query,
BM25-ranked hits, top-1 read) to arbitrary k over our native index:

    query string -> tokenize (same analyzer as build)
      -> term_stats lookup (df+idf+term_hash per query term; no Spark job
         on a driver-local index — a pyarrow read of the dictionary files
         on the driver; term_stats is also the term dictionary, so query
         strings are mapped to the 8-byte hash keys the postings table is
         clustered by)
      -> candidate posting blocks (filter term_hash IN (...) — file/row-group
         pruning on the hash-clustered postings table)
      -> groupBy(bucket) applyInPandas  [ONE fused stage]:
           block-max WAND prune: skip the whole bucket when
             UB(bucket) = Σ_t idf_t·max(max_impact) < θ
           decode surviving blocks (numpy varint) -> BM25 contributions
           per-doc sum in TERM-ASCENDING order (deterministic float64)
           local top-k
      -> global orderBy(score desc, doc_id asc).limit(k)  [k rows per bucket]

Every BM25 top-k family runs that one kernel (_bucket_fn, planned by
_scored); a family only builds its _Spec — slot weights, combine, θ,
per-doc count bounds, cursor. The candidate-block scan and bucket grouping
are themselves ONE plan, _candidate_plan, shared by every per-bucket
kernel: the BM25 kernel (and suggest_phrase's collate through it), the
phrase matcher, intervals and aggs.ids_with_counts; it alone hands each
kernel live_index()'s pending deletes.

Buckets partition doc space (build.bucket_expr), so each doc's postings for
ALL query terms land in the same bucket group — the per-bucket sum is the
full score, local top-k is safe, and pruning a bucket can never corrupt a
surviving doc's score. θ is seeded from the rarest query term: its k-th
largest single-term contribution lower-bounds the final k-th best score
(every doc containing it scores at least that). One seed path serves
topk_wand (one query) and topk_batch (every query of the batch):
_query_thetas picks the rarest terms, _theta_seeds computes their exact
k-th values in 2 Spark jobs per round, no shuffle, whatever the term count.
The seed is skipped when df(rarest) <= k (θ would be 0) or when the query's
candidate volume is too small for pruning to repay the seed jobs
(THETA_SEED_MIN_BLOCKS cost gate).

Everything driver-side is metadata-scale: per-term stats and k rows.
Determinism: float64, fixed summation order, ties -> doc_id asc — results
are identical at any parallelism and equal to the pytest oracle's.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from webindex import codec
from webindex.build import GRAM_Q, Index, build_term_grams
from webindex.textproc import tokenize

_HIT = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

_QHIT = T.StructType(
    [
        T.StructField("query_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

def _query_terms(index: Index, query: str) -> dict[str, tuple[int, float, int]]:
    """{term: (df, idf, term_hash)} for query terms present in the corpus
    (duplicates dedup'd, matching Lucene's per-field term dedup in
    multi_match); df rides along so WAND's rarest-term choice is free,
    term_hash so the postings filter never hashes query strings itself."""
    return _lookup_terms(index, sorted(set(tokenize(query))))


def _lookup_terms(index: Index, terms: list[str]) -> dict[str, tuple[int, float, int]]:
    """{term: (df, idf, term_hash)} for the `terms` in the dictionary — THE
    dictionary probe. A disk-backed local index is probed on the driver: a
    pyarrow read of four columns of the term_stats files the index opened
    (Index.term_files), the term IN filter pushed into the scan, no Spark
    job. Otherwise one Spark job (filter + collect)."""
    if not terms:
        return {}
    cols = ["term", "df", "idf", "term_hash"]
    if index.term_files is not None:
        from webindex.io import local_rows

        rows = local_rows(index.term_files, cols, [("term", "in", terms)])
    else:
        rows = index.term_stats.filter(F.col("term").isin(terms)).select(*cols).collect()
    return {
        r["term"]: (int(r["df"]), float(r["idf"]), int(r["term_hash"])) for r in rows
    }


def _live(ids: np.ndarray, dead: np.ndarray | None) -> np.ndarray | None:
    """Mask of the `ids` NOT in the sorted `dead` array (Index.dead_ids —
    live_index()'s pending deletes), or None when nothing is dead. The one
    live-docs filter of every kernel: it runs on decoded rows, before any
    per-doc combine or local top-k cut — a dead doc kept in a bucket's local
    k would displace a live doc that belongs in the global top-k, and a
    dead doc's contribution must not set a θ seed (it never reaches the
    result set, so θ could exceed the true k-th best LIVE score)."""
    if dead is None or not len(dead):
        return None
    pos = np.searchsorted(dead, ids)
    pos[pos >= len(dead)] = len(dead) - 1
    return dead[pos] != ids


def _local_topk(doc_ids: np.ndarray, scores: np.ndarray, k: int | None):
    """The local top-k cut of every bucket kernel: score desc, doc_id asc
    (k=None keeps all, in that order)."""
    sel = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[sel], scores[sel]


def _hits_frame(hits: list[tuple], batch: bool) -> pd.DataFrame:
    """One bucket's hits [(query_id, doc_ids, scores), ...] as a kernel's
    output rows: (doc_id, score), or (query_id, doc_id, score) when
    `batch` — the empty frame of those columns when there are none."""
    frame = {
        "doc_id": np.concatenate([d for _, d, _ in hits] or [np.empty(0, np.int64)]),
        "score": np.concatenate([s for _, _, s in hits] or [np.empty(0)]),
    }
    if batch:
        frame = {"query_id": [q for q, d, _ in hits for _ in d], **frame}
    return pd.DataFrame(frame)


def _candidate_plan(
    index: Index,
    hashes,
    kernel,
    schema,
    extra: F.Column | None = None,
    theta_df: DataFrame | None = None,
) -> DataFrame:
    """THE candidate-block plan of every per-bucket kernel: the posting
    blocks of `hashes` (filter term_hash IN (...) [& extra] — row-group
    pruning on the hash-clustered postings) [-> broadcast left join of a
    bucket-count-sized (bucket, _theta_b) frame] ->
    groupBy(bucket).applyInPandas, calling kernel(blocks, dead) once per
    bucket with live_index()'s pending deletes (Index.dead_ids) — the only
    way a kernel learns them. Buckets partition doc space, so a group holds
    every candidate block of its docs. No hash: the empty `schema` frame,
    no job."""
    hashes = sorted(set(hashes))
    if not hashes:
        return index.postings.sparkSession.createDataFrame([], schema)
    cond = F.col("term_hash").isin(hashes)
    if extra is not None:
        cond = cond & extra
    blocks = index.postings.filter(cond)
    if theta_df is not None:
        blocks = blocks.join(F.broadcast(theta_df), "bucket", "left")
    dead = index.dead_ids

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return kernel(pdf, dead)

    return blocks.groupBy("bucket").applyInPandas(fn, schema=schema)


def _decode_rows(blocks: pd.DataFrame, conf, avgdl: float, dead: np.ndarray | None):
    """The shared decode step: posting-block rows -> per-posting rows
    (blk, doc_id, tf, dl, impact), dead docs dropped (_live). blk is the
    row's block position in `blocks` (ascending); impact is the
    term-independent BM25 factor, so a caller's contribution is ONE float64
    multiply weight × impact — the arithmetic the oracle's sum uses.

    Batched (codec.decode_blocks_concat): three vectorized passes over the
    blocks' concatenated streams instead of a Python call per block row,
    bit-identical to decoding block by block."""
    counts = blocks["n_docs"].to_numpy(dtype=np.int64)
    ids, tfs, dls, _ = codec.decode_blocks_concat(
        blocks["doc_ids"], blocks["tfs"], blocks["doc_lens"], counts,
        conf.quantize_norms,
    )
    blk = np.repeat(np.arange(len(blocks)), counts)
    impact = codec.bm25_impact(tfs, dls, avgdl, conf.k1, conf.b)
    alive = _live(ids, dead)
    if alive is not None:
        blk, ids, tfs, dls, impact = (
            blk[alive], ids[alive], tfs[alive], dls[alive], impact[alive]
        )
    return blk, ids, tfs, dls, impact


def _require_positions(index: Index, what: str) -> None:
    """Raise unless `index` carries positions (build_index(positions=True)):
    the phrase, intervals/span and highlight families read them."""
    if "positions" not in index.postings.columns:
        raise ValueError(
            f"{what} need a positional index — build with "
            "build_index(..., positions=True)"
        )


def _decode_positional(blocks: pd.DataFrame, conf, dead: np.ndarray | None):
    """The shared positional decode: positional block rows -> (blk, ids,
    tfs, dls, pdocs, pos), dead docs dropped (_live) from the per-doc
    arrays (blk, ids, tfs, dls) and from the per-position ones (pdocs =
    each position's doc, pos ascending within a doc). blk is the row's
    block position in `blocks`; doc i's positions are the tfs[i] values
    starting at cumsum(tfs)[i] - tfs[i].

    ids/tfs/dls come from codec.decode_blocks_concat, positions from ONE
    codec.decode_positions call over the joined streams and the
    concatenated tfs — every doc's first position gap is absolute, so the
    grouped delta-decode resets at each doc of each block and the single
    call is already the batched form."""
    counts = blocks["n_docs"].to_numpy(dtype=np.int64)
    ids, tfs, dls, _ = codec.decode_blocks_concat(
        blocks["doc_ids"], blocks["tfs"], blocks["doc_lens"], counts,
        conf.quantize_norms,
    )
    pos, _ = codec.decode_positions(b"".join(blocks["positions"]), tfs)
    blk = np.repeat(np.arange(len(blocks)), counts)
    alive = _live(ids, dead)
    if alive is not None:
        pos = pos[np.repeat(alive, tfs)]
        blk, ids, tfs, dls = blk[alive], ids[alive], tfs[alive], dls[alive]
    return blk, ids, tfs, dls, np.repeat(ids, tfs), pos


def _interval_prune(
    tmins: np.ndarray,
    tmaxs: np.ndarray,
    timps: np.ndarray,
    tslots: np.ndarray,
    n_slots: int,
    theta: float,
    cover: tuple = (),
):
    """Block-max WAND at elementary-interval granularity (pure metadata math).

    Elementary doc-range intervals from the blocks' [min,max] spans;
    UB(interval) = Σ_slot max(weight·max_impact of the slot's blocks
    covering it). A doc in an interval with UB < θ cannot reach the top-k;
    every doc in a kept interval has ALL its blocks decoded (any block
    containing it overlaps its interval), so survivors get exact scores.

    cover = ((slot ids, need), ...) adds the coverage prune: a doc
    matching at least `need` of those slots must live in an interval
    covered by blocks of at least `need` of them, so under-covered
    intervals are dropped (match msm / operator=and over all slots — the
    intersection prune, the non-positional analogue of the phrase range
    prune; bool's required and should clauses). Coverage is block
    presence, not impact, so bool's unscored (weight 0) terms count.

    Returns (bounds, interval_keep, block_keep) or None when everything is
    pruned."""
    bounds = np.unique(np.concatenate((tmins, tmaxs + 1)))
    n_int = len(bounds) - 1
    if n_int <= 0:
        return None
    lo = np.searchsorted(bounds, tmins, side="right") - 1
    hi = np.searchsorted(bounds, tmaxs, side="right") - 1
    ub = np.zeros((n_slots, n_int), dtype=np.float64)
    cov = np.zeros((n_slots, n_int), dtype=bool)
    for bi in range(len(tmins)):  # blocks per bucket are few
        s, a, e = tslots[bi], lo[bi], hi[bi] + 1
        seg = ub[s, a:e]
        np.maximum(seg, timps[bi], out=seg)
        cov[s, a:e] = True
    interval_keep = ub.sum(axis=0) >= theta
    for slots, need in cover:
        interval_keep &= cov[list(slots)].sum(axis=0) >= need
    if not interval_keep.any():
        return None
    block_keep = np.zeros(len(tmins), dtype=bool)
    for bi in range(len(tmins)):
        if interval_keep[lo[bi] : hi[bi] + 1].any():
            block_keep[bi] = True
    return bounds, interval_keep, block_keep


class _Spec(NamedTuple):
    """What the bucket kernel scores for one query. Each public query
    derives it from its family alone — never a user-settable option.

    slots: ((weight, term hashes), ...) in summation order. A slot is one
      term (weight idf; 0.0 for bool's filter/must_not terms, whose rows
      then add an exact +0.0 — an IEEE no-op — but still count), or one
      synonym group (several member hashes, one weight).
    combine: per-doc combine over slots — "sum" (match family), "max"
      (fuzzy's dis_max) or "pool" (synonyms: member tfs summed per
      (doc, slot) before the impact formula).
    theta: block-max WAND threshold; 0 prunes nothing by score.
    counts: ((slot ids, lo, hi), ...) — per doc, the number of those slots
      it matches must lie in [lo, hi] (hi None: unbounded). match msm and
      bool's required / should clauses set lo, must_not sets hi=0; every
      lo > 0 also prunes at block metadata (_interval_prune cover).
    after: search_after cursor (score, doc_id)."""

    slots: tuple
    combine: str = "sum"
    theta: float = 0.0
    counts: tuple = ()
    after: tuple[float, int] | None = None


def _match_spec(
    stats: dict[str, tuple[int, float, int]],
    theta: float = 0.0,
    msm: int = 1,
    after: tuple[float, int] | None = None,
) -> _Spec:
    """match-family spec: one slot per present term, TERM-STRING ascending —
    the oracle's deterministic summation order, kept even though blocks
    only carry hashes. msm > 1 (ES minimum_should_match / operator=and):
    only docs matching at least msm of the terms survive."""
    slots = tuple((stats[t][1], (stats[t][2],)) for t in sorted(stats))
    counts = ((tuple(range(len(slots))), msm, None),) if msm > 1 else ()
    return _Spec(slots, theta=theta, counts=counts, after=after)


def _bucket_fn(
    specs,
    conf,
    avgdl: float,
    k: int | None,
    _probe: dict | None = None,
):
    """THE per-bucket BM25 kernel fn(blocks, dead) of _candidate_plan: one
    bucket's posting blocks -> local top-k. `specs` is one _Spec (output
    doc_id, score) or {query_id: _Spec} (topk_batch: output query_id,
    doc_id, score; a block decodes once however many queries need it). Buckets partition doc
    space, so a doc's postings for every query term land in this group:
    the per-doc combine is its full score and the local cut is safe.

      1. A `_theta_b` column (one value per bucket, function_score's
         per-bucket bound joined on upstream) raises θ to max(θ, _theta_b);
         NULL or non-finite prunes the whole bucket (the caller proved no
         doc in it can reach the global top-k).
      2. One metadata pass per spec (_interval_prune) when θ > 0 or a count
         bound has lo > 0: interval UBs and slot coverage pick the blocks
         to decode and the intervals whose docs survive.
      3. One decode of every kept block (_decode_rows, the `dead` docs
         dropped);
         contribution = slot weight × impact.
      4. Rows in pruned intervals drop (partial scores, provably below θ).
      5. Per-doc combine in (doc_id, slot) order — np.add.reduceat then
         sums in slot order, the oracle's float64 order — or max / pooled
         tf per the spec.
      6. Count bounds (rows per doc == distinct matched slots: a doc
         appears once per term) and the search_after cursor — strictly
         after (s_a, d_a) in (score desc, doc_id asc) order; scores are
         deterministic float64, so == against this engine's cursor is exact.
      7. Local top-k, score desc / doc_id asc; k=None keeps every doc
         (match_scores, function_score's re-ranked pass)."""
    batch = isinstance(specs, dict)
    items = list(specs.items()) if batch else [(None, specs)]
    weights = [np.asarray([w for w, _ in s.slots], dtype=np.float64) for _, s in items]
    k1, b = conf.k1, conf.b
    empty = _hits_frame([], batch)

    def fn(pdf: pd.DataFrame, dead: np.ndarray | None = None) -> pd.DataFrame:
        if _probe is not None:
            _probe["blocks_total"] = _probe.get("blocks_total", 0) + len(pdf)
        theta_b = 0.0
        if "_theta_b" in pdf.columns:
            tb = pdf["_theta_b"].iloc[0]
            if tb is None or not np.isfinite(tb):
                return empty
            theta_b = float(tb)
        blocks_of: dict[int, list[int]] = {}
        for bi, h in enumerate(pdf["term_hash"].tolist()):
            blocks_of.setdefault(h, []).append(bi)
        # blocks encoded at an older avgdl keep a sound upper bound when
        # scaled by max(1, avgdl/avgdl0) (see schema.POSTINGS.avgdl0)
        drift = np.maximum(1.0, avgdl / pdf["avgdl0"].to_numpy(dtype=np.float64))
        bound = pdf["max_impact"].to_numpy(dtype=np.float64)

        # -- 2. per spec: its (block, slot) pairs the metadata keeps
        need = np.zeros(len(pdf), dtype=bool)
        plans = []
        for (qid, s), weight in zip(items, weights):
            per_slot = [[bi for h in hs for bi in blocks_of.get(h, ())] for _, hs in s.slots]
            pb = np.asarray([bi for bs in per_slot for bi in bs], dtype=np.int64)
            ps = np.repeat(np.arange(len(s.slots)), [len(bs) for bs in per_slot])
            theta = max(s.theta, theta_b)
            cover = tuple((ids, lo) for ids, lo, _ in s.counts if lo > 0)
            iv = None
            if len(pb) and (theta > 0.0 or cover):
                pruned = _interval_prune(
                    pdf["min_doc"].to_numpy(dtype=np.int64)[pb],
                    pdf["max_doc"].to_numpy(dtype=np.int64)[pb],
                    weight[ps] * bound[pb] * drift[pb], ps, len(s.slots), theta,
                    cover,
                )
                if pruned is None:
                    continue
                iv, block_keep = pruned[:2], pruned[2]
                pb, ps = pb[block_keep], ps[block_keep]
            if len(pb):
                need[pb] = True
                plans.append((qid, s, weight, pb, ps, iv))
        if not plans:
            return empty

        # -- 3. one decode of every block some spec kept
        nidx = np.nonzero(need)[0]
        if _probe is not None:
            _probe["blocks_decoded"] = _probe.get("blocks_decoded", 0) + len(nidx)
        blk, ids, tfs, dls, impact = _decode_rows(pdf.iloc[nidx], conf, avgdl, dead)
        at = np.cumsum(need) - 1  # pdf block -> its position in the decode
        first = np.searchsorted(blk, np.arange(len(nidx)))
        n_rows = np.searchsorted(blk, np.arange(len(nidx)), side="right") - first

        out = []
        for qid, s, weight, pb, ps, iv in plans:
            n = n_rows[at[pb]]
            rows = np.repeat(first[at[pb]] - (np.cumsum(n) - n), n) + np.arange(n.sum())
            slot, d = np.repeat(ps, n), ids[rows]
            # -- 4. docs in pruned intervals
            if iv is not None:
                bounds, interval_keep = iv
                ix = np.searchsorted(bounds, d, side="right") - 1
                keep = (ix >= 0) & (ix < len(interval_keep))
                keep[keep] &= interval_keep[ix[keep]]
                rows, slot, d = rows[keep], slot[keep], d[keep]
            if not len(d):
                continue
            # -- 5. per-doc combine in (doc_id, slot) order
            order = np.lexsort((slot, d))
            rows, slot, d = rows[order], slot[order], d[order]
            if s.combine == "pool":
                # member tfs pooled per (doc, slot): exact integer sums in
                # float64, and a doc's dl is the same on every row
                g = np.concatenate(
                    ([0], np.nonzero((d[1:] != d[:-1]) | (slot[1:] != slot[:-1]))[0] + 1)
                )
                tf = np.add.reduceat(tfs[rows].astype(np.float64), g)
                pooled = codec.bm25_impact(tf, dls[rows][g], avgdl, k1, b)
                slot, d = slot[g], d[g]
                contrib = weight[slot] * pooled
            else:
                contrib = weight[slot] * impact[rows]
            starts = np.concatenate(([0], np.nonzero(d[1:] != d[:-1])[0] + 1))
            doc_ids = d[starts]
            reduce = np.maximum if s.combine == "max" else np.add
            scores = reduce.reduceat(contrib, starts)
            # -- 6. doc predicates
            ok = np.ones(len(doc_ids), dtype=bool)
            for cids, lo, hi in s.counts:
                m = np.add.reduceat(np.isin(slot, cids).astype(np.int64), starts)
                ok &= (m >= lo) & (hi is None or m <= hi)
            if s.after is not None:
                s_a, d_a = s.after
                ok &= (scores < s_a) | ((scores == s_a) & (doc_ids > d_a))
            # -- 7. local top-k
            out.append((qid, *_local_topk(doc_ids[ok], scores[ok], k)))
        return _hits_frame(out, batch)

    return fn


def _scored(
    index: Index, specs, k: int | None, theta_df: DataFrame | None = None
) -> DataFrame:
    """The scoring plan of every BM25 top-k family: _candidate_plan with
    the _bucket_fn kernel -> global orderBy(score desc, doc_id asc).limit(k).
    k=None skips both cuts; a {query_id: spec} batch returns the per-bucket
    locals for topk_batch's per-query window. theta_df (bucket, _theta_b)
    is function_score's per-bucket θ frame. No term present: the empty
    result, no job."""
    batch = isinstance(specs, dict)
    slots = [sl for s in (specs.values() if batch else [specs]) for sl in s.slots]
    hits = _candidate_plan(
        index, (h for _, hs in slots for h in hs),
        _bucket_fn(specs, index.conf, index.avgdl, k), _QHIT if batch else _HIT,
        theta_df=theta_df,
    )
    if batch or k is None:
        return hits
    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def topk_exact(index: Index, query: str, k: int = 10) -> DataFrame:
    """Exhaustive scoring (θ=0: nothing pruned) — the WAND cross-check."""
    return _scored(index, _match_spec(_query_terms(index, query)), k)


def _seed_topk(pairs: set, idfs: dict[int, float], k: int, conf, avgdl, dead):
    """mapInPandas fn of a _theta_seeds round: decode only the fetched
    (term_hash, block_id) pairs (block ids repeat across terms), dead docs
    dropped by _decode_rows, and emit this partition's per-term top-k
    contributions (term_hash, contrib) for the driver to merge."""

    def fn(batches):
        hs, cs = [np.empty(0, np.int64)], [np.empty(0)]
        for pdf in batches:
            key = pd.MultiIndex.from_arrays([pdf["term_hash"], pdf["block_id"]])
            pdf = pdf[key.isin(pairs)]
            if not len(pdf):
                continue
            blk, _, _, _, impact = _decode_rows(pdf, conf, avgdl, dead)
            hs.append(pdf["term_hash"].to_numpy(dtype=np.int64)[blk])
            w = pdf["term_hash"].map(idfs).to_numpy(dtype=np.float64)[blk]
            cs.append(w * impact)
        th, contrib = np.concatenate(hs), np.concatenate(cs)
        order = np.lexsort((-contrib, th))
        th, contrib = th[order], contrib[order]
        top = np.arange(len(th)) - np.searchsorted(th, th) < k
        yield pd.DataFrame({"term_hash": th[top], "contrib": contrib[top]})

    return fn


def _theta_seeds(
    index: Index, idfs: dict[int, float], k: int, _probe: dict | None = None
) -> dict[int, float]:
    """{term_hash: θ} for {term_hash: idf}: each term's EXACT k-th largest
    live single-term BM25 contribution (0.0 below k live postings) — a
    sound lower bound for the final k-th best score of any query containing
    the term (every doc with the term scores at least its own contribution).

    Bounded decode (metadata-first), 2 Spark jobs per round and no shuffle,
    whatever the term count: a TakeOrdered over the idf-scaled block bounds
    (idf·max_impact·drift; METADATA, no posting bytes move) of every
    unresolved term, m·|terms| rows, then one decode of just the fetched
    blocks (_seed_topk). Every unfetched block is bounded by the weakest
    fetched one, so a term is done, and its value EXACT, once its k-th best
    reaches that bound or the round fetched fewer rows than it asked for
    (nothing is left); the rest re-round with m×4. For a hot term ("the",
    df~N) this decodes O(k) postings instead of df (VERDICT r01 'What's
    wrong #6'). No term: no job."""
    drift = F.greatest(F.lit(1.0), F.lit(index.avgdl) / F.col("avgdl0"))
    # prefix size: enough full blocks to hold k postings, padded for partial
    # blocks; grows until the stop condition proves every value exact. The
    # floor of 16 blocks resolves a hot rarest term in one round (at 4, a
    # third of a head-query log's rarest terms needed a second round, two
    # more jobs with the first prefix decoded again)
    m = max(16, 2 * -(-k // index.conf.block_size))
    todo, seeds = dict(idfs), {}
    while todo:
        hashes = sorted(todo)
        idf = F.create_map(
            *(c for h in hashes for c in (F.lit(h).cast("long"), F.lit(todo[h])))
        )
        top = (
            index.postings.filter(F.col("term_hash").isin(hashes))
            .select(
                "term_hash",
                "block_id",
                (idf[F.col("term_hash")] * F.col("max_impact") * drift).alias("bound"),
            )
            .orderBy(F.desc("bound"), F.asc("block_id"), F.asc("term_hash"))
            .limit(m * len(hashes))
            .collect()
        )
        pairs = {(int(r["term_hash"]), int(r["block_id"])) for r in top}
        rows = (
            index.postings.filter(
                F.col("term_hash").isin(hashes)
                & F.col("block_id").isin(sorted({b for _, b in pairs}))
            )
            .mapInPandas(
                _seed_topk(pairs, todo, k, index.conf, index.avgdl, index.dead_ids),
                schema="term_hash long, contrib double",
            )
            .collect()
        )
        if _probe is not None:
            _probe["rounds"] = _probe.get("rounds", 0) + 1
            _probe["blocks_decoded"] = _probe.get("blocks_decoded", 0) + len(top)
        best: dict[int, list[float]] = {}
        for r in rows:
            best.setdefault(int(r["term_hash"]), []).append(float(r["contrib"]))
        exhausted = len(top) < m * len(hashes)  # every block of every term
        weakest = float(top[-1]["bound"]) if top else 0.0
        for h in hashes:
            kth = sorted(best.get(h, ()), reverse=True)[k - 1 : k]
            if exhausted or (kth and kth[0] >= weakest):
                seeds[h] = kth[0] if kth else 0.0
                del todo[h]
        m *= 4
    return seeds


# Cost-based θ-seed gate: seeding costs 2 driver-synchronous jobs per round,
# any number of terms (~fixed job latency each); pruning saves decode work
# proportional to the query's candidate block count. Below this many
# estimated candidate blocks the seed jobs cost more than the decode they
# can possibly save (measured at 100k docs: +1s/query for zero pruning
# benefit); far above it — the 10^12-doc regime, ~8e9 blocks for a hot term
# — pruning IS the query path. Tests pass 0 to force the pruning path on
# tiny fixtures. The +1s figure predates _guard_zip_invalidation
# (webindex/__init__.py): every seed task then paid ~0.15 s of zip re-reads
# in Python worker set-up, so the break-even may be lower now; it has not
# been re-measured.
THETA_SEED_MIN_BLOCKS = 4096


def _query_thetas(
    index: Index, qstats: dict, k: int, seed_min_blocks: int | None
) -> dict:
    """{query_id: θ} for {query_id: its _query_terms stats}: the θ seed of
    each query's rarest present term, all seeded in ONE _theta_seeds call —
    only for queries where it is worthwhile: the rarest term has > k docs
    AND the candidate volume is big enough for pruning to pay for the seed
    jobs (cost-based gate above). Single-term queries seed too: θ = the
    k-th best contribution IS the k-th best score."""
    if seed_min_blocks is None:
        seed_min_blocks = THETA_SEED_MIN_BLOCKS
    rarest = {}
    for qid, stats in qstats.items():
        est_blocks = sum(df for (df, _, _) in stats.values()) / index.conf.block_size
        rterm = min(stats, key=lambda t: (stats[t][0], t))
        if stats[rterm][0] > k and est_blocks >= seed_min_blocks:
            rarest[qid] = stats[rterm]
    seeds = _theta_seeds(index, {h: idf for (_, idf, h) in rarest.values()}, k)
    return {qid: seeds[h] for qid, (_, _, h) in rarest.items()}


def topk_wand(
    index: Index, query: str, k: int = 10, seed_min_blocks: int | None = None
) -> DataFrame:
    """Block-max WAND top-k (bucket-level pruning fused into the scoring
    stage; see module docstring). Always identical to topk_exact."""
    stats = _query_terms(index, query)
    if not stats:
        return index.postings.sparkSession.createDataFrame([], _HIT)
    theta = _query_thetas(index, {query: stats}, k, seed_min_blocks).get(query, 0.0)
    return _scored(index, _match_spec(stats, theta), k)


def topk_match(
    index: Index,
    query: str,
    k: int = 10,
    operator: str = "or",
    minimum_should_match: int = 1,
) -> DataFrame:
    """ES `match`-query execution modes over the same index: operator="and"
    requires EVERY distinct query term in the doc; minimum_should_match=n
    requires at least n of them. Scoring is unchanged (sum of the present
    terms' BM25 contributions — Lucene BooleanQuery with required/optional
    clauses under the default similarity; the reference's mapping-less ES
    index serves exactly these modes, reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-262).

    The constraint counts against the QUERY's distinct analyzed terms, so a
    term absent from the corpus makes operator="and" (or an msm above the
    present-term count) return empty — Lucene's semantics, since an unknown
    term is a required clause that can never match.

    Constrained queries run with θ=0: the single-term seed bound is a lower
    bound on the UNCONSTRAINED k-th best score, not the constrained one
    (fewer docs qualify), so seeding could prune sound results. The msm
    coverage prune does the heavy lifting instead — elementary doc-range
    intervals covered by fewer than msm distinct terms' blocks are dropped
    at block metadata before any decode (for AND this is the intersection
    prune; two terms that never share a doc range decode nothing)."""
    spark = index.postings.sparkSession
    q_terms = sorted(set(tokenize(query)))
    if not q_terms:
        return spark.createDataFrame([], _HIT)
    msm = len(q_terms) if operator == "and" else int(minimum_should_match)
    if msm <= 1:
        return topk_wand(index, query, k)
    stats = _query_terms(index, query)
    if msm > len(stats):  # a required term is absent from the corpus
        return spark.createDataFrame([], _HIT)
    return _scored(index, _match_spec(stats, msm=msm), k)


def topk_after(
    index: Index,
    query: str,
    k: int = 10,
    after: tuple[float, int] | None = None,
) -> DataFrame:
    """ES `search_after` pagination: the next k results STRICTLY after the
    cursor `after = (score, doc_id)` in (score desc, doc_id asc) rank order
    — the cursor is the previous page's last row's sort values, exactly as
    the reference pages its scans (reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-306, search_after over
    sorted hits; ES deprecates from+size for deep pages in favor of this).

    Stateless like ES's: no server-side scroll context — each page is one
    query carrying the cursor. Scores are deterministic float64 with a
    fixed summation order, so the == half of the cursor comparison is exact
    against any cursor this engine produced. Runs with θ=0: a top-k seed
    bound would prune exactly the below-θ docs later pages must return
    (deep pagination re-scores candidates — same trade ES makes)."""
    if after is None:
        return topk_wand(index, query, k)
    return _scored(index, _match_spec(_query_terms(index, query), after=after), k)


def topk_bool(
    index: Index,
    must: str = "",
    should: str = "",
    must_not: str = "",
    filter_: str = "",
    k: int = 10,
    minimum_should_match: int | None = None,
) -> DataFrame:
    """ES `bool` query over the native index — Lucene BooleanQuery under
    BM25 (the reference's ES backend serves exactly this compound shape,
    reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-262):

      must      required AND scored
      filter_   required, NOT scored (constant-score context)
      should    optional, scored; minimum_should_match defaults to 0 when
                a required clause exists, else 1 (Lucene's default)
      must_not  excludes any doc containing one of its terms; never scored

    Each clause is an analyzed string; its distinct tokens are the clause
    terms. Lucene absence semantics: a must/filter term missing from the
    corpus makes the query unsatisfiable (empty result); a missing should
    term just can't contribute (and an msm above the number of PRESENT
    should terms empties the result); a missing must_not term is ignored.
    A term both required and excluded is a contradiction -> empty. Docs
    matching only filter clauses score 0.0 (ES behavior), ordered by doc_id.

    One fused stage, θ=0 (conjunctive constraints make the single-term seed
    bound unsound, as in topk_match); the required-coverage metadata prune
    does the heavy lifting — a bucket or interval missing any required
    term's blocks, or covered by fewer than msm should terms' blocks, is
    skipped before decode. Exclusion can't prune at metadata (absence isn't
    visible there): must_not blocks in kept intervals decode so their docs
    drop in the per-doc count pass."""
    spark = index.postings.sparkSession
    must_t, should_t = set(tokenize(must)), set(tokenize(should))
    not_t, filt_t = set(tokenize(must_not)), set(tokenize(filter_))
    if not_t and not (must_t | should_t | filt_t):
        # ES bool with ONLY must_not clauses: pure filter context —
        # match_all minus the excluded docs, constant score 0.0 (ordered
        # doc_id asc). Enumerates the thin doc_stats table, the same
        # match_all cost ES pays; the exclusion set comes from the
        # no-scoring kernel and an anti-join.
        from webindex.aggs import matching_doc_ids

        excluded = matching_doc_ids(index, must_not)
        live = _drop_dead(index, index.doc_stats.select("doc_id"))
        return (
            live.join(excluded, "doc_id", "left_anti")
            .withColumn("score", F.lit(0.0))
            .orderBy(F.asc("doc_id"))
            .limit(k)
        )
    if should_t and not (must_t | not_t | filt_t) and (
        minimum_should_match is None or minimum_should_match <= 1
    ):
        # pure-should bool IS the match query — route to the WAND path so
        # it keeps θ-seeded block-max pruning (sound there: no constraints)
        return topk_wand(index, should, k)
    if (must_t | filt_t) & not_t:
        return spark.createDataFrame([], _HIT)
    should_t -= not_t  # could never contribute: its docs are all excluded
    required = must_t | filt_t
    scored = must_t | should_t
    all_terms = required | scored | not_t
    if not all_terms:
        return spark.createDataFrame([], _HIT)
    stats = _query_terms(index, " ".join(sorted(all_terms)))
    if any(t not in stats for t in required):
        return spark.createDataFrame([], _HIT)
    msm = minimum_should_match
    if msm is None:
        msm = 0 if required else 1
    present_should = {t for t in should_t if t in stats}
    if msm > len(present_should):
        return spark.createDataFrame([], _HIT)
    present_scored = sorted(t for t in scored if t in stats)
    if not required and not present_scored:
        return spark.createDataFrame([], _HIT)
    # scored terms first in term-ascending order (the summation order the
    # oracle uses); the remaining (filter-only / excluded) terms after, in
    # term order for stability, with weight 0.0 so they count but never score
    order = present_scored + sorted(t for t in stats if t not in present_scored)
    slots = tuple(
        (stats[t][1] if t in present_scored else 0.0, (stats[t][2],)) for t in order
    )

    def slots_of(terms: set[str]) -> tuple[int, ...]:
        return tuple(i for i, t in enumerate(order) if t in terms)

    counts = [(slots_of(not_t), 0, 0)] if not_t else []
    if required:
        counts.append((slots_of(required), len(required), None))
    if msm > 0:
        counts.append((slots_of(present_should), msm, None))
    return _scored(index, _Spec(slots, counts=tuple(counts)), k)


def topk_batch(
    index: Index,
    queries: dict[str, str],
    k: int = 10,
    prune: bool = True,
    seed_min_blocks: int | None = None,
) -> DataFrame:
    """Evaluate MANY queries in one pass: (query_id, doc_id, score, rank).

    One scoring job scans the union of all queries' terms, decodes each
    needed block once, and fans contributions out to every query containing
    the term — the batch-engine way to run a query log / relevance eval set
    (per-query jobs pay Spark's fixed job latency per query; this pays it
    once).

    prune=True adds PER-QUERY block-max WAND over the shared scan: the one
    seed path (_query_thetas) computes every query's exact rarest-term θ at
    2 Spark jobs per seed round for the whole batch, then inside the scoring
    stage each query prunes its own intervals; a block is decoded iff at
    least one query still needs it. Results are byte-identical to
    prune=False (θ is a sound lower bound per query). Determinism identical
    to topk_exact per query."""
    spark = index.postings.sparkSession
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType(), False),
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("score", T.DoubleType(), False),
            T.StructField("rank", T.IntegerType(), False),
        ]
    )
    qterms = {qid: set(tokenize(q)) for qid, q in queries.items()}
    stats = _query_terms(index, " ".join(sorted(set().union(*qterms.values()))))
    # query -> its corpus-present terms' stats (no query: no job)
    qstats = {
        qid: {t: stats[t] for t in ts if t in stats} for qid, ts in qterms.items()
    }
    qstats = {qid: st for qid, st in qstats.items() if st}
    if not qstats:
        return spark.createDataFrame([], out_schema)
    q_theta = _query_thetas(index, qstats, k, seed_min_blocks) if prune else {}
    # one match spec per query over the shared scan: each prunes its own
    # intervals with its own θ, and a block decodes once if any query keeps it
    specs = {qid: _match_spec(st, q_theta.get(qid, 0.0)) for qid, st in qstats.items()}
    local = _scored(index, specs, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


# number of descending-UB interval chunks the per-bucket phrase evaluator
# processes: the local k-th best score after each chunk prunes the rest
PHRASE_PRUNE_CHUNKS = 8


def _closest_slot_assign(
    anchor_keys: np.ndarray, slot_keys: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """For each anchor packed key (doc_rank<<32 | adjusted_pos+OFF), the
    slot's packed key closest in adjusted position WITHIN the same doc
    (distance tie -> the smaller adjusted position). slot_keys must be
    sorted ascending. Returns (chosen_keys, valid) — valid is False where
    the slot has no occurrence in the anchor's doc. Vectorized: the closest
    value in a sorted array is one of the two searchsorted neighbors."""
    n = len(slot_keys)
    if n == 0:
        return anchor_keys, np.zeros(len(anchor_keys), dtype=bool)
    idx = np.searchsorted(slot_keys, anchor_keys)
    far = np.int64(1) << np.int64(62)
    arank = anchor_keys >> np.int64(32)
    li = np.clip(idx - 1, 0, n - 1)
    ri = np.clip(idx, 0, n - 1)
    lcand, rcand = slot_keys[li], slot_keys[ri]
    lvalid = (idx >= 1) & ((lcand >> np.int64(32)) == arank)
    rvalid = (idx < n) & ((rcand >> np.int64(32)) == arank)
    ldist = np.where(lvalid, anchor_keys - lcand, far)
    rdist = np.where(rvalid, rcand - anchor_keys, far)
    use_left = ldist <= rdist  # tie -> left = smaller adjusted position
    return np.where(use_left, lcand, rcand), np.where(use_left, lvalid, rvalid)


def _phrase_chunk_match(
    per_term: dict[int, tuple],
    slot_hashes: list[int],
    sum_idf: float,
    slop: int,
    avgdl: float,
    k1: float,
    b: float,
):
    """Phrase matches over one chunk's decoded postings.

    per_term: {term_hash: (docs, dls, posting_docs, positions)} — all arrays
    doc-ascending, positions ascending within a doc.

    slop=0 — Lucene PhraseQuery: each slot i contributes the sorted key set
    {doc_rank<<32 | (pos - i + n_slots)}; phrase start positions are the
    sorted-set intersection over slots (np.intersect1d, no per-doc loop);
    tf = match count per doc.

    slop>0 — sloppy phrase (Lucene SloppyPhraseScorer semantics, with a
    deterministic closest-assignment variant of its greedy matcher): every
    occurrence of the FIRST slot's term anchors one candidate match at
    adjusted position a0 = pos; each other slot i independently picks its
    occurrence whose adjusted position (pos - i) is closest to a0 (tie ->
    smaller); the match distance is d = max(a) - min(a) over the chosen
    adjusted positions, a match iff d <= slop, and
    sloppy_tf = Σ_matches 1/(1+d) feeds BM25 as the tf. Reduces exactly to
    the slop=0 semantics at d=0. Divergence from Lucene noted: Lucene's
    greedy matcher CONSUMES partner positions across repeats, ours may reuse
    one partner occurrence for several anchors — deterministic either way.

    Returns (doc_ids, scores) or None."""
    distinct = sorted(set(slot_hashes))
    n_slots = len(slot_hashes)
    all_docs = np.unique(np.concatenate([per_term[t][0] for t in distinct]))
    dl_of = np.zeros(len(all_docs), dtype=np.int64)
    for t in distinct:
        docs_t, dls_t, _, _ = per_term[t]
        dl_of[np.searchsorted(all_docs, docs_t)] = dls_t
    shift = np.int64(1) << np.int64(32)

    if slop == 0:
        cur: np.ndarray | None = None
        for i, th in enumerate(slot_hashes):
            _, _, pdocs, ppos = per_term[th]
            ranks = np.searchsorted(all_docs, pdocs)
            keys = ranks * shift + (ppos - i + n_slots)
            cur = keys if cur is None else np.intersect1d(cur, keys, assume_unique=True)
            if cur.size == 0:
                return None
        match_ranks, ptf = np.unique(cur >> np.int64(32), return_counts=True)
        tfv = ptf.astype(np.float64)
    else:
        _, _, p0docs, p0pos = per_term[slot_hashes[0]]
        if len(p0docs) == 0:
            return None
        aranks = np.searchsorted(all_docs, p0docs).astype(np.int64)
        a0 = p0pos.astype(np.int64)
        akeys = aranks * shift + (a0 + n_slots)
        amin, amax = a0.copy(), a0.copy()
        alive = np.ones(len(a0), dtype=bool)
        for i in range(1, n_slots):
            _, _, pdocs, ppos = per_term[slot_hashes[i]]
            ranks = np.searchsorted(all_docs, pdocs).astype(np.int64)
            skeys = ranks * shift + (ppos.astype(np.int64) - i + n_slots)
            chosen, valid = _closest_slot_assign(akeys, skeys)
            ai = (chosen % shift) - n_slots
            alive &= valid
            np.minimum(amin, ai, out=amin)
            np.maximum(amax, ai, out=amax)
        d = amax - amin  # garbage where ~alive, masked below
        ok = alive & (d <= slop)
        if not ok.any():
            return None
        # np.bincount adds equal-bin weights in array order = anchors in
        # ascending position per doc — the deterministic summation order the
        # oracle mirrors (list_sum ORDER BY a0)
        w = 1.0 / (1.0 + d[ok].astype(np.float64))
        tf_all = np.bincount(aranks[ok], weights=w, minlength=len(all_docs))
        match_ranks = np.nonzero(tf_all > 0.0)[0]
        tfv = tf_all[match_ranks]
    doc_ids = all_docs[match_ranks]
    scores = sum_idf * codec.bm25_impact(tfv, dl_of[match_ranks], avgdl, k1, b)
    return doc_ids, scores


def _phrase_match_bucket(
    pdf: pd.DataFrame,
    queries: list[tuple],
    conf,
    avgdl: float,
    k: int | None,
    dead: np.ndarray | None = None,
    _probe: dict | None = None,
) -> dict:
    """One bucket's positional block rows -> {query_id: (doc_ids, scores)}
    local top-k per phrase query (None where the bucket can't match;
    k=None keeps every match).

    queries: [(query_id, slot_hashes, sum_idf, slop)] (_phrase_entries).
    The decode cache is SHARED across queries — each needed block is
    decoded at most once per bucket no matter how many queries touch its
    term. Dead docs (Index.dead_ids) are dropped at decode, so they never
    match and never set the chunk θ.

    Two metadata prunes run before any decode, per query:

    1. ALL-terms interval prune (round 3): elementary doc-range intervals
       from the blocks' [min,max] spans; only intervals covered by EVERY
       slot term can contain a match.
    2. Impact-UB chunked prune (round 4): a sound per-interval upper bound
       on any phrase score —
         slop=0: phrase_tf <= min_t tf_t(doc) (each match consumes distinct
           positions of every slot), so UB = sum_idf * min over slot terms
           of (max max_impact of that term's blocks covering the interval);
         slop>0: sloppy_tf <= tf of the FIRST slot's term (one weight <= 1
           per anchor; partner occurrences may be reused), so UB uses that
           term's block bound only.
       Kept intervals are processed in descending-UB chunks
       (PHRASE_PRUNE_CHUNKS); after each chunk the local k-th best score is
       a θ that skips every remaining chunk with UB < θ (strict — a pruned
       doc can then never displace even on the doc_id tie-break). max_impact
       is drift-scaled by max(1, avgdl/avgdl0) like the WAND path, so the
       bound stays sound on incrementally-merged indexes. Results are
       byte-identical to the unpruned evaluation: docs partition into
       elementary intervals, so chunk-local matching never splits or
       double-counts a doc."""
    k1, b = conf.k1, conf.b
    pdf = pdf.sort_values(["term_hash", "block_id"]).reset_index(drop=True)
    tmins = pdf["min_doc"].to_numpy(dtype=np.int64)
    tmaxs = pdf["max_doc"].to_numpy(dtype=np.int64)
    hashes_arr = pdf["term_hash"].to_numpy(dtype=np.int64)
    drift = np.maximum(1.0, avgdl / pdf["avgdl0"].to_numpy(dtype=np.float64))
    mimp = pdf["max_impact"].to_numpy(dtype=np.float64) * drift
    rows_of: dict[int, list] = {}
    for ri, th in enumerate(hashes_arr):
        rows_of.setdefault(int(th), []).append(ri)
    rows_of = {t: np.asarray(v, dtype=np.int64) for t, v in rows_of.items()}

    cache: dict[int, tuple] = {}

    def dec_many(rr) -> list[tuple]:
        """Decode the not-yet-cached blocks of `rr` in ONE _decode_positional
        pass. Per-block cache entries are slices of its arrays, and the
        decode-on-demand contract of the chunked θ-prune is kept (only
        blocks a chunk actually needs are ever decoded)."""
        missing = [int(ri) for ri in rr if int(ri) not in cache]
        if missing:
            blk, ids, tfs, dls, pdocs, pos = _decode_positional(
                pdf.iloc[missing], conf, dead
            )
            ds = np.searchsorted(blk, np.arange(len(missing) + 1))
            ps = np.concatenate(([0], np.cumsum(tfs)))[ds]
            for j, ri in enumerate(missing):
                d, e, p, q = ds[j], ds[j + 1], ps[j], ps[j + 1]
                cache[ri] = (ids[d:e], dls[d:e], pdocs[p:q], pos[p:q])
        return [cache[int(ri)] for ri in rr]

    out: dict = {}
    for qid, slot_hashes, sum_idf, slop in queries:
        distinct = sorted(set(slot_hashes))
        if any(t not in rows_of for t in distinct):
            out[qid] = None  # a slot term absent from this bucket
            continue
        sub = np.concatenate([rows_of[t] for t in distinct])
        trank = {t: i for i, t in enumerate(distinct)}
        sm, sx, simp = tmins[sub], tmaxs[sub], mimp[sub]
        stk = np.asarray([trank[int(hashes_arr[ri])] for ri in sub], dtype=np.int64)
        if _probe is not None:
            _probe["blocks_total"] = int(len(sub))
        bounds = np.unique(np.concatenate((sm, sx + 1)))
        n_int = len(bounds) - 1
        lo = np.searchsorted(bounds, sm, side="right") - 1
        hi = np.searchsorted(bounds, sx, side="right") - 1
        covered = np.zeros((len(distinct), n_int), dtype=bool)
        imp_of = np.zeros((len(distinct), n_int), dtype=np.float64)
        for bi in range(len(sub)):
            covered[stk[bi], lo[bi] : hi[bi] + 1] = True
            sl = imp_of[stk[bi], lo[bi] : hi[bi] + 1]
            np.maximum(sl, simp[bi], out=sl)
        keep_int = covered.all(axis=0)
        if not keep_int.any():
            out[qid] = None
            continue
        if slop == 0:
            ub = sum_idf * np.where(keep_int, imp_of.min(axis=0), -np.inf)
        else:
            ub = sum_idf * np.where(keep_int, imp_of[trank[slot_hashes[0]]], -np.inf)
        kept = np.nonzero(keep_int)[0]
        order = kept[np.argsort(-ub[kept], kind="stable")]
        csize = max(1, -(-len(order) // PHRASE_PRUNE_CHUNKS))
        best_d = np.empty(0, dtype=np.int64)
        best_s = np.empty(0, dtype=np.float64)
        theta: float | None = None
        for c0 in range(0, len(order), csize):
            chunk = order[c0 : c0 + csize]
            if theta is not None and float(ub[chunk].max()) < theta:
                break  # descending order: every later chunk bounds lower still
            chunk_keep = np.zeros(n_int, dtype=bool)
            chunk_keep[chunk] = True
            brow = np.asarray(
                [chunk_keep[lo[bi] : hi[bi] + 1].any() for bi in range(len(sub))]
            )
            per_term: dict[int, tuple] = {}
            empty_term = False
            for t in distinct:
                rr = sub[brow & (stk == trank[t])]
                if len(rr) == 0:
                    empty_term = True
                    break
                parts = dec_many(rr)
                docs = np.concatenate([p[0] for p in parts])
                dls = np.concatenate([p[1] for p in parts])
                pdocs = np.concatenate([p[2] for p in parts])
                ppos = np.concatenate([p[3] for p in parts])
                # keep only docs whose elementary interval is in this chunk
                dkeep = chunk_keep[np.searchsorted(bounds, docs, side="right") - 1]
                if not dkeep.any():
                    empty_term = True
                    break
                pkeep = chunk_keep[np.searchsorted(bounds, pdocs, side="right") - 1]
                per_term[t] = (docs[dkeep], dls[dkeep], pdocs[pkeep], ppos[pkeep])
            if empty_term:
                continue
            res = _phrase_chunk_match(
                per_term, slot_hashes, sum_idf, slop, avgdl, k1, b
            )
            if res is None:
                continue
            all_d = np.concatenate((best_d, res[0]))
            all_s = np.concatenate((best_s, res[1]))
            best_d, best_s = _local_topk(all_d, all_s, k)
            if len(best_d) == k:
                theta = float(best_s[-1])
        if _probe is not None:
            _probe["blocks_decoded"] = int(len(cache))
        out[qid] = (best_d, best_s) if len(best_d) else None
    return out


def _phrase_entries(index: Index, phrases: dict[str, str], slop: int) -> list[tuple]:
    """The phrase plan's queries: [(query_id, slot_hashes, sum_idf, slop)],
    query_id-sorted, from ONE dictionary probe over every phrase's terms.
    sum_idf sums the slot terms' idfs in phrase order (duplicates counted).
    A phrase with no token or an absent term gets no entry — it cannot
    match anywhere."""
    _require_positions(index, "phrase queries")
    stats = _query_terms(index, " ".join(phrases.values()))
    out = []
    for qid in sorted(phrases):
        toks = tokenize(phrases[qid])
        if toks and all(t in stats for t in toks):
            sum_idf = float(sum(stats[t][1] for t in toks))
            out.append((qid, [stats[t][2] for t in toks], sum_idf, int(slop)))
    return out


def _phrase_plan(
    index: Index,
    entries: list[tuple],
    k: int | None,
    batch: bool = False,
    extra: F.Column | None = None,
) -> DataFrame:
    """The plan of every phrase family: _candidate_plan over the phrases'
    positional blocks [& an extra predicate] with the
    _phrase_match_bucket kernel -> each bucket's local top-k (k=None:
    every match). Rows (doc_id, score), or (query_id, doc_id, score) when
    `batch`; the caller makes the global cut (TakeOrdered, a per-query
    window, or none). No entry: the empty frame, no job."""
    conf, avgdl = index.conf, index.avgdl

    def fn(pdf: pd.DataFrame, dead: np.ndarray | None) -> pd.DataFrame:
        res = _phrase_match_bucket(pdf, entries, conf, avgdl, k, dead)
        return _hits_frame(
            [(qid, *res[qid]) for qid, *_ in entries if res.get(qid) is not None],
            batch,
        )

    return _candidate_plan(
        index, (h for _, hs, _, _ in entries for h in hs), fn,
        _QHIT if batch else _HIT, extra=extra,
    )


def topk_phrase(index: Index, phrase: str, k: int = 10, slop: int = 0) -> DataFrame:
    """match_phrase top-k over a POSITIONAL index
    (build_index(positions=True)).

    The reference's ES index stores positions for every text field (mapping-
    less index -> standard analyzer with positions, reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:169-173); this is the native
    equivalent of the match_phrase query that index supports. Semantics =
    Lucene PhraseQuery under BM25: at slop=0 a doc matches iff the query's
    tokens occur consecutively (analyzer positions); tf is the phrase
    frequency, idf the sum over the phrase's term idfs (duplicates counted),
    length norm as usual. slop>0 gives sloppy-phrase matching with
    sloppy_tf = Σ_matches 1/(1+distance) as the tf input (see
    _phrase_chunk_match for the exact match semantics). Determinism
    identical to topk_exact (float64, ties doc_id asc).

    Scale shape: same one fused stage as topk_wand — IN(term_hash) pushdown
    to the block scan, per-bucket prune+decode+intersect+local-top-k, global
    TakeOrdered of k rows per bucket (_phrase_plan). Pruning is
    metadata-first: the ALL-terms interval prune plus the impact-UB
    descending-chunk prune (_phrase_match_bucket) run before any block is
    decoded."""
    entries = _phrase_entries(index, {"q": phrase}, slop)
    hits = _phrase_plan(index, entries, k)
    return hits.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def topk_phrase_batch(
    index: Index, queries: dict[str, str], k: int = 10, slop: int = 0
) -> DataFrame:
    """Evaluate MANY phrase queries in one pass:
    (query_id, doc_id, score, rank) — the phrase analogue of topk_batch.

    One scoring job scans the union of all phrases' term hashes (single
    IN(term_hash) pushdown), and inside each bucket the block decode cache
    is shared across queries — a hot term's blocks decode once no matter how
    many phrases contain it. Each query still gets its own interval +
    impact-UB prune. Per-query jobs pay Spark's fixed job latency per
    phrase; this pays it once. Results are byte-identical to per-query
    topk_phrase (same bucket partitioning, same per-chunk determinism)."""
    entries = _phrase_entries(index, queries, slop)
    local = _phrase_plan(index, entries, k, batch=True)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def topk(index: Index, query: str, k: int = 10, exact: bool = False) -> DataFrame:
    """Public entry: (doc_id, score), rank order = score desc, doc_id asc."""
    return topk_exact(index, query, k) if exact else topk_wand(index, query, k)


def topk_best_fields(
    indexes: dict[str, Index], query: str, k: int = 10, exact: bool = False
) -> DataFrame:
    """multi_match type=best_fields over several indexed fields — the
    reference's actual query shape (reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-262 queries
    [digitalObjectLocation, pid] with best_fields = Lucene dis_max):
    doc score = MAX over fields of that field's BM25 score.

    Each field has its own index (own postings/df/avgdl, like per-field
    Lucene stats). Per-field top-k suffices: the global best-fields top-k is
    contained in the union of per-field top-ks (max-merge preserves order).
    Ties -> doc_id asc. Returns (doc_id, score, field)."""
    spark = next(iter(indexes.values())).postings.sparkSession
    parts = []
    for field in sorted(indexes):
        hits = topk(indexes[field], query, k, exact)
        parts.append(hits.select("doc_id", "score", F.lit(field).alias("field")))
    if not parts:
        return spark.createDataFrame([], "doc_id long, score double, field string")
    allhits = parts[0]
    for p in parts[1:]:
        allhits = allhits.unionByName(p)
    # deterministic field attribution on score ties: lexicographically first
    best = allhits.groupBy("doc_id").agg(F.max("score").alias("score"))
    best = (
        best.join(allhits, ["doc_id", "score"])
        .groupBy("doc_id", "score")
        .agg(F.min("field").alias("field"))
    )
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


# Lucene caps boolean rewrites at indices.query.bool.max_clause_count
# (1024); expansions beyond it pick the top_terms-by-df subset. This is the
# default driver-protection cap for prefix/wildcard (pass an explicit
# max_expansions, or None for genuinely-uncapped, to override).
MAX_CLAUSE_COUNT = 1024


def _expansions(
    index: Index, pred: F.Column, max_expansions: int | None,
    base: DataFrame | None = None,
) -> list:
    """Dictionary expansion rows [(term, df, idf, term_hash)] for a
    term-level query, deterministically capped like Lucene's top_terms
    rewrite: highest df first, term asc tie-break. The dictionary filter
    runs distributed over term_stats (vocab-scale, never collected whole);
    only the capped expansion set reaches the driver. `base` narrows the
    dictionary to a pre-pruned candidate frame (the q-gram path) — pred
    still applies, so the cap ordering is identical either way."""
    rows = (base if base is not None else index.term_stats).filter(pred).select(
        "term", "df", "idf", "term_hash"
    )
    if max_expansions is not None:
        rows = rows.orderBy(F.desc("df"), F.asc("term")).limit(max_expansions)
    return rows.collect()


def _constant_score(index: Index, exp: list, k: int) -> DataFrame:
    """The constant-score rewrite of a term-level query: every doc holding
    any expansion term scores 1.0, ordered doc_id asc (the filter-context
    kernel aggs.ids_for_hashes, live docs only)."""
    from webindex.aggs import ids_for_hashes

    ids = ids_for_hashes(index, [int(r["term_hash"]) for r in exp])
    return (
        ids.withColumn("score", F.lit(1.0))
        .orderBy(F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


def topk_prefix(
    index: Index, prefix: str, k: int = 10,
    max_expansions: int | None = MAX_CLAUSE_COUNT,
) -> DataFrame:
    """ES `prefix` query: docs containing any indexed term starting with
    `prefix`, under the constant-score rewrite (Lucene PrefixQuery's
    default CONSTANT_SCORE rewrite — every matching doc scores 1.0; ES
    serves term-level queries over the same inverted index as the match
    family, reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-262).

    Results order by doc_id asc (scores all equal). The dictionary
    expansion is distributed (term_stats filter with a pushed-down string
    predicate); an optional max_expansions caps it by df desc, term asc —
    the top_terms rewrite's deterministic pick."""
    exp = _expansions(
        index, F.col("term").startswith(prefix), max_expansions
    )
    return _constant_score(index, exp, k)


def topk_wildcard(
    index: Index, pattern: str, k: int = 10,
    max_expansions: int | None = MAX_CLAUSE_COUNT,
) -> DataFrame:
    """ES `wildcard` query: `*` matches any run, `?` any single char, over
    the whole term — constant-score rewrite like topk_prefix (Lucene
    WildcardQuery's default). The pattern maps 1:1 onto SQL LIKE
    (`*`->`%`, `?`->`_`, literal %/_ escaped), so the dictionary expansion
    is a pushed-down LIKE over term_stats on BOTH the engine and the
    oracle — no regex-dialect drift. Expansion capped like top_terms
    (df desc, term asc) when max_expansions is set."""
    like = (
        pattern.replace("\\", "\\\\")
        .replace("%", "\\%")
        .replace("_", "\\_")
        .replace("*", "%")
        .replace("?", "_")
    )
    exp = _expansions(index, F.col("term").like(like), max_expansions)
    return _constant_score(index, exp, k)


def topk_regexp(
    index: Index, pattern: str, k: int = 10,
    max_expansions: int | None = MAX_CLAUSE_COUNT,
) -> DataFrame:
    """ES `regexp` query: the pattern must match the WHOLE term (Lucene
    RegexpQuery anchors implicitly), constant-score rewrite like wildcard/
    prefix, expansion capped like top_terms (df desc, term asc). The
    dictionary pass is a distributed rlike over term_stats — vocab-scale,
    never collected whole; only matched terms' postings are scanned.

    Dialect note: stick to the syntax subset Java regex (the engine),
    RE2/DuckDB (the oracle) and Lucene's own regexp all agree on —
    literals, char classes, ., *, +, ?, {m,n}, alternation, grouping. No
    lookaround (Lucene doesn't support it either)."""
    exp = _expansions(
        index, F.col("term").rlike(f"^(?:{pattern})$"), max_expansions
    )
    return _constant_score(index, exp, k)


def ensure_term_grams(index: Index, q: int = GRAM_Q) -> DataFrame:
    """The index's q-gram dictionary sidecar (build.build_term_grams) —
    loaded for on-disk indexes, built once and pinned in executor memory
    for in-memory ones (cached on the Index handle, so repeated fuzzy/
    suggest calls share it the way repeated queries share term_stats)."""
    if index.term_grams is None:
        g = build_term_grams(index.term_stats, q).persist()
        g.count()
        index.term_grams = g
    return index.term_grams


def _gram_candidates(
    gram_index: DataFrame, word: str, fuzziness: int, q: int = GRAM_Q
) -> DataFrame | None:
    """Candidate vocabulary terms for `word` within `fuzziness` edits, by
    the distinct-q-gram count filter. SOUND bound: one edit rewrites at
    most q of the word's length-q windows, hence destroys at most q
    distinct gram KINDS (a kind survives while any of its occurrences
    does), so a term within f edits still contains >= |D| - q*f of word's
    |D| distinct grams. The returned frame is the gram-pruned equi-scan
    (IN(grams) hits only the query word's own grams' row groups in the
    gram-sorted sidecar) + a count filter — candidate-set-sized, to be
    Levenshtein-verified by the caller. None when the bound is vacuous
    (|D| - q*f < 1) — callers fall back to the banded linear scan (the
    short-word region, where the length band is narrow anyway)."""
    grams = sorted({word[i : i + q] for i in range(len(word) - q + 1)})
    need = len(grams) - q * fuzziness
    if need < 1:
        return None
    return (
        gram_index.filter(F.col("gram").isin(grams))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("_m"))
        .filter(F.col("_m") >= need)
        .select("term")
    )


def topk_fuzzy(
    index: Index,
    word: str,
    k: int = 10,
    fuzziness: int = 1,
    max_expansions: int = 50,
    prefix_length: int = 0,
    gram_index: DataFrame | None = None,
) -> DataFrame:
    """ES `fuzzy` query: expand `word` to indexed terms within Levenshtein
    distance `fuzziness`, score each doc as the MAX BM25 contribution over
    its matched expansions (dis_max across the expansion disjunction — the
    deterministic sibling of Lucene's blended-freqs rewrite, chosen so the
    engine and the SQL oracle agree exactly; max is order-independent, so
    float summation order doesn't even arise).

    The expansion runs distributed: F.levenshtein against the term_stats
    dictionary (JVM-side, vocab-scale, never collected uncapped), capped
    at max_expansions by df desc / term asc — Lucene top_terms_N's pick.
    The exact term, when indexed, is distance 0 and always qualifies.

    The levenshtein pass is guarded by two pushable pre-filters so the
    expensive DP never runs on the bulk of a web-scale vocabulary:
    (a) the sound length band |len(term) - len(word)| <= fuzziness (edit
    distance >= length difference — cheap integer comparisons the scan
    evaluates first), and (b) ES's `prefix_length` option: the first
    prefix_length characters must match exactly (a startswith the scan can
    push as a string-range predicate; Lucene's default is 0 but real
    deployments set 1-2 precisely for this cost reason). levenshtein
    itself uses the bounded threshold form (early-exit DP, Spark 3.5+).

    When the index carries the q-gram dictionary sidecar (build_term_grams
    — on-disk indexes since round 5; ensure_term_grams builds it for
    in-memory ones; `gram_index` overrides), the DP runs only over the
    q-gram candidate set (_gram_candidates: terms sharing >= |D|-q·f of
    the word's distinct grams — a sound superset of the true expansion),
    semi-joined into the dictionary before pred: sub-linear in vocab, the
    join-shaped analogue of Lucene's FST automaton intersection. Results
    are byte-identical to the linear path: candidates are a superset, the
    same Levenshtein predicate and top_terms cap decide membership."""
    pred = (F.length("term") >= len(word) - fuzziness) & (
        F.length("term") <= len(word) + fuzziness
    )
    if prefix_length > 0:
        pred = pred & F.col("term").startswith(word[:prefix_length])
    lev = F.levenshtein(F.col("term"), F.lit(word), fuzziness)
    gi = gram_index if gram_index is not None else index.term_grams
    base = None
    if gi is not None:
        cand = _gram_candidates(gi, word, fuzziness)
        if cand is not None:
            base = index.term_stats.join(cand, "term", "left_semi")
    exp = _expansions(
        index, pred & (lev >= 0) & (lev <= fuzziness), max_expansions, base=base
    )
    slots = tuple((float(r["idf"]), (int(r["term_hash"]),)) for r in exp)
    return _scored(index, _Spec(slots, combine="max"), k)


def more_like_this(
    index: Index,
    like: str,
    k: int = 10,
    max_query_terms: int = 25,
    min_term_freq: int = 1,
    min_doc_freq: int = 2,
) -> DataFrame:
    """ES `more_like_this` with free-text `like` input: analyze the text,
    keep terms with tf >= min_term_freq in it and df >= min_doc_freq in the
    corpus, select the max_query_terms most interesting by tf·idf (tie:
    term asc — ES's interestingness pick), then run the selected terms as
    a plain BM25 match disjunction through the WAND path (ES builds
    exactly this rewritten bool-of-terms query; the reference's relevance
    reads come from the same index, reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-286).

    The `like` text is one document — analysis and selection are
    driver-side k-scale; corpus stats come from ONE term_stats lookup; the
    query execution is the standard pruned topk_wand plan."""
    spark = index.postings.sparkSession
    toks = tokenize(like)
    if not toks:
        return spark.createDataFrame([], _HIT)
    from collections import Counter

    tf = Counter(toks)
    cand = sorted(t for t, c in tf.items() if c >= min_term_freq)
    if not cand:
        return spark.createDataFrame([], _HIT)
    stats = _query_terms(index, " ".join(cand))
    picked = sorted(
        (t for t in cand if t in stats and stats[t][0] >= min_doc_freq),
        key=lambda t: (-tf[t] * stats[t][1], t),
    )[:max_query_terms]
    if not picked:
        return spark.createDataFrame([], _HIT)
    # the rewritten query is a plain disjunction — run it through topk_wand
    # so it keeps θ-seeded block-max pruning and the seed cost gate
    return topk_wand(index, " ".join(picked), k)


def topk_phrase_prefix(
    index: Index,
    phrase: str,
    k: int = 10,
    max_expansions: int = 50,
    slop: int = 0,
) -> DataFrame:
    """ES `match_phrase_prefix` (the autocomplete query): the phrase's LAST
    term is a prefix, expanded against the term dictionary (capped at
    max_expansions by df desc / term asc — ES's default cap is 50); a doc
    scores as the MAX over the expanded exact phrases' scores (dis_max
    across the expansion disjunction, the same deterministic rewrite
    topk_fuzzy uses; the reference's ES index serves this family over the
    same positions, reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:169-173, :250-262).

    Exactness of the batch-union evaluation: the final top-k is contained
    in the union of the per-expansion top-k's — if doc d makes the final
    top-k via expansion e*, fewer than k docs out-rank d in the final
    order, and every doc out-ranking d within e* (higher score, or equal
    score with smaller doc_id) has dis_max out-ranking d too, so d is in
    e*'s own top-k and its exact best score is present in the union. Docs
    outside their best expansion's top-k can only be UNDER-represented,
    which cannot promote them past a true top-k doc. So one
    topk_phrase_batch over the expanded phrases (ONE shared scan, shared
    per-bucket decode cache) + a max-per-doc merge is byte-exact."""
    spark = index.postings.sparkSession
    toks = tokenize(phrase)
    if not toks:
        return spark.createDataFrame([], _HIT)
    *fixed, last = toks
    exp = _expansions(index, F.col("term").startswith(last), max_expansions)
    if not exp:
        return spark.createDataFrame([], _HIT)
    queries = {
        f"e{i:04d}": " ".join(fixed + [t])
        for i, t in enumerate(sorted(r["term"] for r in exp))
    }
    res = topk_phrase_batch(index, queries, k, slop=slop)
    return (
        res.groupBy("doc_id")
        .agg(F.max("score").alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


_HL = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("hl_term", T.StringType(), False),
        T.StructField("hl_pos", T.LongType(), False),
    ]
)


def highlight_topk(index: Index, query: str, k: int = 10) -> DataFrame:
    """Top-k BM25 hits plus a deterministic highlight anchor from the
    positional index: for each hit doc, the RAREST present query term
    (min df, tie term-asc — the term a highlighter centers its best
    fragment on) and that term's first token position in the doc.

    ES serves `highlight` on search responses from the same postings +
    positions the scorer uses (the reference reads relevance-ordered hits
    whose matched fields drive display, reference:
    src/nmr_FAIR_DOs/connectors/elasticsearch.py:280-306); this is the
    index-side half — (hl_term, hl_pos) — leaving only a stored-field
    substring slice to render a snippet.

    Cost beyond the top-k query itself: one pruned scan of the query
    terms' positional blocks restricted to the k hit docs' ranges (k range
    predicates on block min/max metadata — file/row-group pruning applies),
    decoding at most k x n_terms first-positions. Everything driver-side
    is k-scale. The rarest-term pick compares integer document frequencies
    (never floats), so engine and SQL oracle agree exactly."""
    _require_positions(index, "highlights")
    spark = index.postings.sparkSession
    hits = topk_wand(index, query, k).collect()  # k rows
    if not hits:
        return spark.createDataFrame([], _HL)
    stats = _query_terms(index, query)
    hashes = {h: t for t, (_, _, h) in stats.items()}
    df_of = {t: d for t, (d, _, _) in stats.items()}
    ids = np.array(sorted({int(r["doc_id"]) for r in hits}), dtype=np.int64)
    cond = F.lit(False)
    for i in ids.tolist():
        cond = cond | ((F.col("min_doc") <= i) & (F.col("max_doc") >= i))
    blocks = index.postings.filter(F.col("term_hash").isin(list(hashes)) & cond)
    conf, dead = index.conf, index.dead_ids

    def fn(batches):
        for pdf in batches:
            blk, bids, tfs, _, _, pos = _decode_positional(pdf, conf, dead)
            first = pos[np.cumsum(tfs) - tfs]  # each doc's first position
            m = np.isin(bids, ids)
            th = pdf["term_hash"].to_numpy(dtype=np.int64)[blk[m]]
            yield pd.DataFrame({"term_hash": th, "doc_id": bids[m], "pos": first[m]})

    rows = blocks.mapInPandas(fn, schema="term_hash long, doc_id long, pos long").collect()
    best: dict[int, tuple[tuple[int, str], int]] = {}
    for r in rows:
        t = hashes[int(r["term_hash"])]
        key = (df_of[t], t)
        cur = best.get(int(r["doc_id"]))
        if cur is None or key < cur[0]:
            best[int(r["doc_id"])] = (key, int(r["pos"]))
    out = [
        (
            int(r["doc_id"]),
            float(r["score"]),
            best[int(r["doc_id"])][0][1],
            best[int(r["doc_id"])][1],
        )
        for r in hits
    ]
    return spark.createDataFrame(out, _HL)


def _drop_dead(index: Index, frame: DataFrame) -> DataFrame:
    """`frame` without live_index()'s pending deletes (Index.dead_ids):
    doc_stats keeps a tombstoned doc's row until compaction, so the
    doc_stats-backed answers (the lookups, bool's match_all side) filter it
    here — ES realtime GET reports a deleted doc as not found at once."""
    if index.dead_ids is None or not len(index.dead_ids):
        return frame
    return frame.filter(~F.col("doc_id").isin([int(d) for d in index.dead_ids]))


def lookup_doc(index: Index, doc_id: int) -> DataFrame:
    """Point lookup (reference: tpm_connector.py:166-196 getPIDRecord).
    doc_stats is doc_id-sorted parquet -> min/max pruning hits one file.
    A pending delete (live_index()) is not found."""
    return _drop_dead(index, index.doc_stats.filter(F.col("doc_id") == doc_id))


def lookup_docs(index: Index, doc_ids: list[int]) -> DataFrame:
    """ES `ids` query / mget: the multi-id point lookup. One IN filter on
    the doc_id-sorted doc_stats table — min/max row-group pruning reads
    only the files covering the requested ids; absent ids simply yield no
    row (ES mget marks them found:false), and so do pending deletes
    (live_index()). Results doc_id asc."""
    return _drop_dead(
        index, index.doc_stats.filter(F.col("doc_id").isin(list(doc_ids)))
    ).orderBy("doc_id")


def lookup_url(index: Index, url: str) -> DataFrame:
    """Reverse lookup by url (the reference's digitalObjectLocation probe,
    lib.py:173-182).

    One pruned probe of doc_stats, as lookup_doc: when every doc_id is
    xxhash64(url) (Index.url_hash_ids) the id predicate constant-folds to a
    long literal, so the doc_id-sorted layout prunes files and row groups,
    and the url equality rejects an absent url whose hash is a present
    doc's id. Otherwise (dense, provided or caller-supplied ids, older
    indexes) the url equality alone scans doc_stats. A pending delete
    (live_index()) is not found."""
    hits = index.doc_stats.filter(F.col("url") == url)
    if index.url_hash_ids:
        hits = hits.filter(F.col("doc_id") == F.xxhash64(F.lit(url)))
    return _drop_dead(index, hits.select("doc_id", "url", "doc_len"))


def topk_with_urls(index: Index, query: str, k: int = 10, exact: bool = False) -> DataFrame:
    hits = topk(index, query, k, exact)
    return (
        hits.join(index.doc_stats.select("doc_id", "url"), "doc_id", "left")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .select("doc_id", "url", "score")
    )


def field_extrema(index: Index, stored: DataFrame, field: str) -> DataFrame:
    """(bucket, mx, mn) of `field` per doc-range bucket — the function_score
    pruning sidecar (round 5). Bucket-count-sized output from ONE columnar
    scan of `stored` (map-side-combined min/max, two doubles of agg state
    per bucket). At deployment scale compute it once per boost field and
    persist it beside doc_stats (it only changes when the field does);
    topk_function_score computes it per call — the same single scan the
    global-extremum bound already paid.

    Requires the index's doc->bucket map (id_space + bucket_bits from the
    conf sidecar); raises on pre-round-5 indexes — callers fall back to the
    global bound."""
    fcol = F.col(field).cast("double")
    return (
        stored.select(
            index.bucket_of(F.col("doc_id")).alias("bucket"), fcol.alias("_f")
        )
        .groupBy("bucket")
        .agg(F.max("_f").alias("mx"), F.min("_f").alias("mn"))
    )


def topk_function_score(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    modifier: str = "log1p",
    factor: float = 1.0,
    k: int = 10,
    pruned: bool = True,
) -> DataFrame:
    """ES `function_score` with `field_value_factor`: final score =
    BM25(query, doc) * modifier(factor * doc[field]). Supported modifiers:
    log1p (ES log1p), sqrt, none — all order-preserving but NOT rank-
    preserving across docs, so the plain BM25 θ is unsound for the combined
    score. ES itself rewrites function_score to an exhaustively-scored
    filter; this path does better with a SOUND scaled bound (round 4,
    closing the SCALE.md limit):

      combined(doc) = bm25(doc) · fv(doc) <= bm25(doc) · M,
      M = max over docs of modifier(factor·field)
        = modifier(factor · extremum(field))   (modifier order-preserving;
          extremum = max when factor >= 0 else min — one column agg that a
          real deployment reads from table stats or precomputes once)

    so with θ_fs = the k-th best combined score among ANY candidate set (a
    lower bound on the true k-th best — seeded here from the plain-BM25
    top-k re-ranked, k rows through one pruned WAND query), every doc with
    bm25 < θ_fs / M is out, and the fused scorer's existing interval prune
    runs with θ_bm25 = θ_fs/M (nudged one ulp toward 0 so a float rounding
    of the division can never prune a true tie; interval_keep is >=, so
    boundary docs survive). The main pass returns exact bm25 for every
    surviving doc (k=None — no local-k cut, which would be unsound under
    re-ranking); the field join + multiply + global top-k are unchanged, so
    results are byte-identical to the exhaustive path
    (test_function_score_pruned_identical). Falls back to θ=0 whenever the
    bound is useless or unsound: any field value outside the modifier's
    domain (sqrt of a negative, log1p below -1 — the exhaustive path gives
    those docs NaN scores, which Spark ranks first in desc order, and a θ
    could prune them), M non-finite, M <= 0, fewer than k seed candidates,
    or a NULL field value among the seeds.

    Output (doc_id, score), score desc / doc_id asc, rounded 4dp."""
    import math

    mods = {
        "log1p": lambda c: F.log1p(c),
        "sqrt": lambda c: F.sqrt(c),
        "none": lambda c: c,
    }

    def _py_mod(v: float) -> float:
        if modifier == "log1p":
            return math.log1p(v) if v > -1.0 else float("nan")
        if modifier == "sqrt":
            return math.sqrt(v) if v >= 0.0 else float("nan")
        return v

    if modifier not in mods:
        raise ValueError(f"unsupported modifier {modifier!r}")
    fv = mods[modifier](F.col(field).cast("double") * F.lit(float(factor)))
    fielded = stored.select("doc_id", field)

    def _ranked(base: DataFrame) -> DataFrame:
        return (
            base.join(fielded, "doc_id")
            .select("doc_id", (F.col("score") * fv).alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    theta_bm25 = 0.0
    theta_df = None
    stats = _query_terms(index, query)
    if not stats:
        spark = index.postings.sparkSession
        return spark.createDataFrame([], _HIT)
    if pruned:
        # Per-bucket extrema (round 5): on a skewed boost field one global
        # extremum makes θ nearly useless (M is set by the single hottest
        # doc; every cold bucket still decodes). A (bucket -> extremum)
        # frame gives each doc-range shard its own sound bound
        # M_b = modifier(factor·extremum_b), so θ_b = θ_fs / M_b prunes
        # cold buckets hard. Needs the doc->bucket map, i.e. a known
        # id_space; pre-round-5 disk indexes fall back to the global bound.
        per_bucket = index.id_space is not None
        if per_bucket:
            # global ends derived from the bucket frame: same one scan of
            # `stored`, plus one agg over a bucket-count-sized frame
            ext = field_extrema(index, stored, field).persist()
            row = ext.agg(F.max("mx").alias("mx"), F.min("mn").alias("mn")).collect()
        else:
            fcol = F.col(field).cast("double")
            row = fielded.agg(
                F.max(fcol).alias("mx"), F.min(fcol).alias("mn")
            ).collect()
        mx = row[0]["mx"] if row else None
        mn = row[0]["mn"] if row else None
        big_m = None
        if mx is not None and mn is not None:
            # M from the extremum the sign of factor makes largest; the
            # OTHER end must also be in the modifier's domain (GLOBALLY —
            # a per-bucket domain check would be unsound), else some doc's
            # fv is NaN and the exhaustive ranking (NaN first under desc)
            # has no sound θ
            hi, lo = (mx, mn) if factor >= 0 else (mn, mx)
            if math.isfinite(_py_mod(float(factor) * float(lo))):
                big_m = _py_mod(float(factor) * float(hi))
        if big_m is not None and math.isfinite(big_m) and big_m > 0.0:
            seed = _ranked(topk_wand(index, query, k)).collect()
            if len(seed) == k and all(r["score"] is not None for r in seed):
                theta_fs = float(seed[-1]["score"])
                if theta_fs > 0.0:
                    theta_bm25 = float(np.nextafter(theta_fs / big_m, 0.0))
                    if per_bucket:
                        # columnar θ_b: buckets whose M_b <= 0 (every
                        # combined score <= 0 < θ_fs) or whose extremum is
                        # NULL (no rankable docs: the field join is inner
                        # and NULL fv ranks below every θ_fs doc) prune
                        # entirely via +inf; the (1 - 1e-15) nudge rounds
                        # θ_b a few ulp TOWARD ZERO so float division can
                        # never prune a true boundary tie (sound: a smaller
                        # θ only prunes less)
                        hi_col = F.col("mx") if factor >= 0 else F.col("mn")
                        mb = mods[modifier](hi_col * F.lit(float(factor)))
                        theta_df = ext.select(
                            "bucket",
                            F.when(
                                mb > 0.0,
                                (F.lit(theta_fs) / mb) * F.lit(1.0 - 1e-15),
                            )
                            .otherwise(F.lit(float("inf")))
                            .alias("_theta_b"),
                        )
        if per_bucket and theta_df is None:
            ext.unpersist()

    base = _scored(index, _match_spec(stats, theta_bm25), None, theta_df)
    out = _ranked(base).select(
        "doc_id", F.round("score", 4).alias("score")
    )
    if theta_df is not None:
        # the k-row result is what every caller materializes; collecting it
        # here releases the extrema cache deterministically
        rows = out.collect()
        ext.unpersist()
        spark = index.postings.sparkSession
        return spark.createDataFrame(rows, _HIT)
    return out


def search_sort(
    index: Index,
    stored: DataFrame,
    query: str,
    field: str,
    ascending: bool = False,
    k: int = 10,
    msm: int = 1,
) -> DataFrame:
    """ES search with `sort` on a stored field: matching docs ordered by the
    field instead of relevance. ES skips scoring entirely when sort is a
    field (track_scores=false default) — so does this: the match filter is
    the constant-score block scan (no BM25 work), the field comes from the
    doc_id-keyed join, the cut is a TakeOrdered on (field, doc_id asc).
    Output (doc_id, <field>)."""
    from webindex.aggs import matching_doc_ids

    ids = matching_doc_ids(index, query, msm)
    key = F.asc(field) if ascending else F.desc(field)
    return (
        stored.select("doc_id", field)
        .join(ids, "doc_id")
        .orderBy(key, F.asc("doc_id"))
        .limit(k)
    )


def topk_filtered(
    index: Index,
    query: str,
    stored: DataFrame,
    predicate: F.Column | str,
    k: int = 10,
    msm: int = 1,
) -> DataFrame:
    """ES bool {must: match, filter: <doc-values predicate>} — the
    relevance-plus-structured-filter query (range on a numeric/date field,
    `exists` via col.isNotNull(), term on a keyword field). The filter is
    pure filter context: it constrains, never scores — exactly ES.

    Plan: the text side keeps the fused exhaustive-BM25 kernel
    (match_scores: pruned IN(term_hash) scan, one bucket stage,
    deterministic term-rank summation); the filter side is a pushable
    predicate on the stored-fields table (Catalyst pushes range/notnull
    into the parquet scan); they meet in a doc_id-keyed LEFT SEMI join —
    fixed-width rows, AQE-broadcastable when the filter is selective —
    then TakeOrderedAndProject. θ-seeded WAND pruning is deliberately NOT
    used here: its bound would need the filter's per-bucket selectivity to
    stay sound (a pruned bucket might hold the k-th best FILTERED doc),
    and ES likewise evaluates bool filters as an intersect during scoring.
    Ties doc_id asc. Output (doc_id, score)."""
    from webindex.aggs import match_scores

    pred = F.expr(predicate) if isinstance(predicate, str) else predicate
    ids = stored.filter(pred).select("doc_id")
    return (
        match_scores(index, query, msm)
        .join(ids, "doc_id", "left_semi")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_terms_set(
    index: Index,
    terms: list[str],
    stored: DataFrame,
    msm_field: str,
    k: int = 10,
) -> DataFrame:
    """ES `terms_set` query: match docs containing at least
    `minimum_should_match_field`(doc) — a PER-DOC threshold read from a
    stored field — of the given terms; score = sum of the matched terms'
    BM25 contributions (Lucene CoveringQuery combines matched clauses'
    scores; unmatched terms contribute nothing, so the sum equals the
    plain match disjunction score over the doc's matched subset).

    Plan: two passes over the same pruned IN(term_hash) scan — the fused
    BM25 kernel (deterministic term-rank summation) for scores, and the
    integer-only ids_with_counts kernel for per-doc distinct-match counts
    (the per-doc threshold can't ride the scoring kernel: it lives outside
    the postings, and a bucket-local cut under a varying threshold would
    be unsound). Both outputs are match-set-sized fixed-width frames; the
    threshold field joins doc_id-keyed, then TakeOrderedAndProject. Docs
    whose threshold exceeds the given term count can never qualify —
    mirrored by construction since n_matched <= len(terms)."""
    from webindex.aggs import ids_with_counts

    spark = index.postings.sparkSession
    toks = sorted(set(t for term in terms for t in tokenize(term)))
    if not toks:
        return spark.createDataFrame([], _HIT)
    stats = _query_terms(index, " ".join(toks))
    scores = _scored(index, _match_spec(stats), None)
    counts = ids_with_counts(index, [h for (_, _, h) in stats.values()])
    req = stored.select(
        "doc_id", F.col(msm_field).cast("int").alias("_required")
    )
    return (
        scores.join(counts, "doc_id")
        .join(req, "doc_id")
        .filter(F.col("n_matched") >= F.col("_required"))
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


# ES pinned-query promotion base: Lucene PinnedQueryBuilder gives pinned
# docs Float.MAX_VALUE-anchored scores so they always outrank organic
# hits. Position i pins at PIN_BASE / (1 + i) — NOT base minus rank: at
# 3.4e38 the float64 ulp is ~3.9e22, so subtracting small ranks collapses
# to equal scores and the tiebreak would reorder the pins by doc_id;
# division keeps every pinned score distinct, descending, and far above
# any BM25 score.
PIN_BASE = 3.4028235e38


def topk_pinned(
    index: Index, pinned_ids: list[int], query: str, k: int = 10
) -> DataFrame:
    """ES `pinned` query: the given ids rank first IN THE GIVEN ORDER
    (whether or not they match), organic BM25 hits follow, pinned ids
    excluded from the organic section (ES dedupes). Pinned scores descend
    by position (PIN_BASE / (1 + i) — see PIN_BASE for why not
    subtraction), so one (score desc, doc_id asc) order covers both
    sections.

    Pinned ids that don't exist in the index are dropped (ES resolves pins
    by id lookup) — a doc_stats semi-join, metadata-scale — and organic
    hits fill the freed slots: the organic side keeps the full θ-pruned
    WAND plan cut at k + |pinned| (a sound superset — excluding pinned
    rows can only promote organic docs already inside that cut), and the
    final (score desc, doc_id asc) limit k does the sectioning."""
    spark = index.postings.sparkSession
    pins = [int(d) for d in pinned_ids[:k]]
    if index.dead_ids is not None and len(index.dead_ids):
        # doc_stats keeps tombstoned rows until compaction; a pinned deleted
        # doc must not be resurrected on a live_index()
        dead = set(int(d) for d in index.dead_ids)
        pins = [d for d in pins if d not in dead]
    pinned_df = spark.createDataFrame(
        [(d, PIN_BASE / (1 + i)) for i, d in enumerate(pins)], _HIT
    ).join(index.doc_stats.select("doc_id"), "doc_id", "left_semi")
    organic = topk_wand(index, query, k + len(pins))
    if pins:
        organic = organic.filter(~F.col("doc_id").isin(pins))
    return (
        pinned_df.unionByName(organic)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def suggest_terms(
    index: Index,
    text: str,
    max_edits: int = 2,
    size: int = 3,
    gram_index: DataFrame | None = None,
) -> DataFrame:
    """ES term suggester: per misspelled input token, candidate corrections
    from the index vocabulary within `max_edits` Levenshtein, ranked the ES
    way — edit distance asc, then document frequency desc, then term asc —
    capped at `size` per input token. Input tokens that exist in the
    dictionary verbatim get no suggestions (ES suggest_mode=missing).

    The dictionary pass runs DISTRIBUTED over term_stats with the sound
    length-band pre-filter (|len(term) - len(q)| <= max_edits — edit
    distance is bounded below by the length difference) pushed to the scan
    BEFORE the levenshtein evaluation, and Spark 3.5+'s bounded
    `levenshtein(l, r, threshold)` form, which early-exits the DP row scan
    past the band. When the index carries the q-gram sidecar (or
    `gram_index` is passed), tokens with a non-vacuous q-gram bound skip
    the band scan entirely: one gram-pruned probe of the sidecar covering
    ALL such tokens at once (a broadcast (input, gram) join → per-(input,
    term) shared-gram count >= need — see _gram_candidates for soundness)
    yields the candidate set, Levenshtein-verified exactly like the band
    path; short tokens (vacuous bound) keep the band scan. Byte-identical
    output either way. Output (input, suggestion, distance, df), ordered
    (input, distance, df desc, suggestion)."""
    spark = index.term_stats.sparkSession
    toks = sorted(set(tokenize(text)))
    out_schema = "input string, suggestion string, distance int, df long"
    if not toks:
        return spark.createDataFrame([], out_schema)
    known = _lookup_terms(index, toks)
    missing = [t for t in toks if t not in known]
    if not missing:
        return spark.createDataFrame([], out_schema)
    gi = gram_index if gram_index is not None else index.term_grams
    banded, gram_rows, needs = [], [], []
    for t in missing:
        grams = sorted({t[i : i + GRAM_Q] for i in range(len(t) - GRAM_Q + 1)})
        need = len(grams) - GRAM_Q * max_edits
        if gi is None or need < 1:
            banded.append(t)
        else:
            gram_rows.extend((t, g) for g in grams)
            needs.append((t, need))
    verify = F.levenshtein(F.col("term"), F.col("input"), max_edits)
    frames = []
    if banded:
        qdf = F.broadcast(
            spark.createDataFrame(
                [(t, len(t)) for t in banded], "input string, qlen int"
            )
        )
        frames.append(
            index.term_stats.select("term", "df", F.length("term").alias("tlen"))
            .join(
                qdf,
                (F.col("tlen") >= F.col("qlen") - max_edits)
                & (F.col("tlen") <= F.col("qlen") + max_edits),
            )
            .select("input", "term", "df")
        )
    if needs:
        qg = F.broadcast(
            spark.createDataFrame(gram_rows, "input string, gram string")
        )
        nd = F.broadcast(spark.createDataFrame(needs, "input string, need int"))
        cand_g = (
            gi.join(qg, "gram")
            .groupBy("input", "term")
            .agg(F.count(F.lit(1)).alias("_m"))
            .join(nd, "input")
            .filter(F.col("_m") >= F.col("need"))
            .select("input", "term")
        )
        frames.append(
            cand_g.join(index.term_stats.select("term", "df"), "term").select(
                "input", "term", "df"
            )
        )
    cand = frames[0] if len(frames) == 1 else frames[0].unionByName(frames[1])
    cand = (
        cand.withColumn("distance", verify)
        .filter((F.col("distance") >= 0) & (F.col("distance") <= max_edits))
        .filter(F.col("distance") > 0)
    )
    w = Window.partitionBy("input").orderBy(
        F.asc("distance"), F.desc("df"), F.asc("term")
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= size)
        .select("input", F.col("term").alias("suggestion"), "distance", "df")
        .orderBy("input", "distance", F.desc("df"), "suggestion")
    )


def count_matches(index: Index, query: str, msm: int = 1) -> DataFrame:
    """ES _count API: how many docs match, no scoring, no hits. One pruned
    constant-score block scan; the count aggregate is map-side combined so
    the driver sees a single long regardless of match-set size."""
    from webindex.aggs import matching_doc_ids

    return matching_doc_ids(index, query, msm).agg(
        F.count("*").cast("long").alias("count")
    )


def explain_doc(index: Index, query: str, doc_id: int) -> DataFrame:
    """ES _explain API: the per-term BM25 breakdown of one doc's score for
    `query`. Output (term, tf, doc_len, idf, contrib), term asc — contrib =
    idf * tf / (tf + k1*(1 - b + b*dl/avgdl)), so sum(contrib) is exactly
    the score the topk path produces for this doc (same float64 terms).

    The scan prunes twice without knowing the doc's bucket: term_hash
    IN (...) plus the block doc-range guard min_doc <= id <= max_doc — at
    most one block per query term survives (blocks partition doc ranges),
    so the decode cost is O(|query| blocks) however big the index is."""
    stats = _query_terms(index, query)
    spark = index.postings.sparkSession
    out_schema = (
        "term string, tf long, doc_len long, idf double, contrib double"
    )
    if not stats:
        return spark.createDataFrame([], out_schema)
    idf_map = {h: idf for (_, idf, h) in stats.values()}
    term_of = {h: t for t, (_, _, h) in stats.items()}
    conf, avgdl, dead = index.conf, index.avgdl, index.dead_ids
    did = int(doc_id)

    def fn(batches):
        for pdf in batches:
            # the scorers' decode: contrib is the same idf × impact product
            # they sum, so sum(contrib) is bitwise the topk score; a pending-
            # deleted doc decodes to no rows, like lookup_doc's not-found
            blk, ids, tfs, dls, impact = _decode_rows(pdf, conf, avgdl, dead)
            hit = ids == did
            th = pdf["term_hash"].to_numpy(dtype=np.int64)[blk[hit]]
            idf = np.asarray([idf_map[int(h)] for h in th], dtype=np.float64)
            yield pd.DataFrame({
                "term": [term_of[int(h)] for h in th],
                "tf": tfs[hit].astype(np.int64),
                "doc_len": dls[hit].astype(np.int64),
                "idf": idf,
                "contrib": idf * impact[hit],
            })

    blocks = index.postings.filter(
        F.col("term_hash").isin(list(idf_map))
        & (F.col("min_doc") <= did)
        & (F.col("max_doc") >= did)
    )
    return blocks.mapInPandas(fn, schema=out_schema).orderBy("term")


def complete_terms(index: Index, prefix: str, size: int = 5) -> DataFrame:
    """ES completion suggester over the index vocabulary: terms starting
    with `prefix`, popularity-ranked (df desc, term asc). The dictionary
    filter is a pushed string predicate over term_stats; only `size` rows
    ever reach the driver (ES backs this with an FST — at our scale the
    pruned columnar dictionary scan is the same read profile)."""
    return (
        index.term_stats.filter(F.col("term").startswith(prefix))
        .select(F.col("term").alias("suggestion"), "df")
        .orderBy(F.desc("df"), F.asc("suggestion"))
        .limit(size)
    )


def topk_boosting(
    index: Index,
    positive: str,
    negative: str,
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES `boosting` query: rank by the positive query's BM25 score, but
    demote (not exclude) docs matching the negative query — score × 
    negative_boost when any negative term is present. Lucene evaluates the
    negative side as an unscored filter; so does this: one constant-score
    match scan for the negative set, left-joined onto the positive match
    scores (both fixed-width doc_id keys), then the top-k cut.

    Exhaustive on the positive side: demotion can promote docs from below
    any θ frontier, so the WAND bound is unsound here (same reasoning as
    function_score; ES rewrites identically)."""
    from webindex.aggs import match_scores, matching_doc_ids

    pos = match_scores(index, positive)
    neg = matching_doc_ids(index, negative).withColumn("neg", F.lit(True))
    return (
        pos.join(neg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("neg"), F.col("score") * F.lit(float(negative_boost)))
            .otherwise(F.col("score"))
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def _outer_sum(frames: list[DataFrame]) -> DataFrame:
    """doc_id-keyed FullOuter join of (doc_id, score) frames -> (doc_id,
    s0..sN-1, score): score sums the frames' scores in list order, a doc
    absent from a frame adding 0.0 — the deterministic float summation
    order the SQL oracles mirror. Fixed-width rows on every join."""
    joined = frames[0].withColumnRenamed("score", "s0")
    for i, f in enumerate(frames[1:], start=1):
        joined = joined.join(f.withColumnRenamed("score", f"s{i}"), "doc_id", "full")
    score = F.col("s0")
    for i in range(1, len(frames)):
        score = F.coalesce(score, F.lit(0.0)) + F.coalesce(F.col(f"s{i}"), F.lit(0.0))
    return joined.withColumn("score", score)


def topk_dismax(
    index: Index,
    queries: list[str],
    tie_breaker: float = 0.0,
    k: int = 10,
) -> DataFrame:
    """ES top-level `dis_max` query over N subqueries: per doc,
    score = max(subquery scores) + tie_breaker * (sum - max) — Lucene
    DisjunctionMaxQuery. tie_breaker=0 is pure best-clause;
    tie_breaker=1 degenerates to a bool/should sum.

    Each subquery's scores come from the shared exhaustive kernel; the
    combine is a doc_id-keyed outer zip of K match-set-sized frames (K is
    the query count, small by construction) — no text, no positions, no
    per-row Python."""
    from webindex.aggs import match_scores

    spark = index.postings.sparkSession
    frames = [
        match_scores(index, q).withColumnRenamed("score", f"s{i}")
        for i, q in enumerate(queries)
    ]
    if not frames:
        return spark.createDataFrame([], _HIT)
    joined = frames[0]
    for f in frames[1:]:
        joined = joined.join(f, "doc_id", "full")
    cols = [F.coalesce(F.col(f"s{i}"), F.lit(0.0)) for i in range(len(frames))]
    mx = cols[0]
    total = cols[0]
    for c in cols[1:]:
        mx = F.greatest(mx, c)
        total = total + c
    score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return (
        joined.select("doc_id", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_collapse(
    index: Index,
    stored: DataFrame,
    query: str,
    collapse_field: str,
    k: int = 10,
) -> DataFrame:
    """ES field collapsing (`collapse` on a search): the flat top-k ranked
    by relevance, keeping only the BEST doc per collapse-field value —
    dedup-by-group at rank time, unlike top_hits which returns per-group
    lists. Output (doc_id, <field>, score), score desc / doc_id asc.

    One window rank over the group-keyed shuffle (WindowGroupLimit pushes
    the rank<=1 filter map-side), then the global TakeOrdered — the
    collapse never materializes more than each group's frontier."""
    from webindex.aggs import match_scores

    scores = match_scores(index, query)
    w = Window.partitionBy(collapse_field).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        stored.select("doc_id", collapse_field)
        .join(scores, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", collapse_field, "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", collapse_field, F.round("score", 4).alias("score"))
    )


def phrase_scores(index: Index, phrase: str, slop: int = 0) -> DataFrame:
    """(doc_id, score) for EVERY doc matching the phrase — the exhaustive
    phrase analogue of aggs.match_scores (k=None: no local cut, no θ; the
    interval coverage prune still skips blocks that can't hold a match).
    Buckets partition doc ranges, so per-bucket exhaustive output is
    globally exhaustive. Shared kernel for compositions that sum or re-rank
    phrase relevance (simple_query_string, topk_rescore)."""
    entries = _phrase_entries(index, {"q": phrase}, slop)
    return _phrase_plan(index, entries, None)


def topk_rescore(
    index: Index,
    query: str,
    rescore_phrase: str,
    window: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """ES `rescore` (window rescoring, score_mode=total): the top-`window`
    docs by the base match query are re-scored as

        query_weight * bm25(query) + rescore_weight * phrase_score

    (phrase_score = 0 where the phrase misses — ES keeps non-matching
    window docs at the weighted base score), and the final top-k is cut
    from the rescored window. Docs outside the window can never enter —
    exactly ES's contract, which is why rescore is cheap: the expensive
    phrase only evaluates against window-many candidates.

    Scale shape: the base top-window comes from the θ-pruned WAND path;
    the phrase pass runs with the window's doc_ids pushed into its block
    scan as a min/max range + bucket prune, so it decodes only blocks that
    can overlap the window. The combine is driver-side over window-many
    rows — the same k-scale coordinator work ES does (window <= 10^4 by
    API contract; enforced)."""
    if not (0 < k <= window):
        raise ValueError("need 0 < k <= window")
    if window > 10_000:
        raise ValueError("window capped at 10000 (ES window_size contract)")
    _require_positions(index, "phrase queries")
    spark = index.postings.sparkSession
    # the phrase-term dictionary probe is independent of the base query's
    # result — overlap the two driver-synchronous jobs (guide §2.6) instead
    # of paying their latencies back to back. Results are unchanged: both
    # reads are side-effect-free and joined before anything downstream runs.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=1) as pool:
        entries_fut = pool.submit(_phrase_entries, index, {"q": rescore_phrase}, slop)
        base = topk_wand(index, query, window).collect()
        entries = entries_fut.result()
    if not base:
        return spark.createDataFrame([], _HIT)
    ids = np.array([r["doc_id"] for r in base], dtype=np.int64)
    ph: dict[int, float] = {}
    if entries:
        # phrase pass over only the window's candidate span: the doc-range
        # predicate prunes the scan before the fused matcher runs
        span = (F.col("max_doc") >= int(ids.min())) & (F.col("min_doc") <= int(ids.max()))
        local = _phrase_plan(index, entries, None, extra=span)
        ph = {
            r["doc_id"]: r["score"]
            for r in local.filter(F.col("doc_id").isin(ids.tolist())).collect()
        }
    qw, rw = float(query_weight), float(rescore_weight)
    rescored = sorted(
        (
            (int(r["doc_id"]), qw * float(r["score"]) + rw * ph.get(int(r["doc_id"]), 0.0))
            for r in base
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:k]
    return spark.createDataFrame(
        [(d, s) for d, s in rescored], schema=_HIT
    )


def simple_query_string(
    index: Index,
    q: str,
    default_operator: str = "or",
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """ES `simple_query_string` (documented subset): whitespace-separated
    clauses; a `-` prefix negates its clause; `"..."` makes a phrase
    clause; everything else is a term clause (analyzed — a clause whose
    analysis yields several tokens scores as their BM25 sum, msm=1).
    `default_operator` combines the POSITIVE clauses: "or" needs >= 1 to
    match, "and" needs all. (The `|`/`+`/parenthesis infix grammar and
    `~N`/`*` suffixes are not parsed — ES itself treats unsupported syntax
    leniently; this subset is the supported surface.)

    Lucene BooleanQuery semantics throughout: score = Σ matching positive
    clauses' scores (term clause = match-query BM25, phrase clause =
    phrase-frequency BM25 — same kernels as topk_match / topk_phrase); a
    negative clause excludes its matching docs (phrase negation is
    position-aware); a query with no positive clause matches nothing (a
    MUST_NOT-only BooleanQuery); an absent analyzed term empties its
    clause — fatal under "and", a no-op contribution under "or".

    Scale shape: one fixed-width (doc_id, score) frame per clause (clause
    count = user-query scale), combined by a doc_id-keyed outer join chain
    + anti-join for negations — no text and no positions cross any join;
    AQE picks the join strategy. Output (doc_id, score) desc/asc, top-k."""
    import re

    from webindex.aggs import match_scores, matching_doc_ids

    spark = index.postings.sparkSession
    if default_operator not in ("or", "and"):
        raise ValueError("default_operator must be 'or' or 'and'")
    pos_frames: list[DataFrame] = []
    neg_frames: list[DataFrame] = []
    for raw in re.findall(r'-?"[^"]*"|\S+', q):
        neg = raw.startswith("-")
        body = raw[1:] if neg else raw
        is_phrase = body.startswith('"')
        text = body.strip('"')
        if not tokenize(text):
            continue  # empty after analysis: no clause
        if is_phrase and len(tokenize(text)) > 1:
            frame = phrase_scores(index, text, slop)
            if neg:
                neg_frames.append(frame.select("doc_id"))
                continue
        elif neg:
            # exclusion needs the match SET only — the no-scoring kernel
            # (decode + bucket-local unique), not the BM25 scorer
            neg_frames.append(matching_doc_ids(index, text))
            continue
        else:
            frame = match_scores(index, text)
        pos_frames.append(frame)
    if not pos_frames:
        return spark.createDataFrame([], _HIT)

    out = _outer_sum(pos_frames)
    if default_operator == "and":
        for i in range(len(pos_frames)):
            out = out.filter(F.col(f"s{i}").isNotNull())
    out = out.select("doc_id", "score")
    for nf in neg_frames:
        out = out.join(nf, "doc_id", "left_anti")
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def topk_synonyms(
    index: Index,
    query: str,
    synonyms: dict[str, list[str]],
    k: int = 10,
) -> DataFrame:
    """ES query-time synonyms (`synonym_graph` filter on single-token
    synonyms): each analyzed query token expands to its synonym group, and
    the group scores as ONE pseudo-term — Lucene SynonymQuery semantics:

        df(group)      = max df over the group's present members
        tf(group, doc) = Σ member tfs in the doc
        contribution   = idf(df_group) * impact(tf_group, dl)

    so "fast" with synonym "quick" ranks a doc mentioning either (or both,
    with their occurrences pooled) as if they were one word — never the
    idf-sum double-count a naive OR would give. Per-doc score sums group
    contributions in query-token-ascending group order (the deterministic
    summation convention; the SQL oracle mirrors it). Ties doc_id asc.

    Runs exhaustively (θ=0): a single member's block-max impact is NOT an
    upper bound once tfs pool across members, so the per-term metadata
    can't prune soundly — the same reason Lucene merges member impacts
    instead of reusing one term's skip data. Still the one fused stage:
    IN(term_hash) pushdown over the union of member hashes, one bucket
    Exchange, per-bucket decode+pool+score+local-top-k."""
    spark = index.postings.sparkSession
    q_tokens = sorted(set(tokenize(query)))
    if not q_tokens:
        return spark.createDataFrame([], _HIT)
    member_of: dict[str, set[str]] = {}
    for t in q_tokens:
        grp = {t}
        for s in synonyms.get(t, []):
            grp.update(tokenize(s))
        member_of[t] = grp
    all_terms = sorted(set().union(*member_of.values()))
    stats = _query_terms(index, " ".join(all_terms))
    conf, n_docs = index.conf, index.n_docs

    groups: list[tuple[float, tuple[int, ...]]] = []  # query-token order
    for t in q_tokens:
        present = [m for m in sorted(member_of[t]) if m in stats]
        if not present:
            continue
        df_group = max(stats[m][0] for m in present)
        hashes = tuple(sorted({stats[m][2] for m in present}))
        groups.append((conf.idf(df_group, n_docs), hashes))
    return _scored(index, _Spec(tuple(groups), combine="pool"), k)


def topk_most_fields(
    indexes: dict[str, Index], query: str, k: int = 10
) -> DataFrame:
    """multi_match type=most_fields: doc score = SUM over fields of that
    field's BM25 score (ES: "combines the scores of each field" — the
    shape for text analyzed several ways). Unlike best_fields' max-merge,
    a sum is NOT top-k decomposable — a doc mediocre in every field can
    out-sum one great in a single field — so each field scores its match
    set exhaustively (aggs.match_scores) and the frames combine by a
    doc_id-keyed FullOuter join in field-name-ascending order (the
    deterministic float summation order; the SQL oracle mirrors it).
    Fixed-width rows only; per-field frames are match-set-sized.
    Ties doc_id asc. Returns (doc_id, score)."""
    from webindex.aggs import match_scores

    if not indexes:
        raise ValueError("most_fields needs at least one field index")
    fields = sorted(indexes)
    frames = [match_scores(indexes[f], query) for f in fields]
    return (
        _outer_sum(frames)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_cross_fields(
    indexes: dict[str, Index], query: str, k: int = 10
) -> DataFrame:
    """multi_match type=cross_fields: term-centric scoring across fields —
    ES treats the fields "as one big field" by giving each term ONE blended
    statistic and letting it match in whichever field it appears:

        score(doc) = Σ_terms max over fields of
                       idf_blend(t) · impact(tf_{t,field}, dl_field, avgdl_field)
        idf_blend(t) = idf(max over fields of df_{t,field})

    (Lucene BlendedTermQuery: per-term df blends to the max across the
    field group — one analyzer here, so one group — killing best_fields'
    failure mode where a term rare-in-the-wrong-field dominates; the
    per-doc combine is the dis_max over the term's per-field contributions.)

    Shape: one exhaustive single-term frame per (term, field) via
    match_scores with the blended idf override — |terms|·|fields| frames,
    user-query scale — combined per term by FullOuter-greatest over fields
    and across terms by FullOuter-sum in term-ascending order (the
    deterministic summation convention; the SQL oracle mirrors both).
    Fixed-width rows on every join; all fields must index the same corpus
    (same n_docs). Ties doc_id asc. Returns (doc_id, score)."""
    from webindex.aggs import match_scores

    if not indexes:
        raise ValueError("cross_fields needs at least one field index")
    spark = next(iter(indexes.values())).postings.sparkSession
    fields = sorted(indexes)
    n_docs_set = {indexes[f].n_docs for f in fields}
    if len(n_docs_set) != 1:
        raise ValueError("cross_fields needs per-field indexes over the SAME corpus")
    n_docs = n_docs_set.pop()
    conf = indexes[fields[0]].conf
    terms = sorted(set(tokenize(query)))
    if not terms:
        return spark.createDataFrame([], _HIT)
    per_field_stats = {f: _query_terms(indexes[f], query) for f in fields}
    blend: dict[str, float] = {}
    for t in terms:
        dfs = [
            per_field_stats[f][t][0] for f in fields if t in per_field_stats[f]
        ]
        if dfs:
            blend[t] = conf.idf(max(dfs), n_docs)
    if not blend:
        return spark.createDataFrame([], _HIT)

    term_frames: list[DataFrame] = []
    for t in sorted(blend):
        ffs = [
            match_scores(indexes[f], t, idf_override={t: blend[t]})
            for f in fields
            if t in per_field_stats[f]
        ]
        tf = ffs[0].withColumnRenamed("score", "f0")
        for i, f in enumerate(ffs[1:], start=1):
            tf = tf.join(f.withColumnRenamed("score", f"f{i}"), "doc_id", "full")
        cols = [
            F.coalesce(F.col(f"f{i}"), F.lit(float("-inf")))
            for i in range(len(ffs))
        ]
        best = cols[0] if len(cols) == 1 else F.greatest(*cols)
        term_frames.append(tf.select("doc_id", best.alias("score")))

    return (
        _outer_sum(term_frames)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def topk_match_bool_prefix(
    index: Index, query: str, k: int = 10,
    max_expansions: int | None = MAX_CLAUSE_COUNT,
) -> DataFrame:
    """ES `match_bool_prefix`: the analyzed terms become a bool query of
    should clauses — every term but the LAST is a scored term query, the
    last is a prefix query under the constant-score rewrite (+1.0 where
    any dictionary expansion matches, exactly topk_prefix's semantics).
    The type-ahead cousin of match_phrase_prefix: terms may match anywhere,
    in any order — only the final partial word is special.

    score = Σ init-term BM25 contributions + 1.0·[any expansion matches],
    OR semantics (>= 1 clause). Query terms dedup per this engine's match
    convention; absent init terms contribute nothing (should clauses).
    Ties doc_id asc.

    Shape: the §3 exhaustive kernel for the init terms + the distributed
    dictionary expansion feeding ids_for_hashes, combined by ONE
    doc_id-keyed FullOuter join of fixed-width frames."""
    from webindex.aggs import ids_for_hashes, match_scores

    spark = index.postings.sparkSession
    toks = tokenize(query)
    if not toks:
        return spark.createDataFrame([], _HIT)
    init, last = toks[:-1], toks[-1]
    exp = _expansions(index, F.col("term").startswith(last), max_expansions)
    pref = ids_for_hashes(index, [int(r["term_hash"]) for r in exp]).withColumn(
        "score", F.lit(1.0)
    )
    if init:
        pref = _outer_sum([match_scores(index, " ".join(init)), pref])
    return (
        pref.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def span_near_docs(
    index: Index, terms: list[str], slop: int = 0, in_order: bool = False
) -> DataFrame:
    """ES `span_near` (the intervals/span family's workhorse) as a
    constant-score positional match over the positional index:
    (doc_id, n_spans), doc_id asc. This is the filter-context shape span
    queries are used in (clause inside bool.filter / intervals);
    relevance-scored proximity lives in topk_phrase(slop=...).

    Deterministic match contract (mirrored exactly by the oracle SQL):

      in_order=True   each occurrence p0 of terms[0] anchors a GREEDY
                      MINIMAL chain: p_{i+1} = the smallest position of
                      terms[i+1] strictly greater than p_i in the same
                      doc; the anchor matches iff the chain completes and
                      p_{n-1} - p_0 - (n-1) <= slop (Lucene
                      NearSpansOrdered's width measure: positions BETWEEN
                      the matched slots).
      in_order=False  closest-assignment (the sloppy-phrase kernel's
                      matcher WITHOUT slot offsets): every other term
                      picks its occurrence closest to p0 (tie -> the
                      smaller position); match iff max-min of the chosen
                      positions <= slop + n - 1.

    n_spans counts matching anchors; partner occurrences may be shared
    between anchors (deterministic on both engine and oracle — Lucene's
    iterator consumes them, a documented divergence shared with
    topk_phrase's sloppy matcher).

    Both contracts are the intervals `match` rule with max_gaps = slop:
    the ordered width p_{n-1} - p_0 - (n-1) is the rule's total gap, and
    max - min <= slop + n - 1 is its unordered max - min + 1 - n <= max_gaps
    — so this is intervals_docs over that one rule."""
    spec = {"match": {"terms": list(terms), "max_gaps": slop, "ordered": in_order}}
    return intervals_docs(index, spec).withColumnRenamed("n_intervals", "n_spans")


def intervals_docs(index: Index, spec: dict) -> DataFrame:
    """ES `intervals` query (the modern span replacement) as a constant-
    score positional match: (doc_id, n_intervals), doc_id asc. `spec` is
    the ES rule tree:

      {"match":  {"terms": [t...], "max_gaps": g, "ordered": bool}}
      {"all_of": {"intervals": [spec...], "max_gaps": g, "ordered": True}}
      {"any_of": {"intervals": [spec...]}}

    Every rule produces SPANS (start, end). Deterministic contract
    (oracle-mirrored; the greedy-minimal discipline of span_near_docs
    lifted from positions to spans):

      match ordered    each occurrence p0 of terms[0] anchors the greedy
                       chain p_{i+1} = smallest position > p_i; span =
                       [p0, p_last], a match iff total gap
                       (p_last - p0 + 1 - n) <= max_gaps.
      match unordered  closest assignment around p0 (ties -> smaller);
                       span = [min, max], match iff (max - min + 1 - n)
                       <= max_gaps.
      all_of ordered   child spans chain like terms: an anchor span s0 of
                       child 0 picks for each next child the span with the
                       SMALLEST start strictly greater than the previous
                       span's end (tie on start -> the one encountered
                       first in the child's doc-ascending/start-ascending/
                       end-ascending order); match iff the sum of
                       inter-span gaps <= max_gaps; the combined span is
                       [s0.start, last.end]. Children never overlap by
                       construction (ES all_of ordered semantics).
      all_of unordered each anchor span of child 0 takes, from every other
                       child, the span whose START is closest to the
                       anchor's (tie -> smaller start, then smaller end);
                       envelope = [min starts, max ends]; gaps = envelope
                       length - Σ child span lengths (negative under
                       overlap — ES's unordered all_of permits overlap);
                       match iff gaps <= max_gaps.
      any_of           the union of child spans (exact duplicates kept
                       once per child emission — counts are summed).

    Any rule body may carry a `filter` clause — {"filter": {"<rule>":
    spec}} with rule ∈ containing / contained_by / overlapping / before /
    after and their not_* complements: keep the rule's spans standing in
    that relation to AT LEAST ONE span of the filter spec in the same doc
    (ES intervals filter semantics; `script` filters are out of scope).
    With no filter span in the doc, the positive rules drop the span and
    the not_* rules keep it.

    n_intervals counts the root rule's matches per doc. Every combinator
    output is (start, end)-sorted so rules nest arbitrarily.

    Scale shape: IN(term_hash) pushdown to the positional block scan over
    the UNION of all leaf terms, one applyInPandas pass per bucket
    (buckets partition doc space, so bucket outputs concatenate with no
    merge), each bucket's blocks decoded once (_decode_positional, dead
    docs dropped) no matter how many rules reference a term, every
    combinator a vectorized searchsorted pass over packed
    (doc_rank<<32 | position) keys (_candidate_plan)."""
    _require_positions(index, "intervals queries")

    def leaf_terms(node: dict) -> list[str]:
        kind, body = next(iter(node.items()))
        if kind == "match":
            out = list(body["terms"])
        elif kind in ("all_of", "any_of"):
            out = []
            for child in body["intervals"]:
                out.extend(leaf_terms(child))
        else:
            raise ValueError(f"unknown intervals rule: {kind}")
        if "filter" in body:
            # the filter rule's spec has leaf terms of its own — they must
            # reach the block scan like any other leaf
            out.extend(leaf_terms(next(iter(body["filter"].values()))))
        return out

    def validate(node: dict) -> None:
        kind, body = next(iter(node.items()))
        if kind in ("all_of", "any_of"):
            for child in body["intervals"]:
                validate(child)
        if "filter" in body:
            rule, fspec = next(iter(body["filter"].items()))
            base = rule[4:] if rule.startswith("not_") else rule
            if base not in ("containing", "contained_by", "overlapping", "before", "after"):
                raise ValueError(f"unknown intervals filter rule: {rule}")
            validate(fspec)

    validate(spec)
    out_schema = "doc_id long, n_intervals long"
    all_terms = leaf_terms(spec)
    stats = _query_terms(index, " ".join(all_terms))
    # ES semantics for an out-of-vocabulary leaf: it yields no intervals —
    # an any_of sibling can still match and a not_* filter with no spans
    # keeps everything. Only when NO leaf exists in the corpus can no rule
    # produce a span: then hash_of is empty and the plan is empty, no job.
    hash_of = {t: stats[t][2] for t in set(all_terms) if t in stats}
    conf = index.conf
    shift = np.int64(1) << np.int64(32)
    mask = shift - 1

    def fn(pdf: pd.DataFrame, dead: np.ndarray | None) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_id": [], "n_intervals": []}).astype(
            {"doc_id": np.int64, "n_intervals": np.int64}
        )
        pdf = pdf.sort_values(["term_hash", "block_id"]).reset_index(drop=True)
        blk, _, tfs, _, pdocs, ppos = _decode_positional(pdf, conf, dead)
        if not len(pdocs):
            return empty
        # blocks are term_hash-sorted, so each term's positions are one
        # slice, doc-ascending (block_id order) and ascending within a doc.
        # A term absent from THIS bucket (buckets partition doc space)
        # yields no spans here, but other any_of branches may still match
        pth = pdf["term_hash"].to_numpy(dtype=np.int64)[np.repeat(blk, tfs)]
        ths, cut = np.unique(pth, return_index=True)
        cut = np.append(cut, len(pth))
        per_term = {
            int(t): (pdocs[cut[i]:cut[i + 1]], ppos[cut[i]:cut[i + 1]])
            for i, t in enumerate(ths)
        }
        all_docs = np.unique(pdocs)

        def term_spans(t: str) -> tuple[np.ndarray, np.ndarray]:
            """(skeys, ekeys): packed start/end keys, start == end."""
            got = per_term.get(hash_of[t]) if t in hash_of else None
            if got is None:
                z = np.empty(0, dtype=np.int64)
                return z, z
            pdocs, ppos = got
            keys = np.searchsorted(all_docs, pdocs).astype(np.int64) * shift + ppos
            return keys, keys

        def chain_spans(
            children: list[tuple[np.ndarray, np.ndarray]], max_gaps: int
        ) -> tuple[np.ndarray, np.ndarray]:
            """Greedy ordered chain over child span lists (each sorted by
            packed start key). Anchor = child 0's spans."""
            s0, e0 = children[0]
            cur_end = e0.copy()
            gaps = np.zeros(len(s0), dtype=np.int64)
            alive = np.ones(len(s0), dtype=bool)
            arank = s0 >> np.int64(32)
            for sk, ek in children[1:]:
                if len(sk) == 0:
                    return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
                idx = np.searchsorted(sk, cur_end, side="right")
                ok = idx < len(sk)
                idx_c = np.minimum(idx, len(sk) - 1)
                cand_s, cand_e = sk[idx_c], ek[idx_c]
                alive &= ok & ((cand_s >> np.int64(32)) == arank)
                gaps += (cand_s & mask) - (cur_end & mask) - 1
                cur_end = cand_e
            keep = alive & (gaps <= max_gaps)
            return s0[keep], cur_end[keep]

        def closest_spans(terms: list[str], max_gaps: int):
            """Unordered leaf: closest assignment around each anchor."""
            n = len(terms)
            ak, _ = term_spans(terms[0])
            if len(ak) == 0:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
            amin = (ak & mask).copy()
            amax = amin.copy()
            alive = np.ones(len(ak), dtype=bool)
            for t in terms[1:]:
                sk, _ = term_spans(t)
                chosen, valid = _closest_slot_assign(ak, sk)
                ai = chosen & mask
                alive &= valid
                np.minimum(amin, ai, out=amin)
                np.maximum(amax, ai, out=amax)
            keep = alive & ((amax - amin + 1 - n) <= max_gaps)
            base = (ak >> np.int64(32)) * shift
            sk, ek = base[keep] + amin[keep], base[keep] + amax[keep]
            # span starts = min CHOSEN position, which need not follow the
            # anchor order — downstream chains searchsorted these arrays,
            # so restore (start, end) order
            order = np.lexsort((ek, sk))
            return sk[order], ek[order]

        def closest_all_of(
            children: list[tuple[np.ndarray, np.ndarray]], max_gaps: int
        ) -> tuple[np.ndarray, np.ndarray]:
            """all_of unordered: each anchor span (child 0) takes, from
            every other child, the span whose START is closest to the
            anchor's start (tie -> smaller start, then smaller end);
            envelope = [min starts, max ends]; gaps = envelope length
            minus the sum of child span lengths (negative under overlap —
            ES allows overlap in unordered all_of); match iff
            gaps <= max_gaps."""
            s0, e0 = children[0]
            if len(s0) == 0:
                return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
            env_s, env_e = (s0 & mask).copy(), (e0 & mask).copy()
            lens = env_e - env_s + 1
            alive = np.ones(len(s0), dtype=bool)
            for sk, ek in children[1:]:
                chosen, valid = _closest_slot_assign(s0, sk)
                # first index with the chosen start key = smallest end
                ci = np.searchsorted(sk, chosen, side="left")
                ci = np.minimum(ci, max(len(sk) - 1, 0))
                cs = chosen & mask
                ce = (ek[ci] & mask) if len(ek) else cs
                alive &= valid
                np.minimum(env_s, cs, out=env_s)
                np.maximum(env_e, ce, out=env_e)
                lens = lens + (ce - cs + 1)
            gaps = (env_e - env_s + 1) - lens
            keep = alive & (gaps <= max_gaps)
            base = (s0 >> np.int64(32)) * shift
            sk2, ek2 = base[keep] + env_s[keep], base[keep] + env_e[keep]
            order = np.lexsort((ek2, sk2))
            return sk2[order], ek2[order]

        def apply_filter(
            spans: tuple[np.ndarray, np.ndarray], fbody: dict
        ) -> tuple[np.ndarray, np.ndarray]:
            """ES interval `filter` rules: keep spans standing in the given
            relation to AT LEAST ONE filter-rule span of the same doc
            (not_* = complement). Vectorized with per-doc segmented scans:
            every array is packed (doc_rank<<32 | position), so a plain
            prefix-max / suffix-min over the packed values IS the per-doc
            scan — the moment an accumulate reaches a doc's first element,
            that element's higher rank dominates every earlier doc's
            value."""
            rule, fspec = next(iter(fbody.items()))
            neg = rule.startswith("not_")
            base_rule = rule[4:] if neg else rule
            sk, ek = spans
            if len(sk) == 0:
                return spans
            fs, fe = ev(fspec)
            n_f = len(fs)
            if n_f == 0:
                keep = np.zeros(len(sk), dtype=bool)  # no filter span: no relation holds
            elif base_rule == "containing":
                # ∃ f: s <= f.start and f.end <= e — among filter spans with
                # start >= s (same doc via packing), the suffix-min end
                suf_min_e = np.minimum.accumulate(fe[::-1])[::-1]
                idx = np.searchsorted(fs, sk)  # first f.start >= s
                idx_c = np.minimum(idx, n_f - 1)
                keep = (idx < n_f) & (suf_min_e[idx_c] <= ek)
            elif base_rule == "contained_by":
                # ∃ f: f.start <= s and e <= f.end — among f.start <= s,
                # the prefix-max end
                pre_max_e = np.maximum.accumulate(fe)
                idx = np.searchsorted(fs, sk, side="right") - 1
                idx_c = np.maximum(idx, 0)
                keep = (idx >= 0) & (pre_max_e[idx_c] >= ek) & (
                    (fs[idx_c] >> np.int64(32)) == (sk >> np.int64(32))
                )
            elif base_rule == "overlapping":
                # ∃ f: f.start <= e and f.end >= s — among f.start <= e,
                # the prefix-max end
                pre_max_e = np.maximum.accumulate(fe)
                idx = np.searchsorted(fs, ek, side="right") - 1
                idx_c = np.maximum(idx, 0)
                keep = (idx >= 0) & (pre_max_e[idx_c] >= sk) & (
                    (fs[idx_c] >> np.int64(32)) == (sk >> np.int64(32))
                )
            elif base_rule == "before":
                # ∃ f in our doc with f.start > e: the first f with packed
                # start > ek either belongs to our doc (relation holds) or
                # to a later doc (it doesn't) — no scan needed
                idx = np.searchsorted(fs, ek, side="right")
                idx_c = np.minimum(idx, n_f - 1)
                keep = (idx < n_f) & (
                    (fs[idx_c] >> np.int64(32)) == (sk >> np.int64(32))
                )
            elif base_rule == "after":
                # ∃ f in our doc with f.end < s: the doc's MIN f.end is the
                # suffix-min from the doc's first filter span (packed: a
                # prefix-min would be dominated by earlier docs' lower
                # ranks, so scan from the doc boundary toward later docs)
                suf_min_e = np.minimum.accumulate(fe[::-1])[::-1]
                doc_start_key = (sk >> np.int64(32)) * shift
                idx = np.searchsorted(fs, doc_start_key, side="left")
                idx_c = np.minimum(idx, n_f - 1)
                same = (fs[idx_c] >> np.int64(32)) == (sk >> np.int64(32))
                keep = (idx < n_f) & same & (suf_min_e[idx_c] < sk)
            else:
                raise ValueError(f"unknown intervals filter rule: {rule}")
            if neg:
                keep = ~keep
            return sk[keep], ek[keep]

        def ev(node: dict) -> tuple[np.ndarray, np.ndarray]:
            kind, body = next(iter(node.items()))
            if kind == "match":
                terms = list(body["terms"])
                g = int(body.get("max_gaps", 0))
                if len(terms) == 1:
                    out = term_spans(terms[0])
                elif body.get("ordered", True):
                    out = chain_spans([term_spans(t) for t in terms], g)
                else:
                    out = closest_spans(terms, g)
            elif kind == "any_of":
                parts = [ev(c) for c in body["intervals"]]
                sk = np.concatenate([p[0] for p in parts])
                ek = np.concatenate([p[1] for p in parts])
                order = np.lexsort((ek, sk))
                out = sk[order], ek[order]
            else:  # all_of
                g = int(body.get("max_gaps", 0))
                children = [ev(c) for c in body["intervals"]]
                if body.get("ordered", True):
                    out = chain_spans(children, g)
                else:
                    out = closest_all_of(children, g)
            if "filter" in body:
                out = apply_filter(out, body["filter"])
            return out

        sk, _ = ev(spec)
        if len(sk) == 0:
            return empty
        counts = np.bincount(sk >> np.int64(32), minlength=len(all_docs))
        hit = np.nonzero(counts > 0)[0]
        return pd.DataFrame(
            {"doc_id": all_docs[hit], "n_intervals": counts[hit].astype(np.int64)}
        )

    return _candidate_plan(index, hash_of.values(), fn, out_schema).orderBy("doc_id")


def percolate(
    queries: DataFrame,
    doc_text: str,
    id_col: str = "query_id",
    terms_col: str = "terms",
    op_col: str = "operator",
) -> DataFrame:
    """ES percolate query — REVERSE search: given a registry of stored
    match queries (query_id, terms array<string>, operator 'or'|'and'),
    return the queries the presented document matches:
    (query_id, n_hits) query_id asc, n_hits = |query terms ∩ doc terms|.

    Match rule mirrors topk_match: operator='or' needs >= 1 query term in
    the doc, 'and' needs all (empty term lists never match — ES rewrites
    an empty match to match_none inside a percolator). The document is
    analyzed ONCE with the shared tokenizer and the distinct-token set is
    a LITERAL array broadcast into a pure column expression — the plan is
    one scan of the query registry with a filter, no shuffle, no UDF,
    exactly how ES fans a candidate doc across its stored queries (their
    pre-filter phase indexes query terms; at registry scale the Spark
    analogue is a filter the optimizer can push into the registry scan)."""
    doc_terms = sorted(set(tokenize(doc_text)))
    arr = F.array(*[F.lit(t) for t in doc_terms]) if doc_terms else F.array().cast(
        "array<string>"
    )
    hits = F.size(F.array_intersect(F.col(terms_col), arr))
    need = F.when(
        F.col(op_col) == "and", F.size(F.col(terms_col))
    ).otherwise(F.lit(1))
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            hits.alias("n_hits"),
            need.alias("_need"),
            F.size(F.col(terms_col)).alias("_n"),
        )
        .filter((F.col("_n") > 0) & (F.col("n_hits") >= F.col("_need")))
        .select("query_id", F.col("n_hits").cast("long").alias("n_hits"))
        .orderBy("query_id")
    )


def term_vectors(index: Index, doc_ids: list[int]) -> DataFrame:
    """ES _termvectors: per-doc term statistics read back FROM THE INDEX —
    (doc_id, term, tf, positions array<int>) for the requested doc ids,
    ordered (doc_id, term). Positions come back only from a positional
    index (NULL column otherwise). A pending delete (live_index()) has no
    term vectors, as ES _termvectors reports it not found.

    Scale shape: doc ids are request-scale, so the postings scan prunes by
    the ids' bucket partitions AND each block's [min_doc, max_doc] span
    (both row-group-prunable parquet predicates); one Arrow pass decodes
    only surviving blocks and emits rows for the requested docs; the vocab
    join to recover term strings is a broadcast of term_stats filtered to
    the hashes actually seen (request-scale)."""
    spark = index.postings.sparkSession
    ids = sorted(set(int(d) for d in doc_ids))
    if not ids:
        return spark.createDataFrame(
            [], "doc_id long, term string, tf long, positions array<int>"
        )
    has_pos = "positions" in index.postings.columns
    id_arr = np.array(ids, dtype=np.int64)

    blocks = index.postings.filter(
        (F.col("min_doc") <= int(id_arr.max())) & (F.col("max_doc") >= int(id_arr.min()))
    )
    if index.id_space is not None:
        # the bucket is a pure function of doc_id: Catalyst folds each
        # bucket_of(literal) to a literal (as lookup_url's xxhash64), so
        # the ids' buckets prune the scan with no job to look them up
        blocks = blocks.filter(
            F.col("bucket").isin([index.bucket_of(F.lit(i)) for i in ids])
        )

    conf, avgdl, dead = index.conf, index.avgdl, index.dead_ids

    def fn(batches):
        for pdf in batches:
            # only blocks whose [min_doc, max_doc] holds a requested id
            lo = np.searchsorted(id_arr, pdf["min_doc"].to_numpy(dtype=np.int64))
            hi = np.searchsorted(
                id_arr, pdf["max_doc"].to_numpy(dtype=np.int64), side="right"
            )
            pdf = pdf[hi > lo]
            # a pending delete (live_index()) has no term vector
            if has_pos:
                blk, bids, tfs, _, _, pos = _decode_positional(pdf, conf, dead)
            else:
                blk, bids, tfs, _, _ = _decode_rows(pdf, conf, avgdl, dead)
            sel = np.nonzero(np.isin(bids, id_arr))[0]
            starts = (np.cumsum(tfs) - tfs)[sel]
            yield pd.DataFrame(
                {
                    "doc_id": bids[sel],
                    "term_hash": pdf["term_hash"].to_numpy(dtype=np.int64)[blk[sel]],
                    "tf": tfs[sel],
                    "positions": pd.Series(
                        [pos[s : s + t].tolist() for s, t in zip(starts, tfs[sel])]
                        if has_pos else [None] * len(sel),
                        dtype="object",
                    ),
                }
            )

    raw = blocks.mapInPandas(
        fn, schema="doc_id long, term_hash long, tf long, positions array<int>"
    )
    vocab = index.term_stats.select("term_hash", "term")
    return (
        raw.join(F.broadcast(vocab), "term_hash")
        .select("doc_id", "term", "tf", "positions")
        .orderBy("doc_id", "term")
    )


def suggest_phrase(
    index: Index,
    text: str,
    max_edits: int = 2,
    per_term: int = 3,
    size: int = 3,
    collate: bool = True,
    gram_index: DataFrame | None = None,
) -> DataFrame:
    """ES phrase suggester ("did you mean" over multi-term queries),
    deterministic contract:

      1. candidate sets — per input token (order + duplicates kept):
         a dictionary token is its own sole candidate (distance 0); a
         missing token takes suggest_terms' top `per_term` corrections
         (distance asc, df desc, term asc). A token with NO candidate
         kills the whole suggestion (ES emits none).
      2. whole-phrase candidates = the cartesian combination of per-token
         candidates, scored Σ_i (ln(df_i / n_docs) - distance_i) — the
         unigram-LM-minus-edit-cost shape of ES's candidate scorer with
         λ = 1 edit-penalty; round-6.
      3. top `size` by (score desc, phrase asc).
      4. collate=True marks each surviving phrase with matched = whether
         ≥1 doc contains ALL its distinct terms (ES collate with an
         operator=and match, prune=false: kept, flagged).

    Output (suggestion, score, matched) ordered (score desc, suggestion).
    Divergence from ES, documented: dictionary tokens are not re-weighed
    against real-word alternatives (real_word_error_likelihood), and the
    LM is unigram rather than the shingle-field bigram model.

    Scale shape: candidate GENERATION is the distributed part and reuses
    suggest_terms' pruned dictionary pass (length band / q-gram sidecar);
    everything after is request-scale coordinator arithmetic over ≤
    per_term^n_tokens rows — the same split ES has (shard-level candidate
    generation, coordinator rescoring); collate adds ONE scoring job
    that runs the ≤ `size` intersection probes as one _scored batch."""
    import itertools
    import math

    spark = index.term_stats.sparkSession
    out_schema = "suggestion string, score double, matched boolean"
    toks = tokenize(text)
    if not toks:
        return spark.createDataFrame([], out_schema)
    uniq = sorted(set(toks))
    known = {t: df for t, (df, _, _) in _lookup_terms(index, uniq).items()}
    missing = [t for t in uniq if t not in known]
    cand_of: dict[str, list[tuple[str, int, int]]] = {
        t: [(t, 0, known[t])] for t in known
    }
    if missing:
        sugg = suggest_terms(
            index, " ".join(missing), max_edits=max_edits, size=per_term,
            gram_index=gram_index,
        ).collect()
        for r in sugg:
            cand_of.setdefault(r["input"], []).append(
                (r["suggestion"], int(r["distance"]), int(r["df"]))
            )
    if any(t not in cand_of or not cand_of[t] for t in toks):
        return spark.createDataFrame([], out_schema)
    n_docs = float(index.n_docs)
    combos = []
    for combo in itertools.product(*[cand_of[t] for t in toks]):
        phrase = " ".join(c[0] for c in combo)
        score = sum(math.log(c[2] / n_docs) - c[1] for c in combo)
        combos.append((phrase, round(score, 6)))
    # dedupe identical phrases (different edit paths) keeping the best score
    best: dict[str, float] = {}
    for phrase, s in combos:
        if phrase not in best or s > best[phrase]:
            best[phrase] = s
    ranked = sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:size]
    if not collate or not ranked:
        return spark.createDataFrame(
            [(p, s, False) for p, s in ranked], out_schema
        )
    # Collate is the operator=and probe, batched: every candidate token is
    # a dictionary term by construction (known tokens and suggest_terms
    # corrections both come from term_stats), so matched reduces to "does
    # ANY live doc hold ALL of the phrase's distinct terms". One _scored
    # batch call answers it for every phrase: a zero-weight slot per term,
    # a count bound of all slots, k=1 per bucket.
    phrase_terms = [sorted(set(tokenize(p))) for p, _ in ranked]
    hash_of = {
        t: h
        for t, (_, _, h) in _lookup_terms(
            index, sorted({t for ts in phrase_terms for t in ts})
        ).items()
    }
    specs = {
        str(i): _Spec(
            tuple((0.0, (hash_of[t],)) for t in ts),
            counts=((tuple(range(len(ts))), len(ts), None),),
        )
        for i, ts in enumerate(phrase_terms)
        if all(t in hash_of for t in ts)
    }
    matched = {
        r["query_id"]
        for r in _scored(index, specs, 1).select("query_id").distinct().collect()
    }
    rows = [(p, s, str(i) in matched) for i, (p, s) in enumerate(ranked)]
    return spark.createDataFrame(rows, out_schema)


def topk_multi_index(
    indexes: dict[str, Index], query: str, k: int = 10
) -> DataFrame:
    """Search SEVERAL indexes as one (ES multi-index search, `idx1,idx2` /
    index patterns): (index, doc_id, score), global top-k. Semantics match
    ES's DEFAULT query_then_fetch: every index scores with ITS OWN
    statistics (df, avgdl) — scores are comparable only as ES makes them
    (dfs_query_then_fetch, which globalizes stats, is a documented
    non-goal). Ties (score, index asc, doc_id asc).

    Scale shape: the ES shard fan-out argument — any global top-k hit is
    inside its own index's local top-k, so each index runs its normal
    pruned WAND top-k and only k-row frames union into one TakeOrdered.
    Indexes are searched by the same Spark session in one job graph; no
    cross-index shuffle, no stats exchange."""
    if not indexes:
        raise ValueError("multi-index search needs at least one index")
    frames = []
    for name in sorted(indexes):
        frames.append(
            topk_wand(indexes[name], query, k).select(
                F.lit(name).alias("index"), "doc_id", "score"
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy(
        F.desc("score"), F.asc("index"), F.asc("doc_id")
    ).limit(k)
