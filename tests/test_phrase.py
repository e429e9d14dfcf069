"""Positional postings + match_phrase: rank-identity vs the pure-Python
oracle, cross-block phrase matches, codec round-trips, streaming parity.

The reference's mapping-less ES index stores term positions for every text
field (reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:169-173), so
match_phrase is part of the query surface its index supports; semantics here
follow Lucene PhraseQuery under BM25 (phrase frequency as tf, summed idf)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webindex.bm25 import BM25Config
from webindex.build import build_index
from webindex.oracle import OracleIndex
from webindex.pagesgen import make_pages_pdf
from webindex.query import topk_exact, topk_phrase
from webindex.textproc import extract_text

N_DOCS = 150

PHRASES = [
    "the data",          # hot bigram
    "data spark",
    "the the",           # duplicate term in the phrase
    "index query search",  # trigram
    "the data the",      # duplicate + mixed
    "absent phrase here",
    "data",              # single-term phrase == plain term query
]


@pytest.fixture(scope="module")
def corpus():
    pdf = make_pages_pdf(0, N_DOCS)
    pdf.insert(0, "doc_id", np.arange(N_DOCS, dtype=np.int64))
    return pdf


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex(
        {int(r["doc_id"]): extract_text(r["html"]) for _, r in corpus.iterrows()}
    )


@pytest.fixture(scope="module")
def pidx(spark, corpus):
    return build_index(
        spark, spark.createDataFrame(corpus).repartition(5), text_col="html",
        doc_id_method="provided", range_width=32, positions=True,
    )


def _hits(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_phrase_matches_oracle(pidx, oracle):
    any_hits = False
    for p in PHRASES:
        got = _hits(topk_phrase(pidx, p, 10))
        want = [(d, round(s, 9)) for d, s in oracle.topk_phrase(p, 10)]
        assert got == want, p
        any_hits = any_hits or bool(got)
    assert any_hits  # the fixture corpus must actually contain phrases


def test_single_term_phrase_equals_term_query(pidx):
    assert _hits(topk_phrase(pidx, "data", 10)) == _hits(
        topk_exact(pidx, "data", 10)
    )


def test_phrase_across_blocks(spark, corpus, oracle):
    """block_size=4 forces every hot term's posting list across many blocks:
    the per-bucket concatenation of decoded blocks must keep positions
    aligned to their docs (block order = block_id order)."""
    idx = build_index(
        spark, spark.createDataFrame(corpus), text_col="html",
        doc_id_method="provided", range_width=16, positions=True,
        conf=BM25Config(block_size=4),
    )
    # sanity: multi-block posting lists exist per (term,bucket)
    multi = (
        idx.postings.groupBy("term_hash", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert multi > 0
    for p in ("the data", "index query search", "the the"):
        got = _hits(topk_phrase(idx, p, 10))
        want = [(d, round(s, 9)) for d, s in oracle.topk_phrase(p, 10)]
        assert got == want, p


def test_positions_roundtrip_through_blocks(spark):
    """Handcrafted docs: decoded block positions must equal the analyzer's
    token indexes exactly."""
    import pandas as pd

    from webindex import codec
    from webindex.textproc import tokenize

    texts = {
        0: "alpha beta alpha gamma alpha",
        1: "beta beta gamma",
        2: "gamma alpha",
    }
    pdf = pd.DataFrame(
        {
            "doc_id": list(texts),
            "url": [f"u{i}" for i in texts],
            "text": list(texts.values()),
        }
    )
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=8, positions=True,
    )
    hash_of = {
        r["term"]: r["term_hash"] for r in idx.term_stats.collect()
    }
    rows = idx.postings.collect()
    got: dict[tuple[str, int], list[int]] = {}
    inv = {h: t for t, h in hash_of.items()}
    for r in rows:
        ids, tfs, _ = codec.decode_block(
            bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["doc_lens"])
        )
        pos, starts = codec.decode_positions(bytes(r["positions"]), tfs)
        bounds = np.concatenate((starts, [len(pos)]))
        for i, d in enumerate(ids):
            got[(inv[r["term_hash"]], int(d))] = pos[
                bounds[i] : bounds[i + 1]
            ].tolist()
    for d, text in texts.items():
        toks = tokenize(text)
        for term in set(toks):
            want = [i for i, t in enumerate(toks) if t == term]
            assert got[(term, d)] == want, (term, d)


def test_phrase_requires_positional_index(spark, corpus):
    idx = build_index(
        spark, spark.createDataFrame(corpus.iloc[:20]), text_col="html",
        doc_id_method="provided", range_width=16,
    )
    with pytest.raises(ValueError, match="positional"):
        topk_phrase(idx, "the data", 5)


def test_streaming_positional_compact_matches_batch(spark, tmp_path, oracle):
    """Incremental positional index (two micro-batches + tiered compact)
    answers phrase queries identically to the batch positional build —
    positions survive the touched-bucket decode/merge as opaque byte spans."""
    from webindex.streaming import IncrementalIndexer

    pdf = make_pages_pdf(0, 90)
    src = str(tmp_path / "psrc")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(
        spark, str(tmp_path / "pinc"), text_col="html", positions=True
    )
    indexer.start(src).awaitTermination(120)
    indexer.compact()

    pdf2 = make_pages_pdf(90, 110)
    spark.createDataFrame(pdf2).coalesce(1).write.mode("append").parquet(src)
    indexer.start(src).awaitTermination(120)
    idx = indexer.compact()
    comp = spark.read.parquet(f"{tmp_path}/pinc/compactions").collect()
    assert any(r["kind"] == "incremental" for r in comp)  # merge path ran

    batch = build_index(
        spark,
        spark.createDataFrame(make_pages_pdf(0, 110)),
        text_col="html",
        doc_id_method="hash",
        positions=True,
    )
    for p in ("the data", "index query", "the the"):
        assert _hits(topk_phrase(idx, p, 10)) == _hits(
            topk_phrase(batch, p, 10)
        ), p
    # round-5 positional families must read the merged incremental index
    # identically to the batch build (positions survive compaction)
    from webindex.query import intervals_docs, span_near_docs

    def spans(ix):
        return [(r["doc_id"], r["n_spans"])
                for r in span_near_docs(ix, ["the", "data"], 2, True).collect()]

    assert spans(idx) == spans(batch) and spans(idx)

    spec = {"any_of": {"intervals": [
        {"match": {"terms": ["index", "query"], "max_gaps": 1, "ordered": True}},
        {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
    ]}}

    def ivs(ix):
        return [(r["doc_id"], r["n_intervals"])
                for r in intervals_docs(ix, spec).collect()]

    assert ivs(idx) == ivs(batch) and ivs(idx)


def test_phrase_block_prune_skips_disjoint_ranges(spark):
    """Metadata range prune: blocks of a hot term whose doc range cannot
    contain the rare anchor term are never decoded; results identical."""
    import pandas as pd

    from webindex.query import _phrase_match_bucket, _query_terms

    texts = {}
    for i in range(64):
        if i < 4:
            texts[i] = "qqanchor the start " + " ".join(f"w{j%13}" for j in range(20))
        else:
            texts[i] = "the " + " ".join(f"w{j%13}" for j in range(20))
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "url": [f"u{i}" for i in texts], "text": list(texts.values())}
    )
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=4096, positions=True,
        conf=BM25Config(block_size=4),
    )
    stats = _query_terms(idx, "qqanchor the")
    hashes = [stats[t][2] for t in ("qqanchor", "the")]
    sum_idf = stats["qqanchor"][1] + stats["the"][1]
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()
    assert rows["bucket"].nunique() == 1  # single bucket: prune is in-bucket

    probe = {}
    local = _phrase_match_bucket(
        rows, [("q", hashes, sum_idf, 0)], idx.conf, idx.avgdl, 10, _probe=probe
    )["q"]
    # 'the' alone has 16 blocks; only those overlapping docs 0-3 survive
    assert probe["blocks_total"] >= 17
    assert probe["blocks_decoded"] <= 3, probe
    # results equal the full engine path and the oracle
    got = [(int(d), round(float(s), 9)) for d, s in zip(*local)]
    eng = _hits(topk_phrase(idx, "qqanchor the", 10))
    oracle = OracleIndex(texts)
    want = [(d, round(s, 9)) for d, s in oracle.topk_phrase("qqanchor the", 10)]
    assert sorted(got) == sorted([(d, s) for d, s in eng]) and eng == want


def test_phrase_on_quantized_norms_index(spark, corpus):
    """positions + quantize_norms compose: the phrase path decodes 1-byte
    norm codes via the same conf flag, and quantized-dl scores follow the
    quantized-oracle formula exactly."""
    import math

    from webindex import codec
    from webindex.textproc import extract_text, tokenize

    idx = build_index(
        spark, spark.createDataFrame(corpus), text_col="html",
        doc_id_method="provided", range_width=32, positions=True,
        conf=BM25Config(quantize_norms=True),
    )
    texts = {int(r["doc_id"]): extract_text(r["html"]) for _, r in corpus.iterrows()}
    # oracle with QUANTIZED doc lengths (decode(encode(dl)) — what the
    # engine's blocks store); avgdl stays the exact corpus value
    import numpy as np_

    toks = {d: tokenize(t) for d, t in texts.items()}
    avgdl = sum(len(t) for t in toks.values()) / len(toks)
    N = len(toks)
    phrase = ["the", "data"]
    dfs = {t: sum(1 for tk in toks.values() if t in tk) for t in phrase}
    sidf = sum(math.log(1.0 + (N - dfs[t] + 0.5) / (dfs[t] + 0.5)) for t in phrase)
    want = []
    for d, tk in toks.items():
        ptf = sum(1 for i in range(len(tk) - 1) if tk[i : i + 2] == phrase)
        if ptf:
            qdl = int(codec.DL_DECODE_LUT[codec.dl_quantize(np_.array([len(tk)]))[0]])
            want.append((d, sidf * ptf / (ptf + 1.2 * (1 - 0.75 + 0.75 * qdl / avgdl))))
    want.sort(key=lambda x: (-x[1], x[0]))
    got = _hits(topk_phrase(idx, "the data", 10))
    assert got == [(d, round(s, 9)) for d, s in want[:10]]


SLOP_PHRASES = [
    "the data",
    "data the",            # reversed order: only matchable with slop
    "index query search",
    "the w1 data",
    "the the",             # duplicate term
    "data",                # single-term sloppy == plain term query
]


def test_phrase_slop_matches_oracle(pidx, oracle):
    """slop>0 rank-identity vs the naive closest-assignment oracle, across
    slop levels; slop must be monotone in recall (hits(s1) ⊆ docs(s2) for
    s1<=s2 is NOT generally true for top-k cutoffs, so we check full-rank
    equality per slop level instead)."""
    any_hits = False
    for p in SLOP_PHRASES:
        for slop in (1, 2, 5):
            got = _hits(topk_phrase(pidx, p, 10, slop=slop))
            want = [(d, round(s, 9)) for d, s in oracle.topk_phrase_slop(p, slop, 10)]
            assert got == want, (p, slop)
            any_hits = any_hits or bool(got)
    assert any_hits


def test_phrase_slop_reversed_order_matches(pidx, oracle):
    """A reversed bigram ("data the" where the corpus has "the data") is
    invisible at slop=0 but matches at slop>=2 with our adjusted-position
    semantics (reordering costs 2 moves) — the sloppy path must find it."""
    exact = _hits(topk_phrase(pidx, "data the", 10))
    sloppy = _hits(topk_phrase(pidx, "data the", 10, slop=2))
    want = [(d, round(s, 9)) for d, s in oracle.topk_phrase_slop("data the", 2, 10)]
    assert sloppy == want
    # the corpus contains "the data" bigrams, so the sloppy variant must
    # score at least as many docs as the exact reversed phrase
    assert len(sloppy) >= len(exact)
    assert len(sloppy) > 0


def test_phrase_batch_parity(pidx):
    """topk_phrase_batch == per-query topk_phrase, byte-identical (driver-
    style parity: same doc_ids, same scores, same ranks)."""
    from webindex.query import topk_phrase_batch

    phrases = {
        "p1": "the data",
        "p2": "index query search",
        "p3": "the the",
        "p4": "absent phrase here",
    }
    batch = topk_phrase_batch(pidx, phrases, k=10)
    rows = batch.collect()
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, p in phrases.items():
        single = [(r["doc_id"], r["score"]) for r in topk_phrase(pidx, p, 10).collect()]
        assert got.get(qid, []) == single, qid


def test_phrase_batch_slop_parity(pidx):
    from webindex.query import topk_phrase_batch

    phrases = {"s1": "data the", "s2": "the w1 data"}
    batch = topk_phrase_batch(pidx, phrases, k=10, slop=2)
    rows = batch.collect()
    got: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, p in phrases.items():
        single = [
            (r["doc_id"], r["score"])
            for r in topk_phrase(pidx, p, 10, slop=2).collect()
        ]
        assert got.get(qid, []) == single, qid


def test_phrase_impact_prune_hot_hot(spark):
    """Impact-UB chunked pruning (round 4): a hot-hot phrase ("aa bb" in
    every doc) must stop decoding low-impact blocks once the local top-k's
    θ exceeds their interval bound — decoded blocks strictly drop while
    results stay byte-identical to the oracle."""
    import pandas as pd

    from webindex.query import _phrase_match_bucket, _query_terms

    texts = {}
    for i in range(64):
        if i < 8:
            # short docs, phrase tf 3 -> high impact
            texts[i] = "aa bb aa bb aa bb"
        else:
            # long docs, phrase tf 1 -> low impact
            texts[i] = "aa bb " + " ".join(f"w{j % 17}" for j in range(120))
    pdf = pd.DataFrame(
        {"doc_id": list(texts), "url": [f"u{i}" for i in texts],
         "text": list(texts.values())}
    )
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=4096, positions=True,
        conf=BM25Config(block_size=4),
    )
    stats = _query_terms(idx, "aa bb")
    hashes = [stats[t][2] for t in ("aa", "bb")]
    sum_idf = stats["aa"][1] + stats["bb"][1]
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()
    assert rows["bucket"].nunique() == 1

    probe = {}
    local = _phrase_match_bucket(
        rows, [("q", hashes, sum_idf, 0)], idx.conf, idx.avgdl, 5, _probe=probe
    )["q"]
    # both terms cover every doc (16 blocks each at block_size=4): without
    # the impact prune all 32 would decode; the high-impact intervals
    # (docs 0-7) fill k=5 first and θ prunes the low-impact tail
    assert probe["blocks_total"] == 32, probe
    assert probe["blocks_decoded"] < probe["blocks_total"], probe
    got = sorted(
        [(int(d), round(float(s), 9)) for d, s in zip(*local)],
        key=lambda x: (-x[1], x[0]),
    )
    oracle = OracleIndex(texts)
    want = [(d, round(s, 9)) for d, s in oracle.topk_phrase("aa bb", 5)]
    assert got == want
    # and the full engine path agrees
    assert _hits(topk_phrase(idx, "aa bb", 5)) == want


def _span_brute(corpus, terms, slop, in_order):
    from webindex.textproc import tokenize

    out = {}
    n = len(terms)
    for i in range(N_DOCS):
        toks = tokenize(corpus["text"][i])
        pos = {w: [j for j, x in enumerate(toks) if x == w] for w in set(terms)}
        if any(not pos.get(w) for w in terms):
            continue
        cnt = 0
        for p0 in pos[terms[0]]:
            if in_order:
                cur, ok = p0, True
                for w in terms[1:]:
                    nxt = [q for q in pos[w] if q > cur]
                    if not nxt:
                        ok = False
                        break
                    cur = min(nxt)
                if ok and cur - p0 - (n - 1) <= slop:
                    cnt += 1
            else:
                chosen = [p0] + [
                    min(pos[w], key=lambda q: (abs(q - p0), q)) for w in terms[1:]
                ]
                if max(chosen) - min(chosen) <= slop + n - 1:
                    cnt += 1
        if cnt:
            out[i] = cnt
    return out


def test_span_near_matches_brute_force(pidx, corpus):
    """span_near (ordered greedy-minimal chains / unordered closest
    assignment) agrees with a per-doc brute force on every contract case:
    n=2/3, slop 0..4, duplicate terms, both orders."""
    from webindex.query import span_near_docs

    cases = [
        (["the", "data"], 0, True),
        (["the", "data"], 2, True),
        (["data", "the", "merge"], 3, True),
        (["the", "the"], 2, True),
        (["the", "data"], 1, False),
        (["data", "merge", "spark"], 4, False),
    ]
    any_hits = False
    for terms, slop, in_order in cases:
        got = {
            r["doc_id"]: r["n_spans"]
            for r in span_near_docs(pidx, terms, slop, in_order).collect()
        }
        assert got == _span_brute(corpus, terms, slop, in_order), (terms, slop, in_order)
        any_hits = any_hits or bool(got)
    assert any_hits


def test_span_near_needs_positions(spark, corpus):
    from webindex.query import span_near_docs

    flat = build_index(
        spark, spark.createDataFrame(corpus), text_col="text",
        doc_id_method="provided", range_width=32, positions=False,
    )
    with pytest.raises(ValueError, match="positional"):
        span_near_docs(flat, ["the", "data"], 1)


def _iv_brute(corpus, spec):
    from webindex.textproc import tokenize

    def pos_of(toks, w):
        return [j for j, x in enumerate(toks) if x == w]

    def ev(node, toks):
        kind, body = next(iter(node.items()))
        if kind == "match":
            terms, g, n = body["terms"], body.get("max_gaps", 0), len(body["terms"])
            if n == 1:
                return [(p, p) for p in pos_of(toks, terms[0])]
            if body.get("ordered", True):
                spans = []
                for p0 in pos_of(toks, terms[0]):
                    cur, ok = p0, True
                    for w in terms[1:]:
                        nxt = [q for q in pos_of(toks, w) if q > cur]
                        if not nxt:
                            ok = False
                            break
                        cur = min(nxt)
                    if ok and cur - p0 + 1 - n <= g:
                        spans.append((p0, cur))
                return spans
            spans = []
            for p0 in pos_of(toks, terms[0]):
                chosen, ok = [p0], True
                for w in terms[1:]:
                    ps = pos_of(toks, w)
                    if not ps:
                        ok = False
                        break
                    chosen.append(min(ps, key=lambda q: (abs(q - p0), q)))
                if ok and max(chosen) - min(chosen) + 1 - n <= g:
                    spans.append((min(chosen), max(chosen)))
            return spans
        if kind == "any_of":
            out = []
            for c in body["intervals"]:
                out.extend(ev(c, toks))
            return out
        g = body.get("max_gaps", 0)
        childs = [ev(c, toks) for c in body["intervals"]]
        spans = []
        if body.get("ordered", True):
            for s0, e0 in childs[0]:
                cur_end, gaps, ok = e0, 0, True
                for ch in childs[1:]:
                    cands = sorted(sp for sp in ch if sp[0] > cur_end)
                    if not cands:
                        ok = False
                        break
                    s, e = cands[0]
                    gaps += s - cur_end - 1
                    cur_end = e
                if ok and gaps <= g:
                    spans.append((s0, cur_end))
            return spans
        for s0, e0 in childs[0]:
            env_s, env_e, lens, ok = s0, e0, e0 - s0 + 1, True
            for ch in childs[1:]:
                if not ch:
                    ok = False
                    break
                s, e = min(ch, key=lambda sp: (abs(sp[0] - s0), sp[0], sp[1]))
                env_s, env_e = min(env_s, s), max(env_e, e)
                lens += e - s + 1
            if ok and (env_e - env_s + 1) - lens <= g:
                spans.append((env_s, env_e))
        return sorted(spans)

    out = {}
    for i in range(N_DOCS):
        spans = ev(spec, tokenize(corpus["text"][i]))
        if spans:
            out[i] = len(spans)
    return out


def test_intervals_matches_brute_force(pidx, corpus):
    from webindex.query import intervals_docs

    specs = [
        {"match": {"terms": ["the", "data"], "max_gaps": 2, "ordered": True}},
        {"match": {"terms": ["data", "merge"], "max_gaps": 3, "ordered": False}},
        {"any_of": {"intervals": [
            {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
            {"match": {"terms": ["merge"]}},
        ]}},
        {"all_of": {"max_gaps": 4, "ordered": True, "intervals": [
            {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
            {"match": {"terms": ["merge"]}},
        ]}},
        {"all_of": {"max_gaps": 6, "ordered": True, "intervals": [
            {"match": {"terms": ["fast"]}},
            {"any_of": {"intervals": [
                {"match": {"terms": ["slow"]}},
                {"match": {"terms": ["spark", "merge"], "max_gaps": 1, "ordered": True}},
            ]}},
        ]}},
        # all_of UNORDERED (closest-assignment envelope, overlap allowed)
        {"all_of": {"max_gaps": 5, "ordered": False, "intervals": [
            {"match": {"terms": ["fast"]}},
            {"match": {"terms": ["slow"]}},
        ]}},
        # unordered match nested INSIDE an ordered chain: exercises the
        # (start, end) re-sort of closest-assignment outputs
        {"all_of": {"max_gaps": 8, "ordered": True, "intervals": [
            {"match": {"terms": ["data", "merge"], "max_gaps": 2, "ordered": False}},
            {"match": {"terms": ["fast"]}},
        ]}},
        # 3-child unordered all_of with a multi-term child
        {"all_of": {"max_gaps": 10, "ordered": False, "intervals": [
            {"match": {"terms": ["fast"]}},
            {"match": {"terms": ["slow"]}},
            {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
        ]}},
    ]
    any_hits = False
    for spec in specs:
        got = {r["doc_id"]: r["n_intervals"]
               for r in intervals_docs(pidx, spec).collect()}
        assert got == _iv_brute(corpus, spec), spec
        any_hits = any_hits or bool(got)
    assert any_hits


def test_intervals_rejects_unsupported(pidx):
    from webindex.query import intervals_docs

    with pytest.raises(ValueError, match="unknown"):
        intervals_docs(pidx, {"fuzzy_rule": {}})


def test_intervals_filter_rules(pidx, corpus):
    """All five filter relations + complements vs brute force (the brute
    applies the relation per span against the filter spec's span set)."""
    from webindex.query import intervals_docs
    from webindex.textproc import tokenize

    def pos_of(toks, w):
        return [j for j, x in enumerate(toks) if x == w]

    def base_spans(toks):
        spans = []
        for p0 in pos_of(toks, "the"):
            nxt = [q for q in pos_of(toks, "data") if q > p0]
            if nxt and min(nxt) - p0 - 1 <= 3:
                spans.append((p0, min(nxt)))
        return spans

    for rule in ["containing", "not_containing", "contained_by", "overlapping",
                 "before", "not_before", "after", "not_after"]:
        spec = {"match": {"terms": ["the", "data"], "max_gaps": 3, "ordered": True,
                          "filter": {rule: {"match": {"terms": ["merge"]}}}}}
        got = {r["doc_id"]: r["n_intervals"]
               for r in intervals_docs(pidx, spec).collect()}
        want = {}
        neg = rule.startswith("not_")
        base = rule[4:] if neg else rule
        for i in range(N_DOCS):
            toks = tokenize(corpus["text"][i])
            fsp = [(p, p) for p in pos_of(toks, "merge")]

            def rel(sp):
                s, e = sp
                if base == "containing":
                    r = any(s <= fs and fe <= e for fs, fe in fsp)
                elif base == "contained_by":
                    r = any(fs <= s and e <= fe for fs, fe in fsp)
                elif base == "overlapping":
                    r = any(fs <= e and fe >= s for fs, fe in fsp)
                elif base == "before":
                    r = any(e < fs for fs, _ in fsp)
                else:
                    r = any(fe < s for _, fe in fsp)
                return (not r) if neg else r

            n = sum(1 for sp in base_spans(toks) if rel(sp))
            if n:
                want[i] = n
        assert got == want, rule


def test_intervals_oov_leaf(pidx, corpus):
    """An out-of-vocabulary leaf yields no intervals — it must not empty
    the whole query (ES semantics): an any_of sibling still matches, a
    not_* filter with no spans keeps every positive span, an all_of child
    kills only its own chain, and a fully-OOV query is empty."""
    from webindex.query import intervals_docs

    oov = {"match": {"terms": ["zzzabsentterm"]}}
    spec_any = {"any_of": {"intervals": [{"match": {"terms": ["data"]}}, oov]}}
    spec_all = {"all_of": {"max_gaps": 3, "ordered": True,
                           "intervals": [{"match": {"terms": ["data"]}}, oov]}}
    for spec in (spec_any, spec_all):
        got = {r["doc_id"]: r["n_intervals"]
               for r in intervals_docs(pidx, spec).collect()}
        assert got == _iv_brute(corpus, spec), spec
    got_any = {r["doc_id"]: r["n_intervals"]
               for r in intervals_docs(pidx, spec_any).collect()}
    assert got_any  # the present branch does match somewhere

    # not_before vs an OOV filter keeps ALL positive spans...
    pos = {"match": {"terms": ["the", "data"], "max_gaps": 3, "ordered": True}}
    spec_not = {"match": {"terms": ["the", "data"], "max_gaps": 3,
                          "ordered": True, "filter": {"not_before": oov}}}
    got = {r["doc_id"]: r["n_intervals"]
           for r in intervals_docs(pidx, spec_not).collect()}
    assert got == _iv_brute(corpus, pos) and got
    # ...and the positive relation against no filter spans matches nothing
    spec_bef = {"match": {"terms": ["the", "data"], "max_gaps": 3,
                          "ordered": True, "filter": {"before": oov}}}
    assert intervals_docs(pidx, spec_bef).collect() == []
    # fully-OOV query: no leaf exists anywhere -> empty
    assert intervals_docs(pidx, oov).collect() == []
