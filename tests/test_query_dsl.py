"""ES query-DSL completions (round 5): regexp, doc-values filter context
(range/exists), terms_set with a per-doc threshold field, pinned promotion,
weighted RRF — each vs the pure-python oracle / closed-form compositions.

reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:250-262 — the same
mapping-less ES index serves this whole query family."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from webindex.build import build_index
from webindex.oracle import OracleIndex
from webindex.pagesgen import make_pages_pdf
from webindex.query import (
    PIN_BASE,
    topk_filtered,
    topk_pinned,
    topk_regexp,
    topk_terms_set,
    topk_wand,
)

N_DOCS = 200


@pytest.fixture(scope="module")
def idx(spark):
    pdf = make_pages_pdf(0, N_DOCS)
    pdf.insert(0, "doc_id", np.arange(N_DOCS, dtype=np.int64))
    return build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=32,
    )


@pytest.fixture(scope="module")
def oracle():
    pdf = make_pages_pdf(0, N_DOCS)
    return OracleIndex({i: pdf["text"][i] for i in range(N_DOCS)})


@pytest.fixture(scope="module")
def stored(spark):
    pdf = make_pages_pdf(0, N_DOCS)
    pdf.insert(0, "doc_id", np.arange(N_DOCS, dtype=np.int64))
    pdf["n_toks"] = pdf["text"].str.split().str.len()
    return spark.createDataFrame(pdf[["doc_id", "n_toks"]])


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


@pytest.mark.parametrize("pattern", ["w1[0-9]{2}", "me(rge|tal)", "d.ta"])
def test_regexp_vs_oracle(idx, oracle, pattern):
    """Constant-score ids of docs holding a full-match term, doc_id asc."""
    rx = re.compile(pattern)
    want = sorted(
        d for d, ts in oracle._toks.items()
        if any(rx.fullmatch(t) for t in ts)
    )[:10]
    got = _rows(topk_regexp(idx, pattern, 10))
    assert got == [(d, 1.0) for d in want]


def test_regexp_no_match_empty(idx):
    assert _rows(topk_regexp(idx, "zz+q", 10)) == []


def test_filtered_range_vs_oracle(idx, oracle, stored):
    """bool must+filter == oracle scores restricted to the allowed set."""
    toklens = {d: len(ts) for d, ts in oracle._toks.items()}
    allowed = {d for d, n in toklens.items() if 100 <= n <= 120}
    scores = oracle.score_all("data merge")
    want = sorted(
        ((d, round(s, 9)) for d, s in scores.items() if d in allowed),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = _rows(
        topk_filtered(idx, "data merge", stored, "n_toks BETWEEN 100 AND 120", 10)
    )
    assert got == want
    assert 0 < len(got) <= 10


def test_filtered_exists(idx, oracle, stored, spark):
    """exists == isNotNull filter; NULLs (derived) are excluded."""
    st = stored.withColumn(
        "opt", F.when(F.col("doc_id") % 3 == 0, F.col("n_toks"))
    )
    scores = oracle.score_all("data merge")
    want = sorted(
        ((d, round(s, 9)) for d, s in scores.items() if d % 3 == 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = _rows(topk_filtered(idx, "data merge", st, F.col("opt").isNotNull(), 10))
    assert got == want


def test_filtered_empty_filter(idx, stored):
    assert _rows(topk_filtered(idx, "data merge", stored, "n_toks < 0", 10)) == []


def test_terms_set_vs_oracle(idx, oracle, stored):
    """score = matched subset's BM25 sum; per-doc threshold from a field."""
    terms = ["data", "merge", "w150"]
    st = stored.select(
        "doc_id", (1 + F.pmod(F.col("doc_id"), F.lit(2))).alias("req")
    )
    scores = oracle.score_all(" ".join(terms))
    counts = {
        d: sum(1 for t in set(terms) if t in set(ts))
        for d, ts in oracle._toks.items()
    }
    want = sorted(
        (
            (d, round(s, 9))
            for d, s in scores.items()
            if counts[d] >= 1 + d % 2
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )[:10]
    got = _rows(topk_terms_set(idx, terms, st, "req", 10))
    assert got == want
    assert len(got) > 0


def test_terms_set_threshold_bites(idx, oracle, stored, spark):
    """A threshold above the term count excludes everything."""
    st = stored.select("doc_id", F.lit(5).alias("req"))
    assert _rows(topk_terms_set(idx, ["data", "merge"], st, "req", 10)) == []


def _spark_jobs(spark, fn) -> int:
    """Spark jobs run by fn(), counted with the status tracker."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_terms_set_probes_dictionary_once(idx, stored, spark):
    """topk_terms_set scores from its own one dictionary probe: 6 Spark jobs
    per collect on this index (a second probe inside the scorer made it 7)."""
    st = stored.select("doc_id", (1 + F.pmod(F.col("doc_id"), F.lit(2))).alias("req"))

    def run():
        return topk_terms_set(idx, ["data", "merge", "w150"], st, "req", 10).collect()

    run()  # warm: caches and broadcasts settle before counting
    assert _spark_jobs(spark, run) == 6


def test_pinned_order_and_exclusion(idx, oracle):
    """Pins come first in the GIVEN order with distinct descending scores;
    organic follows, pinned excluded, total k."""
    organic = oracle.topk("data merge", 12)
    pins = [organic[5][0], organic[0][0]]  # pin a mid hit above the best
    got = _rows(topk_pinned(idx, pins, "data merge", 10))
    assert [d for d, _ in got[:2]] == pins
    assert got[0][1] > got[1][1] > got[2][1]
    want_organic = [
        (d, round(s, 9)) for d, s in organic if d not in set(pins)
    ][:8]
    assert got[2:] == want_organic
    assert len(got) == 10


def test_pinned_nonexistent_id_dropped(idx, oracle):
    """A pinned id absent from the corpus is dropped; organic fills k."""
    got = _rows(topk_pinned(idx, [10 ** 15], "data merge", 10))
    want = [(d, round(s, 9)) for d, s in oracle.topk("data merge", 10)]
    assert got == want


def test_pinned_scores_distinct_at_float64(idx):
    """The PIN_BASE/(1+i) encoding keeps pin ranks strict (base-minus-rank
    would collapse: ulp(3.4e38) >> rank)."""
    got = _rows(topk_pinned(idx, [1, 2, 3], "data merge", 10))
    assert got[0][0] == 1 and got[1][0] == 2 and got[2][0] == 3
    assert got[0][1] > got[1][1] > got[2][1] >= PIN_BASE / 4


def test_rrf_weights(spark, idx):
    """weights=(1,1) == unweighted; asymmetric weights re-rank toward the
    heavier ranking. Verified against a driver-side fuse of the two
    constituent rankings."""
    from webindex.simsearch import rrf_hybrid

    rng = np.random.default_rng(7)
    vecs = [
        (int(i), [float(x) for x in rng.standard_normal(8)])
        for i in range(N_DOCS)
    ]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    qv = [float(x) for x in rng.standard_normal(8)]

    plain = _rows(rrf_hybrid(idx, emb, "data merge", qv, k=10, window=30))
    w11 = _rows(
        rrf_hybrid(idx, emb, "data merge", qv, k=10, window=30, weights=(1, 1))
    )
    assert plain == w11

    # driver-side expected fuse for weights (0.9, 0.1)
    text = [r["doc_id"] for r in topk_wand(idx, "data merge", 30).collect()]
    from webindex.simsearch import cosine_topk_bruteforce

    knn = [
        r["vec_id"]
        for r in cosine_topk_bruteforce(emb, qv, 30).orderBy(
            F.desc("cos"), F.asc("vec_id")
        ).collect()
    ]
    fused: dict[int, float] = {}
    for rank, d in enumerate(text, 1):
        fused[d] = fused.get(d, 0.0) + 0.9 / (60 + rank)
    for rank, d in enumerate(knn, 1):
        fused[d] = fused.get(d, 0.0) + 0.1 / (60 + rank)
    want = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    got = _rows(
        rrf_hybrid(idx, emb, "data merge", qv, k=10, window=30,
                   weights=(0.9, 0.1))
    )
    assert got == [(d, round(s, 9)) for d, s in want]


def test_percolate_and_term_vectors(spark):
    """Reverse search + index read-back: percolate match rules per operator;
    term_vectors equals tokenize-and-count on handcrafted docs."""
    import pandas as pd

    from webindex.build import build_index
    from webindex.query import percolate, term_vectors
    from webindex.textproc import tokenize

    reg = spark.createDataFrame(
        [(1, ["data", "merge"], "or"), (2, ["data", "merge"], "and"),
         (3, ["absent"], "or"), (4, [], "or")],
        "query_id long, terms array<string>, operator string",
    )
    got = {r["query_id"]: r["n_hits"]
           for r in percolate(reg, "the data is interesting").collect()}
    assert got == {1: 1}  # 'or' matches on data; 'and' needs merge too
    got = {r["query_id"]: r["n_hits"]
           for r in percolate(reg, "merge the data now").collect()}
    assert got == {1: 2, 2: 2}
    assert percolate(reg, "").collect() == []

    texts = {0: "alpha beta alpha gamma", 1: "beta gamma gamma", 2: "delta alpha"}
    pdf = pd.DataFrame({"doc_id": list(texts), "url": [f"u{i}" for i in texts],
                        "text": list(texts.values())})
    idx = build_index(spark, spark.createDataFrame(pdf), text_col="text",
                      doc_id_method="provided", range_width=8, positions=True)
    got = {(r["doc_id"], r["term"]): (r["tf"], list(r["positions"]))
           for r in term_vectors(idx, [0, 2]).collect()}
    want = {}
    for d in (0, 2):
        toks = tokenize(texts[d])
        for t in set(toks):
            ps = [i for i, x in enumerate(toks) if x == t]
            want[(d, t)] = (len(ps), ps)
    assert got == want
    assert term_vectors(idx, []).collect() == []


def test_suggest_phrase(spark):
    """Phrase suggester: hand-computed scoring/ranking, dictionary tokens
    kept verbatim, dead tokens kill the suggestion, collate flags."""
    import math

    import pandas as pd

    from webindex.build import build_index
    from webindex.query import suggest_phrase

    texts = {
        0: "the merge is slow today",
        1: "merge the data slowly",
        2: "a slow merge of data",
        3: "spark data processing",
    }
    pdf = pd.DataFrame({"doc_id": list(texts), "url": [f"u{i}" for i in texts],
                        "text": list(texts.values())})
    idx = build_index(spark, spark.createDataFrame(pdf), text_col="text",
                      doc_id_method="provided", range_width=8)
    n = 4.0

    rows = suggest_phrase(idx, "merg slow", size=5).collect()
    got = [(r["suggestion"], r["score"], r["matched"]) for r in rows]
    # 'merg' -> merge(d1,df3); 'slow' in dictionary -> itself (df2)
    want_top = ("merge slow", round(math.log(3 / n) - 1 + math.log(2 / n), 6), True)
    assert got[0] == want_top
    # collate: 'merge spark' shares no doc -> matched False
    rows = suggest_phrase(idx, "mergo spark", size=5).collect()
    by = {r["suggestion"]: r["matched"] for r in rows}
    assert by.get("merge spark") is False

    assert suggest_phrase(idx, "zzzzzzzzzz merge").collect() == []  # dead token
    assert suggest_phrase(idx, "").collect() == []


def test_multi_index_search(spark):
    """Cross-index fan-out: per-index stats (ES query_then_fetch), global
    TakeOrdered equals a hand-merge of per-index topk_wand results."""
    import pandas as pd

    from webindex.build import build_index
    from webindex.query import topk_multi_index, topk_wand

    texts = {i: f"data merge w{i % 5} spark {'data ' * (i % 3)}" for i in range(40)}
    halves = {}
    for name, parity in (("a", 0), ("b", 1)):
        pdf = pd.DataFrame(
            {"doc_id": [i for i in texts if i % 2 == parity],
             "url": [f"u{i}" for i in texts if i % 2 == parity],
             "text": [texts[i] for i in texts if i % 2 == parity]}
        )
        halves[name] = build_index(
            spark, spark.createDataFrame(pdf), text_col="text",
            doc_id_method="provided", range_width=8,
        )
    got = [(r["index"], r["doc_id"], round(r["score"], 9))
           for r in topk_multi_index(halves, "data merge", 7).collect()]
    merged = []
    for name in ("a", "b"):
        for r in topk_wand(halves[name], "data merge", 7).collect():
            merged.append((name, r["doc_id"], round(r["score"], 9)))
    merged.sort(key=lambda t: (-t[2], t[0], t[1]))
    assert got == merged[:7]
    with pytest.raises(ValueError):
        topk_multi_index({}, "data")


def test_term_vectors_pre_round5_index_falls_back_unpruned(spark):
    """An index loaded without the round-5 conf sidecar (id_space=None)
    cannot map doc_id -> bucket; term_vectors must fall back to the
    min/max-doc block prune instead of crashing in bucket_of."""
    import dataclasses

    import pandas as pd

    from webindex.build import build_index
    from webindex.query import term_vectors

    texts = {0: "alpha beta alpha gamma", 1: "beta gamma gamma", 2: "delta alpha"}
    pdf = pd.DataFrame({"doc_id": list(texts), "url": [f"u{i}" for i in texts],
                        "text": list(texts.values())})
    idx = build_index(spark, spark.createDataFrame(pdf), text_col="text",
                      doc_id_method="provided", range_width=8, positions=True)
    legacy = dataclasses.replace(idx, id_space=None, bucket_bits=None)
    got = {(r["doc_id"], r["term"]): r["tf"]
           for r in term_vectors(legacy, [0, 2]).collect()}
    want = {(r["doc_id"], r["term"]): r["tf"]
            for r in term_vectors(idx, [0, 2]).collect()}
    assert got == want and got
