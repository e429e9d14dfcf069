"""ES match-query execution modes: operator=and / minimum_should_match
(webindex.query.topk_match) against the pure-python oracle, plus the msm
coverage prune exercised directly at the block-metadata level.

The reference's mapping-less ES index serves the whole `match` family
(reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:169-173, :250-262);
these modes share the WAND kernel — scoring identical, plus a distinct-term
count constraint."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webindex.build import build_index
from webindex.oracle import OracleIndex
from webindex.pagesgen import make_pages_pdf
from webindex.query import (
    _bucket_fn,
    _interval_prune,
    _match_spec,
    _query_terms,
    topk_match,
    topk_wand,
)
from webindex.textproc import tokenize

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


def _rows(df):
    return [(r["doc_id"], round(r["score"], 9)) for r in df.collect()]


def test_match_or_equals_wand(idx):
    q = "the data merge"
    assert _rows(topk_match(idx, q, 10, operator="or")) == _rows(
        topk_wand(idx, q, 10)
    )


@pytest.mark.parametrize("query", ["the data", "data merge scan", "the w150"])
def test_match_and_vs_oracle(idx, oracle, query):
    n_terms = len(set(tokenize(query)))
    want = [
        (d, round(s, 9))
        for d, s in oracle.topk_match(query, 10, minimum_should_match=n_terms)
    ]
    got = _rows(topk_match(idx, query, 10, operator="and"))
    assert got == want
    # semantic spot-check straight from the token streams: every hit
    # contains every query term
    for doc_id, _ in got:
        toks = set(oracle._toks[doc_id])
        assert set(tokenize(query)) <= toks


@pytest.mark.parametrize("msm", [1, 2, 3])
def test_match_msm_vs_oracle(idx, oracle, msm):
    query = "data merge w150"
    want = [
        (d, round(s, 9))
        for d, s in oracle.topk_match(query, 10, minimum_should_match=msm)
    ]
    got = _rows(topk_match(idx, query, 10, minimum_should_match=msm))
    assert got == want
    # and the constraint genuinely bites somewhere in the sweep
    if msm > 1:
        assert len(got) <= len(_rows(topk_match(idx, query, 10)))


def test_match_and_absent_term_is_empty(idx):
    # a required clause that can never match -> empty (Lucene semantics)
    assert _rows(topk_match(idx, "the zzqqxxunseen", 10, operator="and")) == []
    # ...while OR still returns the present term's hits
    assert len(_rows(topk_match(idx, "the zzqqxxunseen", 10))) > 0


def test_msm_interval_prune_disjoint_ranges():
    """Two terms whose blocks cover disjoint doc ranges: msm=2 prunes
    EVERYTHING at metadata (no interval covered by both), msm=1 keeps all."""
    tmins = np.array([0, 100], dtype=np.int64)
    tmaxs = np.array([49, 149], dtype=np.int64)
    timps = np.array([1.0, 1.0])
    tranks = np.array([0, 1], dtype=np.int64)
    assert _interval_prune(tmins, tmaxs, timps, tranks, 2, 0.0, (((0, 1), 2),)) is None
    kept = _interval_prune(tmins, tmaxs, timps, tranks, 2, 0.0, (((0, 1), 1),))
    assert kept is not None and kept[2].all()


def test_msm_interval_prune_partial_overlap():
    """Overlapping [0,99] and [50,149]: only the shared [50,99] interval
    survives msm=2, and both blocks still decode (each overlaps it)."""
    tmins = np.array([0, 50], dtype=np.int64)
    tmaxs = np.array([99, 149], dtype=np.int64)
    timps = np.array([1.0, 1.0])
    tranks = np.array([0, 1], dtype=np.int64)
    bounds, interval_keep, block_keep = _interval_prune(
        tmins, tmaxs, timps, tranks, 2, 0.0, (((0, 1), 2),)
    )
    kept_spans = [
        (bounds[i], bounds[i + 1] - 1)
        for i in range(len(interval_keep))
        if interval_keep[i]
    ]
    assert kept_spans == [(50, 99)]
    assert block_keep.all()


def test_and_bucket_kernel_prunes_decode(idx):
    """On the real index: an AND query over two terms only decodes blocks in
    intervals both terms cover — under-covered buckets yield nothing even
    though the OR kernel finds hits there."""
    query = "w150 w199"
    stats = _query_terms(idx, query)
    if len(stats) < 2:
        pytest.skip("fixture lacks both tail terms")
    hashes = [h for (_, _, h) in stats.values()]
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()
    and_fn = _bucket_fn(_match_spec(stats, msm=2), idx.conf, idx.avgdl, k=100)
    or_fn = _bucket_fn(_match_spec(stats, msm=1), idx.conf, idx.avgdl, k=100)
    and_hits = pd.concat(
        [and_fn(g.reset_index(drop=True)) for _, g in rows.groupby("bucket")]
    )
    or_hits = pd.concat(
        [or_fn(g.reset_index(drop=True)) for _, g in rows.groupby("bucket")]
    )
    assert set(and_hits["doc_id"]) <= set(or_hits["doc_id"])
    # scores of surviving docs are bit-identical between modes
    merged = and_hits.merge(or_hits, on="doc_id", suffixes=("_and", "_or"))
    assert np.array_equal(
        merged["score_and"].to_numpy(), merged["score_or"].to_numpy()
    )
