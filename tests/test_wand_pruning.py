"""Interval-level block-max pruning engages and stays exact.

Drives the shared bucket kernel (webindex.query._bucket_fn) directly on
real block rows so the pruning branch (theta>0) is observably exercised
(not just equal-output)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from webindex.build import build_index
from webindex.pagesgen import make_pages_pdf
from webindex.query import (
    _bucket_fn,
    _match_spec,
    _query_terms,
    topk_exact,
    topk_wand,
)


@pytest.fixture(scope="module")
def idx(spark):
    pdf = make_pages_pdf(0, 256)
    pdf.insert(0, "doc_id", np.arange(256, dtype=np.int64))
    return build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=32,
    )


def _bucket_frames(idx, hashes):
    rows = idx.postings.filter(F.col("term_hash").isin(hashes)).toPandas()
    return {b: g.reset_index(drop=True) for b, g in rows.groupby("bucket")}


def _hashes(stats):
    return [h for (_, _, h) in stats.values()]


def test_prune_all_when_theta_unreachable(idx):
    stats = _query_terms(idx, "the data")
    fn = _bucket_fn(_match_spec(stats, theta=1e9), idx.conf, idx.avgdl, k=10)
    for pdf in _bucket_frames(idx, _hashes(stats)).values():
        assert len(fn(pdf)) == 0  # every interval UB < theta -> all pruned


def test_partial_prune_keeps_survivors_exact(idx):
    # rare + hot mix: intervals without the rare term have UB = hot-only,
    # far below a theta anchored at the rare docs' scores -> real pruning
    query = "w199 the"
    stats = _query_terms(idx, query)
    assert "w199" in stats, "fixture corpus must contain the rare tail term"
    frames = _bucket_frames(idx, _hashes(stats))
    exact_fn = _bucket_fn(_match_spec(stats), idx.conf, idx.avgdl, k=1000)
    all_scores = pd.concat([exact_fn(p) for p in frames.values()])
    theta = float(all_scores["score"].max()) * 0.5
    pruned_fn = _bucket_fn(_match_spec(stats, theta), idx.conf, idx.avgdl, k=1000)
    pruned = pd.concat([pruned_fn(p) for p in frames.values()])
    # every >=theta doc survives with a bit-identical score...
    keep = all_scores[all_scores["score"] >= theta].sort_values("doc_id")
    got = pruned[pruned["score"] >= theta].sort_values("doc_id")
    assert len(keep) >= 1
    assert list(got["doc_id"]) == list(keep["doc_id"])
    assert np.allclose(got["score"].to_numpy(), keep["score"].to_numpy(), atol=0)
    # ...and hot-only docs were actually pruned
    assert len(pruned) < len(all_scores)


def test_theta_seed_is_exact_and_bounded(spark):
    """The metadata-first θ-seed must (a) return the exact k-th best
    single-term contribution — the k-th score of the one-term query, which
    scores each doc by that contribution alone — and (b) decode a strict
    subset of a hot term's blocks. Fine bucketing (range_width=8 -> ~32
    blocks for a df~N term) so the growing prefix has room to stop early."""
    from webindex.query import _theta_seeds

    pdf = make_pages_pdf(0, 256)
    pdf.insert(0, "doc_id", np.arange(256, dtype=np.int64))
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="text",
        doc_id_method="provided", range_width=8,
    )
    k = 5
    stats = _query_terms(idx, "the")
    df, idf, h = stats["the"]
    assert df > k
    exact_kth = [r["score"] for r in topk_exact(idx, "the", k).collect()][-1]
    probe = {}
    got = _theta_seeds(idx, {h: idf}, k, _probe=probe)
    assert got == {h: exact_kth}
    n_blocks = idx.postings.filter(F.col("term_hash") == h).count()
    assert n_blocks >= 16
    assert probe["blocks_decoded"] < n_blocks, (
        f"seed decoded {probe['blocks_decoded']} of {n_blocks} blocks — not bounded"
    )


def test_wand_exact_agree_under_heavy_theta_conditions(idx):
    # rare+hot mixes where theta seeding engages hardest; seed_min_blocks=0
    # forces the seed past the cost-based gate on this tiny fixture
    for q in ("w199 the", "w180 data the", "merge rank w150", "the"):
        w = [
            (r["doc_id"], round(r["score"], 10))
            for r in topk_wand(idx, q, 5, seed_min_blocks=0).collect()
        ]
        e = [(r["doc_id"], round(r["score"], 10)) for r in topk_exact(idx, q, 5).collect()]
        assert w == e, q


def test_seed_gate_disarms_below_min_blocks(idx, monkeypatch):
    """Cost gate (VERDICT r2 next-round #2): below THETA_SEED_MIN_BLOCKS
    estimated candidate blocks, topk_wand and topk_batch must seed NO term
    (so run no seed job) — the seed jobs cost more than the decode they
    could save. At the default gate, an sf0.1/100k-doc index (hot term df
    ~1e5 -> ~800 blocks) never seeds; the 10^12-doc regime (~1e9+ blocks)
    always does. Both reach the one seed, _theta_seeds."""
    import webindex.query as Q

    calls = []

    def spy(index, idfs, k, _probe=None):
        calls.append(dict(idfs))
        return {h: 0.0 for h in idfs}

    monkeypatch.setattr(Q, "_theta_seeds", spy)
    # default gate: this 256-doc fixture is far below 4096 candidate blocks
    Q.topk_wand(idx, "the data", 5).collect()
    Q.topk_batch(idx, {"q0": "the data", "q1": "w42 merge"}, 5).collect()
    assert calls == [{}, {}]  # an EMPTY term set -> no jobs
    # forced gate (tests/tiny fixtures): the seed engages, the rarest term
    rarest = min(_query_terms(idx, "the data").values())
    Q.topk_wand(idx, "the data", 5, seed_min_blocks=0).collect()
    Q.topk_batch(idx, {"q0": "the data"}, 5, seed_min_blocks=0).collect()
    assert calls[2:] == [{rarest[2]: rarest[1]}] * 2
