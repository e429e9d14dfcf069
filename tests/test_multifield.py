"""best_fields (dis_max) multi-field query + point lookups (reference T1/S10)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from webindex.build import build_index
from webindex.oracle import OracleIndex
from webindex.pagesgen import make_pages_pdf
from webindex.query import lookup_doc, lookup_url, topk_best_fields


@pytest.fixture(scope="module")
def two_field(spark):
    pdf = make_pages_pdf(0, 120)
    pdf.insert(0, "doc_id", np.arange(120, dtype=np.int64))
    # field A = text; field B = url-ish short field (title analogue)
    pdf["title"] = ["doc " + " ".join(t.split()[:3]) for t in pdf["text"]]
    pages = spark.createDataFrame(pdf)
    idx_text = build_index(
        spark, pages, text_col="text", doc_id_method="provided", range_width=64
    )
    idx_title = build_index(
        spark,
        pages.withColumn("text", F.col("title")),
        text_col="text",
        doc_id_method="provided",
        range_width=64,
    )
    o_text = OracleIndex({i: pdf["text"][i] for i in range(120)})
    o_title = OracleIndex({i: pdf["title"][i] for i in range(120)})
    return {"text": idx_text, "title": idx_title}, (o_text, o_title)


def test_best_fields_matches_oracle_dismax(two_field):
    indexes, (o_text, o_title) = two_field
    for q in ("the data", "doc", "spark merge doc"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_best_fields(indexes, q, 10).collect()
        ]
        s_text, s_title = o_text.score_all(q), o_title.score_all(q)
        merged = {d: max(s_text.get(d, -1), s_title.get(d, -1)) for d in set(s_text) | set(s_title)}
        exp = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (_, gs), (_, es) in zip(got, exp):
            assert abs(gs - es) < 1e-9


def test_point_lookups(two_field):
    indexes, _ = two_field
    idx = indexes["text"]
    row = lookup_doc(idx, 5).collect()
    assert len(row) == 1 and row[0]["doc_id"] == 5
    url = row[0]["url"]
    back = lookup_url(idx, url).collect()
    assert len(back) == 1 and back[0]["doc_id"] == 5


def _pushed_filters(frame):
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        frame.explain("formatted")
    return [ln for ln in buf.getvalue().splitlines() if "PushedFilters" in ln]


def test_lookup_url_probes_doc_id(spark, tmp_path):
    """Disk-backed url lookup on a hash index: every doc_id is
    xxhash64(url), so the doc_stats scan carries the url's id as a pushed
    long literal (xxhash64 of the literal constant-folds) — the same
    doc_id-sorted row-group pruning lookup_doc gets — beside the url
    equality."""
    out = str(tmp_path / "idx")
    pdf = make_pages_pdf(0, 200)
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="html",
        doc_id_method="hash", out_dir=out,
    )
    assert idx.url_hash_ids
    row = idx.doc_stats.orderBy("doc_id").limit(1).collect()[0]
    url, doc_id = row["url"], row["doc_id"]

    pushed = _pushed_filters(lookup_url(idx, url))
    assert len(pushed) == 1, pushed
    assert f"EqualTo(doc_id,{doc_id})" in pushed[0], pushed
    assert f"EqualTo(url,{url})" in pushed[0], pushed

    got = lookup_url(idx, url).collect()
    assert len(got) == 1 and got[0]["doc_id"] == doc_id
    assert got[0]["doc_len"] > 0
    assert lookup_url(idx, "https://absent.example/x").collect() == []


@pytest.mark.parametrize("on_disk", [False, True])
def test_lookup_url_caller_ids_under_hash_method(spark, tmp_path, on_disk):
    """Caller-supplied doc_ids under the default hash method (assign_doc_ids
    keeps them): id_space is "hash" but no doc_id is xxhash64(url), so
    lookup_url must not probe by id — it filters on the url alone and finds
    every doc under its caller id, in memory and after load_index."""
    from webindex.build import load_index

    pdf = make_pages_pdf(0, 120)
    pdf.insert(0, "doc_id", np.arange(120, dtype=np.int64))
    out = str(tmp_path / "idx") if on_disk else None
    idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="html", range_width=64,
        out_dir=out,
    )
    if on_disk:
        idx = load_index(spark, out)
    assert idx.id_space == "hash" and not idx.url_hash_ids
    for i in (0, 7, 119):
        got = lookup_url(idx, pdf["url"][i]).collect()
        assert [(r["doc_id"], r["url"]) for r in got] == [(i, pdf["url"][i])]
    assert not any("EqualTo(doc_id" in p for p in _pushed_filters(
        lookup_url(idx, pdf["url"][0])
    ))
    assert lookup_url(idx, "https://absent.example/x").collect() == []


def test_most_fields_matches_oracle_sum(two_field):
    from webindex.query import topk_most_fields

    indexes, (o_text, o_title) = two_field
    for q in ("the data", "doc", "spark merge doc"):
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_most_fields(indexes, q, 10).collect()
        ]
        s_text, s_title = o_text.score_all(q), o_title.score_all(q)
        # sum in field-name-ascending order: "text" then "title"
        merged = {
            d: s_text.get(d, 0.0) + s_title.get(d, 0.0)
            for d in set(s_text) | set(s_title)
        }
        exp = sorted(merged.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        assert got == [(d, round(s, 9)) for d, s in exp], q
    # sum-merge vs max-merge must actually disagree on this fixture (else
    # a silent regression to best_fields would pass), and the engine must
    # land on the sum side
    q = "spark merge doc"
    s_text, s_title = o_text.score_all(q), o_title.score_all(q)
    docs = set(s_text) | set(s_title)
    sum_rank = [
        d for d, _ in sorted(
            ((d, s_text.get(d, 0.0) + s_title.get(d, 0.0)) for d in docs),
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
    ]
    max_rank = [
        d for d, _ in sorted(
            ((d, max(s_text.get(d, -1e308), s_title.get(d, -1e308))) for d in docs),
            key=lambda kv: (-kv[1], kv[0]),
        )[:10]
    ]
    assert sum_rank != max_rank  # fixture sanity: the two semantics differ
    bf = [r["doc_id"] for r in topk_best_fields(indexes, q, 10).collect()]
    mf = [r["doc_id"] for r in topk_most_fields(indexes, q, 10).collect()]
    assert mf == sum_rank and bf == max_rank and mf != bf


def test_cross_fields_blended_term_centric(two_field):
    from webindex.bm25 import DEFAULT
    from webindex.query import topk_cross_fields
    from webindex.textproc import tokenize

    indexes, (o_text, o_title) = two_field
    oracles = {"text": o_text, "title": o_title}
    n = o_text.n_docs
    for q in ("the data", "doc data", "spark merge doc"):
        terms = sorted(set(tokenize(q)))
        want_scores = {}
        for t in terms:
            dfs = [o.df(t) for o in oracles.values() if o.df(t) > 0]
            if not dfs:
                continue
            idf_b = DEFAULT.idf(max(dfs), n)
            contribs = {}
            for f in sorted(oracles):
                o = oracles[f]
                if o.df(t) == 0:
                    continue
                for d, s in o.score_all(t).items():
                    # score_all = idf(t)*impact; rescale to the blended idf
                    c = idf_b * (s / o.idf(t))
                    contribs[d] = max(contribs.get(d, float("-inf")), c)
            for d, c in contribs.items():
                want_scores[d] = want_scores.get(d, 0.0) + c
        want = sorted(want_scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in topk_cross_fields(indexes, q, 10).collect()
        ]
        assert [g[0] for g in got] == [w[0] for w in want], q
        for (_, gs), (_, ws) in zip(got, want):
            assert gs == pytest.approx(ws, abs=1e-9), q
