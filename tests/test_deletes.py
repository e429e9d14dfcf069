"""Document deletes on the incremental index: ES DELETE /_doc and
_delete_by_query analogues (tombstone batches applied physically at
compaction — the Lucene live-docs + segment-merge reclaim model).

Semantics pinned here:
  * delete-then-compact == a batch build that never saw the doc (postings,
    doc_stats, n_docs, avgdl, df — everything shrinks);
  * per doc the latest EVENT wins: crawl-then-delete removes,
    delete-then-recrawl resurrects, both orderings inside one delta;
  * deleting an unknown url is a recorded no-op;
  * applying a tombstone is O(touched buckets), never a corpus rewrite.

reference: src/nmr_FAIR_DOs/connectors/elasticsearch.py:175-232 (the ES
backend's index/upsert/bulk surface this engine mirrors; deletes are the
missing verb of that CRUD set)."""

import pytest
from pyspark.sql import functions as F

from webindex.build import build_index
from webindex.pagesgen import make_pages_pdf
from webindex.query import lookup_url, topk
from webindex.streaming import IncrementalIndexer


def _topk_list(idx, query, k=10):
    return [(r["doc_id"], round(r["score"], 9)) for r in topk(idx, query, k).collect()]


def _queries():
    return ("the data", "w042 w099", "index query merge")


def _assert_same_index(got, want):
    assert got.n_docs == want.n_docs
    assert abs(got.avgdl - want.avgdl) < 1e-9
    for q in _queries():
        assert _topk_list(got, q) == _topk_list(want, q), q
    g = {(r["term"], r["df"]) for r in got.term_stats.select("term", "df").collect()}
    w = {(r["term"], r["df"]) for r in want.term_stats.select("term", "df").collect()}
    assert g == w


def test_delete_equals_batch_build_without_deleted(spark, tmp_path):
    pdf = make_pages_pdf(0, 140)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)

    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    idx0 = indexer.compact()
    assert idx0.n_docs == 140

    victims = list(pdf["url"].iloc[5:15])
    idx1 = indexer.delete(victims)

    survivors = pdf[~pdf["url"].isin(victims)]
    batch_idx = build_index(
        spark, spark.createDataFrame(survivors), text_col="html",
        doc_id_method="hash",
    )
    assert idx1.n_docs == 130
    _assert_same_index(idx1, batch_idx)
    # the deleted doc is gone from point lookups too
    assert lookup_url(idx1, victims[0]).count() == 0


def test_delete_before_first_compact_full_path(spark, tmp_path):
    """Tombstones present when the FIRST (full) compact runs: the full path
    must apply them, not just the incremental one."""
    pdf = make_pages_pdf(0, 80)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    victims = list(pdf["url"].iloc[:7])
    idx = indexer.delete(victims, compact_now=False)
    assert idx is None
    idx = indexer.compact()
    batch_idx = build_index(
        spark,
        spark.createDataFrame(pdf[~pdf["url"].isin(victims)]),
        text_col="html",
        doc_id_method="hash",
    )
    _assert_same_index(idx, batch_idx)


def test_delete_then_recrawl_resurrects(spark, tmp_path):
    pdf = make_pages_pdf(0, 60)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    indexer.compact()

    url = pdf["url"].iloc[3]
    idx = indexer.delete([url])
    assert idx.n_docs == 59
    assert lookup_url(idx, url).count() == 0

    # recrawl the same url (newer batch) -> the doc is live again
    idx2 = indexer.upsert(spark.createDataFrame(pdf.iloc[3:4]))
    assert idx2.n_docs == 60
    assert lookup_url(idx2, url).count() == 1
    batch_idx = build_index(
        spark, spark.createDataFrame(pdf), text_col="html", doc_id_method="hash"
    )
    _assert_same_index(idx2, batch_idx)


def test_crawl_and_delete_in_one_delta_latest_event_wins(spark, tmp_path):
    """Crawl (batch N) then delete (batch N+1) applied by ONE compact: the
    delete is newer, the doc must not appear even though its runs are in the
    same delta window."""
    pdf = make_pages_pdf(0, 50)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf.iloc[:40]).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    indexer.compact()

    # delta: 10 new docs ingested, then 2 of them deleted, then ONE compact
    new = pdf.iloc[40:]
    indexer.upsert(spark.createDataFrame(new), compact_now=False)
    victims = list(new["url"].iloc[:2])
    idx = indexer.delete(victims)

    batch_idx = build_index(
        spark,
        spark.createDataFrame(pdf[~pdf["url"].isin(victims)]),
        text_col="html",
        doc_id_method="hash",
    )
    assert idx.n_docs == 48
    _assert_same_index(idx, batch_idx)


def test_delete_unknown_url_is_noop(spark, tmp_path):
    pdf = make_pages_pdf(0, 30)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    idx0 = indexer.compact()
    before = _topk_list(idx0, "the data")
    idx1 = indexer.delete(["https://never-crawled.example/x"])
    assert idx1.n_docs == 30
    assert _topk_list(idx1, "the data") == before


def test_delete_by_query_matches_snapshot(spark, tmp_path):
    pdf = make_pages_pdf(0, 90)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    indexer = IncrementalIndexer(spark, str(tmp_path / "inc"), text_col="html")
    indexer.start(src).awaitTermination(120)
    idx0 = indexer.compact()

    from webindex.aggs import matching_doc_ids

    victims = {r["doc_id"] for r in matching_doc_ids(idx0, "w042").collect()}
    assert victims  # fixture must actually match something
    # capture the snapshot BEFORE the delete swaps the table files out
    stats_before = idx0.doc_stats.select("doc_id", "url").collect()
    idx1 = indexer.delete_by_query("w042")
    assert idx1.n_docs == 90 - len(victims)
    # no surviving doc matches the query any more
    assert matching_doc_ids(idx1, "w042").count() == 0
    # and df/scores reflect the shrunken corpus exactly
    surviving_urls = {r["url"] for r in stats_before if r["doc_id"] not in victims}
    batch_pdf = pdf[pdf["url"].isin(surviving_urls)]
    batch_idx = build_index(
        spark, spark.createDataFrame(batch_pdf), text_col="html",
        doc_id_method="hash",
    )
    _assert_same_index(idx1, batch_idx)


def test_delete_is_o_touched_buckets(spark, tmp_path):
    """Tombstoning one doc must decode/rewrite only that doc's bucket."""
    pdf = make_pages_pdf(0, 160)
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).coalesce(1).write.mode("append").parquet(src)
    workdir = str(tmp_path / "inc")
    indexer = IncrementalIndexer(spark, workdir, text_col="html", range_width=16)
    indexer.start(src).awaitTermination(120)
    idx0 = indexer.compact()
    all_buckets = idx0.postings.select("bucket").distinct().count()
    assert all_buckets > 4

    indexer.delete([pdf["url"].iloc[0]])
    comp = spark.read.parquet(f"{workdir}/compactions").collect()
    inc = [r for r in comp if r["kind"] == "incremental"]
    assert len(inc) == 1
    assert inc[0]["touched_buckets"] == 1


def test_delete_on_positional_workdir_via_open(spark, tmp_path):
    """Review regression: attaching to a positional workdir without knowing
    its layout (IncrementalIndexer.open) must adopt positions=True and let
    deletes compact instead of raising the layout-mismatch error."""
    pdf = make_pages_pdf(0, 40)
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text", positions=True)
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    victim = pdf["url"][0]
    opened = IncrementalIndexer.open(spark, wd, text_col="text")
    assert opened.positions is True
    idx1 = opened.delete([victim])
    assert idx1.n_docs == idx0.n_docs - 1
    assert lookup_url(idx1, victim).count() == 0
    # positions survived: a phrase query still runs on the compacted index
    assert "positions" in idx1.postings.columns


def test_live_index_delete_visible_before_compact(spark, tmp_path):
    """Round-5 query-time tombstone visibility: a pending delete disappears
    from top-k via live_index() BEFORE any compaction runs — with the
    pre-delete corpus stats (Lucene live-docs semantics: results exclude
    dead docs, n_docs/avgdl/df unchanged until the merge). Parity: after
    the physical compact the dead doc stays gone."""
    pdf = make_pages_pdf(0, 60)
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    q = "the data"
    before = _topk_list(idx0, q, 10)
    assert len(before) == 10
    # delete the TOP doc of the query — the strongest displacement case
    top_doc = before[0][0]
    url = idx0.doc_stats.filter(F.col("doc_id") == top_doc).collect()[0]["url"]
    ing.delete([url], compact_now=False)

    live = ing.live_index()
    # stats are the PRE-delete stats (delete pending, merge not run)
    assert live.n_docs == idx0.n_docs and abs(live.avgdl - idx0.avgdl) < 1e-12
    got = _topk_list(live, q, 10)
    # exactly the pre-delete ranking minus the dead doc, scores unchanged
    # (same stats), with the next-ranked doc promoted into the k-th slot
    want = [(d, s) for d, s in _topk_list(idx0, q, 11) if d != top_doc][:10]
    assert got == want
    assert all(d != top_doc for d, _ in got)

    # the same queries through every fused-scorer entry point agree
    from webindex.query import topk_exact, topk_match, topk_wand

    wand = [(r["doc_id"], round(r["score"], 9)) for r in topk_wand(live, q, 10).collect()]
    exact = [(r["doc_id"], round(r["score"], 9)) for r in topk_exact(live, q, 10).collect()]
    assert wand == got and exact == got
    m = [(r["doc_id"], round(r["score"], 9)) for r in topk_match(live, q, k=10).collect()]
    assert all(d != top_doc for d, _ in m)

    # compaction parity: physically applied, doc stays gone; a fresh batch
    # build over the surviving corpus agrees completely
    idx1 = ing.compact()
    assert all(d != top_doc for d, _ in _topk_list(idx1, q, 10))
    survivors = pdf[pdf["url"] != url]
    want_idx = build_index(
        spark, spark.createDataFrame(survivors), text_col="text",
        doc_id_method="hash",
    )
    _assert_same_index(idx1, want_idx)


def test_live_index_no_pending_deletes_is_plain_index(spark, tmp_path):
    pdf = make_pages_pdf(0, 20)
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    live = ing.live_index()
    assert live.dead_ids is None
    assert _topk_list(live, "the data") == _topk_list(idx0, "the data")


def test_live_index_bool_pinned_exclude_deleted(spark, tmp_path):
    """Pending tombstones outside the shared kernel's top-k path: bool's
    must_not-only match_all path (doc_stats enumeration) and pinned ids
    must drop the dead doc before any compact, as scored bool does.
    Every scorer of the shared kernel: test_live_index_every_scorer_hides_dead."""
    from webindex.query import topk_bool, topk_pinned

    pdf = make_pages_pdf(0, 60)
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    q = "the data"
    before = [(r["doc_id"], round(r["score"], 9))
              for r in topk_bool(idx0, must=q).collect()]
    top_doc = before[0][0]
    url = idx0.doc_stats.filter(F.col("doc_id") == top_doc).collect()[0]["url"]
    ing.delete([url], compact_now=False)
    live = ing.live_index()

    got = [(r["doc_id"], round(r["score"], 9))
           for r in topk_bool(live, must=q).collect()]
    want = [(d, s) for d, s in
            [(r["doc_id"], round(r["score"], 9))
             for r in topk_bool(idx0, must=q, k=11).collect()]
            if d != top_doc][:10]
    assert got == want and all(d != top_doc for d, _ in got)

    # must_not-only path enumerates doc_stats — dead doc must not appear
    mn = [r["doc_id"] for r in
          topk_bool(live, must_not="zzzabsent", k=1000).collect()]
    assert top_doc not in mn and len(mn) == 59

    # a pinned deleted doc must not be resurrected
    pinned = [r["doc_id"] for r in topk_pinned(live, [top_doc], q).collect()]
    assert top_doc not in pinned


def test_delete_on_fresh_workdir_is_recorded_noop(spark, tmp_path):
    """delete()/delete_by_query() before any ingest: the documented
    recorded no-op — no crash compacting a corpus that does not exist, and
    a LATER crawl outranks the early tombstone (batch order)."""
    wd = str(tmp_path / "wd")
    ing = IncrementalIndexer(spark, wd, text_col="text")
    pdf = make_pages_pdf(0, 10)
    url0 = pdf["url"].iloc[0]
    assert ing.delete([url0]) is None  # compact_now=True: still a no-op
    assert ing.delete_by_query("the data") is None
    with pytest.raises(ValueError, match="no ingested pages"):
        ing.compact()
    # the tombstone is committed but the crawl is the LATER event: doc lives
    idx = ing.upsert(spark.createDataFrame(pdf))
    assert idx.n_docs == 10
    assert lookup_url(idx, url0).count() == 1


@pytest.fixture(scope="module")
def pending_delete(spark, tmp_path_factory):
    """(pre-delete index, live_index() with one pending delete, dead doc,
    stored frame): the dead doc is the top hit for "the data"."""
    pdf = make_pages_pdf(0, 60)
    ing = IncrementalIndexer(
        spark, str(tmp_path_factory.mktemp("pending") / "wd"), text_col="text"
    )
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    dead = _topk_list(idx0, "the data", 1)[0][0]
    url = idx0.doc_stats.filter(F.col("doc_id") == dead).collect()[0]["url"]
    ing.delete([url], compact_now=False)
    live = ing.live_index()
    assert list(live.dead_ids) == [dead]
    stored = idx0.doc_stats.select(
        "doc_id", (F.lit(1.0) + F.abs(F.col("doc_id") % 5)).alias("pop")
    )
    return idx0, live, dead, stored


def _batch(prune):
    from webindex.query import topk_batch

    def run(index, q, k):
        rows = topk_batch(index, {"q": q}, k, prune=prune).collect()
        return sorted(rows, key=lambda r: r["rank"])

    return run


def _scorers(stored):
    from webindex import query as Q
    from webindex.aggs import match_scores, matching_doc_ids

    return {
        "wand": lambda i, k: Q.topk_wand(i, "the data", k).collect(),
        "exact": lambda i, k: Q.topk_exact(i, "the data", k).collect(),
        "match_and": lambda i, k: Q.topk_match(
            i, "the data", k, operator="and").collect(),
        "after": lambda i, k: Q.topk_after(
            i, "the data", k, after=(1e9, 0)).collect(),
        "bool": lambda i, k: Q.topk_bool(i, must="the", should="data", k=k).collect(),
        "batch_prune": lambda i, k: _batch(True)(i, "the data", k),
        "batch_no_prune": lambda i, k: _batch(False)(i, "the data", k),
        "synonyms": lambda i, k: Q.topk_synonyms(
            i, "the data", {"data": ["merge"]}, k).collect(),
        "fuzzy": lambda i, k: Q.topk_fuzzy(i, "data", k).collect(),
        "prefix": lambda i, k: Q.topk_prefix(i, "dat", k).collect(),
        "wildcard": lambda i, k: Q.topk_wildcard(i, "d?t*", k).collect(),
        "regexp": lambda i, k: Q.topk_regexp(i, "da.a", k).collect(),
        "function_score": lambda i, k: Q.topk_function_score(
            i, stored, "the data", "pop", modifier="none", k=k).collect(),
        "match_scores": lambda i, k: sorted(
            match_scores(i, "the data").collect(),
            key=lambda r: (-r["score"], r["doc_id"]))[:k],
        "count": lambda i, k: sorted(
            matching_doc_ids(i, "the data", 2).collect())[:k],
        "terms_set": lambda i, k: Q.topk_terms_set(
            i, ["the", "data"],
            stored.select("doc_id", (F.abs(F.col("doc_id")) % 2 + 1).alias("need")),
            "need", k).collect(),
    }


SCORERS = list(_scorers(None))


@pytest.mark.parametrize("scorer", SCORERS)
def test_live_index_every_scorer_hides_dead(pending_delete, scorer):
    """A pending delete is hidden from every scorer of the shared bucket
    kernel and every filter-context kernel on live_index(), with the
    pre-delete corpus stats (Lucene live-docs semantics): the result is the
    pre-delete result minus the dead doc — at a large k, and at a small k
    where the next-ranked doc must be promoted into the freed slot."""
    idx0, live, dead, stored = pending_delete
    run = _scorers(stored)[scorer]

    def hits(index, k):  # filter-context kernels (count) have no score
        return [(int(r["doc_id"]), round(float(r.asDict().get("score", 0.0)), 9))
                for r in run(index, k)]

    before = hits(idx0, 1000)
    assert dead in [d for d, _ in before], "fixture: the dead doc must match"
    want = [h for h in before if h[0] != dead]
    assert hits(live, 1000) == want
    assert hits(live, 3) == want[:3]


def test_explain_doc_hides_pending_delete(pending_delete):
    """explain_doc answers a pending delete like lookup_doc does — not
    found: the dead doc's explanation is empty on live_index() (non-empty
    before the delete), and a live doc's explanation is unchanged."""
    from webindex.query import explain_doc

    idx0, live, dead, _ = pending_delete

    def rows(index, doc_id):
        return [tuple(r) for r in explain_doc(index, "the data", doc_id).collect()]

    assert rows(idx0, dead)
    assert rows(live, dead) == []
    other = next(d for d, _ in _topk_list(idx0, "the data", 2) if d != dead)
    assert rows(live, other) == rows(idx0, other) != []


def test_live_index_suggest_phrase_collate_hides_dead(spark, tmp_path):
    """suggest_phrase's collate flag (matched = some doc holds every term
    of the phrase) reads live docs only: when the one doc holding all of a
    phrase's terms is pending-deleted, the phrase is still suggested with
    its pre-delete score but is no longer matched on live_index(), while a
    phrase a live doc still holds stays matched."""
    from webindex.query import suggest_phrase

    pdf = make_pages_pdf(0, 8)
    pdf["text"] = [
        "alpha beta gamma delta",  # the only doc with alpha + beta + gamma
        "alpha beta delta",
        "beta gamma delta",
        "alpha gamma delta",
        "alpha beta gammb delta",
        "delta epsilon",
        "delta epsilon zeta",
        "epsilon zeta",
    ]
    ing = IncrementalIndexer(spark, str(tmp_path / "wd"), text_col="text")
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    ing.delete([pdf["url"].iloc[0]], compact_now=False)
    live = ing.live_index()
    assert live.dead_ids is not None and len(live.dead_ids) == 1

    def flags(index, text):
        return {(r["suggestion"], r["score"]): r["matched"]
                for r in suggest_phrase(index, text).collect()}

    assert list(flags(idx0, "alpha beta gamma").values()) == [True]
    assert list(flags(live, "alpha beta gamma").values()) == [False]
    # one call, two candidate phrases ("gamme" -> gamma | gammb): only the
    # phrase whose sole holder is dead flips
    before = flags(idx0, "alpha beta gamme")
    after = flags(live, "alpha beta gamme")
    assert {s for s, _ in before} == {"alpha beta gamma", "alpha beta gammb"}
    assert all(before.values())
    assert after == {key: key[0] != "alpha beta gamma" for key in before}


@pytest.fixture(scope="module")
def positional_pending_delete(spark, tmp_path_factory):
    """(pre-delete index, live_index() with one pending delete, dead doc)
    on a POSITIONAL workdir: the dead doc is the top "the data" phrase hit."""
    from webindex.query import topk_phrase

    pdf = make_pages_pdf(0, 60)
    ing = IncrementalIndexer(
        spark, str(tmp_path_factory.mktemp("ppending") / "wd"), text_col="text",
        positions=True,
    )
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    dead = int(topk_phrase(idx0, "the data", 1).collect()[0]["doc_id"])
    url = idx0.doc_stats.filter(F.col("doc_id") == dead).collect()[0]["url"]
    ing.delete([url], compact_now=False)
    live = ing.live_index()
    assert list(live.dead_ids) == [dead]
    return idx0, live, dead


def _positional_scorers():
    """name -> run(index, k) -> [(doc_id, ...)] in the family's own order;
    the span / intervals families are unranked (doc_id asc), so k cuts
    that order."""
    from webindex import query as Q

    def scored(rows, *extra):
        return [(int(r["doc_id"]), round(float(r["score"]), 9),
                 *(r[c] for c in extra)) for r in rows]

    def counted(rows, col):
        return [(int(r["doc_id"]), int(r[col])) for r in rows]

    ordered = {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}}
    return {
        "phrase": lambda i, k: scored(Q.topk_phrase(i, "the data", k).collect()),
        "phrase_slop2": lambda i, k: scored(
            Q.topk_phrase(i, "the data", k, slop=2).collect()),
        "phrase_batch": lambda i, k: scored(sorted(
            Q.topk_phrase_batch(i, {"q": "the data"}, k).collect(),
            key=lambda r: r["rank"])),
        "phrase_prefix": lambda i, k: scored(
            Q.topk_phrase_prefix(i, "the dat", k).collect()),
        "phrase_scores": lambda i, k: scored(sorted(
            Q.phrase_scores(i, "the data").collect(),
            key=lambda r: (-r["score"], r["doc_id"]))[:k]),
        "span_near": lambda i, k: counted(
            Q.span_near_docs(i, ["the", "data"], 0, True).collect(), "n_spans")[:k],
        "intervals": lambda i, k: counted(
            Q.intervals_docs(i, ordered).collect(), "n_intervals")[:k],
        "rescore": lambda i, k: scored(Q.topk_rescore(
            i, "the data", "the data", window=1000, k=k).collect()),
        "highlight": lambda i, k: scored(
            Q.highlight_topk(i, "the data", k).collect(), "hl_term", "hl_pos"),
    }


@pytest.mark.parametrize("scorer", list(_positional_scorers()))
def test_live_index_positional_families_hide_dead(positional_pending_delete, scorer):
    """A pending delete is hidden from every position-reading family on
    live_index(): the phrase matcher, span_near and intervals drop dead docs
    at the shared positional decode, so the result is the pre-delete result
    minus the dead doc, with pre-delete stats — at a large k and at a small
    k that promotes the next doc. rescore and highlight run the BM25 kernel
    first, which already hid the doc; they guard the composition."""
    idx0, live, dead = positional_pending_delete
    run = _positional_scorers()[scorer]
    before = run(idx0, 1000)
    assert dead in [h[0] for h in before], "fixture: the dead doc must match"
    want = [h for h in before if h[0] != dead]
    assert run(live, 1000) == want
    assert run(live, 3) == want[:3]


def test_batch_theta_seed_skips_dead_docs(spark, tmp_path):
    """The θ seed must not take the k-th best contribution from a dead doc:
    here the deleted doc holds the best contribution of a term with df > k,
    so a seed counting it would be the (k-1)-th best LIVE contribution and,
    with one-posting blocks (interval bound == the exact contribution),
    would prune the k-th best live doc. topk_batch and topk_wand share the
    one seed and its dead-doc drop: both forced-seed results must equal
    prune=False and the oracle over the live docs (pre-delete stats, dead
    doc dropped before the cut)."""
    from webindex.bm25 import BM25Config
    from webindex.oracle import OracleIndex
    from webindex.query import topk_batch, topk_wand

    n, dl, k = 24, 30, 5
    pdf = make_pages_pdf(0, n)
    # same length everywhere, tf(aa) = 1..n: contributions strictly rise
    pdf["text"] = [" ".join(["aa"] * (i + 1) + ["zz"] * (dl - i - 1)) for i in range(n)]
    ing = IncrementalIndexer(
        spark, str(tmp_path / "wd"), BM25Config(block_size=1), text_col="text"
    )
    idx0 = ing.upsert(spark.createDataFrame(pdf))
    ids = {r["url"]: int(r["doc_id"]) for r in idx0.doc_stats.collect()}
    dead_url = pdf["url"].iloc[n - 1]  # tf = n: the term's best contribution
    ing.delete([dead_url], compact_now=False)
    live = ing.live_index()
    dead = ids[dead_url]

    oracle = OracleIndex(
        {ids[u]: t for u, t in zip(pdf["url"], pdf["text"])}, BM25Config(block_size=1)
    )
    want = [(d, s) for d, s in oracle.topk("aa", k + 1) if d != dead][:k]

    def run(prune):
        rows = topk_batch(live, {"q": "aa"}, k, prune=prune, seed_min_blocks=0).collect()
        return [(int(r["doc_id"]), float(r["score"]))
                for r in sorted(rows, key=lambda r: r["rank"])]

    exhaustive = run(False)
    wand = [(int(r["doc_id"]), float(r["score"]))
            for r in topk_wand(live, "aa", k, seed_min_blocks=0).collect()]
    for pruned in (run(True), wand):
        assert pruned == exhaustive
        assert [d for d, _ in pruned] == [d for d, _ in want]
        assert all(abs(s - w) <= 1e-9 for (_, s), (_, w) in zip(pruned, want))


@pytest.mark.parametrize("positional", [False, True])
@pytest.mark.parametrize(
    "lookup", ["lookup_doc", "lookup_docs", "lookup_url", "term_vectors"]
)
def test_live_index_lookups_hide_dead(request, positional, lookup):
    """ES realtime GET / mget and _termvectors report a pending delete as
    not found at once: on live_index() every lookup answers as the
    pre-delete index minus the dead doc's rows, and a live doc's answer is
    unchanged."""
    from webindex import query as Q

    idx0, live, dead = request.getfixturevalue(
        "positional_pending_delete" if positional else "pending_delete"
    )[:3]
    urls = {
        int(r["doc_id"]): r["url"]
        for r in idx0.doc_stats.select("doc_id", "url").collect()
    }
    other = min(d for d in urls if d != dead)
    run = {
        "lookup_doc": lambda i: [
            r for d in (dead, other) for r in Q.lookup_doc(i, d).collect()
        ],
        "lookup_docs": lambda i: Q.lookup_docs(i, [dead, other]).collect(),
        "lookup_url": lambda i: [
            r for d in (dead, other) for r in Q.lookup_url(i, urls[d]).collect()
        ],
        "term_vectors": lambda i: Q.term_vectors(i, [dead, other]).collect(),
    }[lookup]
    before = run(idx0)
    assert {dead, other} <= {r["doc_id"] for r in before}
    assert run(live) == [r for r in before if r["doc_id"] != dead]


def test_live_index_lookup_url_probes_doc_id(pending_delete):
    """A streaming index's ids are always xxhash64(url): lookup_url on
    live_index() pushes the url's id into the doc_stats scan, and the
    pending delete stays not found while a live doc is found. (The dead
    url's id predicate contradicts the dead-ids filter, so Catalyst plans
    that lookup as an empty relation.)"""
    import io
    from contextlib import redirect_stdout

    idx0, live, dead = pending_delete[:3]
    assert live.url_hash_ids
    urls = {
        int(r["doc_id"]): r["url"]
        for r in idx0.doc_stats.select("doc_id", "url").collect()
    }
    other = min(d for d in urls if d != dead)
    buf = io.StringIO()
    with redirect_stdout(buf):
        lookup_url(live, urls[other]).explain("formatted")
    assert f"EqualTo(doc_id,{other})" in buf.getvalue()
    assert lookup_url(live, urls[dead]).collect() == []
    assert [r["doc_id"] for r in lookup_url(live, urls[other]).collect()] == [other]


def test_live_index_dedupes_tombstones_on_driver(spark, tmp_path):
    """live_index() reads overlapping pending deletes (one url tombstoned by
    two delete batches) into the same sorted, unique dead_ids, deduped on
    the driver, with no Spark job: the state, the tables' schemas and the
    tombstones are read on the driver (7 jobs through Spark; a distinct()
    shuffle made it 8)."""
    import uuid

    import numpy as np

    pdf = make_pages_pdf(0, 200)
    ing = IncrementalIndexer(spark, str(tmp_path / "wd"), text_col="text")
    ing.upsert(spark.createDataFrame(pdf))
    urls = list(pdf["url"].iloc[:3])
    ing.delete(urls[:2], compact_now=False)
    ing.delete(urls[1:], compact_now=False)
    want = sorted(
        int(r["h"]) for r in spark.createDataFrame([(u,) for u in urls], "url string")
        .select(F.xxhash64("url").alias("h")).collect()
    )

    sc = spark.sparkContext
    ing.live_index()  # warm: caches and broadcasts settle before counting
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        live = ing.live_index()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert live.dead_ids.dtype == np.int64 and list(live.dead_ids) == want
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 0
