"""The two workloads, their output checks and their per-layer numbers.

Both run from one single-threaded, closed-loop client: each operation starts
after the previous one returned. Every check is untimed; a wrong answer or an
error counts as a failed operation.

serve  - reads on a batch-built index: a MinHash-LSH pass over the pages and
         build_index over them; the set-up opens the index and answers one
         query; then the timed replay of the query log and topk_batch
         passes over its head.
stream - writes beside reads on an IncrementalIndexer workdir: base ingest
         in parts (the set-up), a compact(full=True), every round of the
         event script (delete -> live_index -> queries, then
         upsert -> compact -> queries) and topk_batch passes.
"""

from __future__ import annotations

import contextlib
import os
import sys
import time
import traceback

import gen
from statistics import median

from stats import percentile, tail_percentile

SCORE_TOL = 1e-9


class Run:
    """State of one benchmark run: the Spark session, the work directory,
    the optional tracer and the operation counters."""

    def __init__(self, spark, work: str, params: dict, seed: int, seconds: float,
                 tracer=None):
        self.spark, self.work, self.p = spark, work, params
        self.seed, self.seconds, self.tracer = seed, seconds, tracer
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.report: dict[str, object] = {}
        self.hits = 0  # rows returned by per-query top-k calls
        self._lap = time.perf_counter()

    def lap(self, name: str) -> None:
        """Record the wall time since the previous lap (run-time budget)."""
        now = time.perf_counter()
        self.report[f"wall.{name}_s"] = now - self._lap
        self._lap = now

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def phase(self, name: str) -> None:
        if self.tracer:
            self.tracer.phase = name

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)

    def attempt(self, fn, what: str):
        """Run one operation; an exception counts as a failed operation."""
        try:
            return fn()
        except Exception:  # the run goes on and reports the failure
            self.attempted += 1
            self.failed += 1
            print(f"OPERATION FAILED: {what}", file=sys.stderr)
            traceback.print_exc()
            return None


# -- inputs -----------------------------------------------------------------

def _pages_df(spark, pages: list[dict], path: str, n_files: int, ts0: int = 0):
    """Write pages as n_files parquet files once per cache key; return the
    engine's view of them."""
    if not os.path.isdir(path):
        n = len(pages)
        for i in range(n_files):
            lo, hi = i * n // n_files, (i + 1) * n // n_files
            gen.write_pages(pages[lo:hi], f"{path}.tmp/f{i}", ts0=ts0 + lo)
        os.rename(f"{path}.tmp", path)
    from webindex.schema import PAGES

    # the schema is given, so opening the files runs no inference job
    return spark.read.schema(PAGES).parquet(*[f"{path}/f{i}" for i in range(n_files)])


def _doc_ids(*dfs) -> dict[str, int]:
    """url -> the engine's doc_id (Spark's xxhash64 of the url, computed by
    Spark itself, never re-implemented here) for the pages of dfs."""
    from functools import reduce

    from pyspark.sql import functions as F

    rows = (
        reduce(lambda a, b: a.unionByName(b), [d.select("url") for d in dfs])
        .select("url", F.xxhash64("url").alias("id"))
        .collect()
    )
    return {r["url"]: int(r["id"]) for r in rows}


def _oracle(texts_by_id: dict[int, str]):
    from webindex.oracle import OracleIndex

    return OracleIndex(texts_by_id)


def _median(xs: list[float]) -> float:
    """Median, or 0 when every sampled operation failed (the failures are
    already counted, so the run is reported wrong)."""
    return median(xs) if xs else 0.0


def _text_bytes(texts) -> int:
    return sum(len(t.encode("utf-8")) for t in texts)


def _dir_bytes(path: str, skip: tuple[str, ...] = ()) -> int:
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if d not in skip]
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# -- queries ----------------------------------------------------------------

def run_query(run: Run, idx, q: dict):
    """One interactive query: the topk_* call, then the collect. Returns
    ([(doc_id, score)], seconds)."""
    from webindex import query as Q

    k = run.p["k"]
    t0 = time.perf_counter()
    if q["kind"] == "wand":
        df = Q.topk_wand(idx, q["query"], k, q["seed_min_blocks"])
    elif q["kind"] == "and":
        df = Q.topk_match(idx, q["query"], k, operator="and")
    else:
        df = Q.topk_bool(idx, must=q["must"], should=q["should"],
                         must_not=q["must_not"], k=k)
    with run.span("query.execute"):
        rows = df.collect()
    dt = time.perf_counter() - t0
    run.hits += len(rows)
    return [(int(r["doc_id"]), float(r["score"])) for r in rows], dt


def expected(oracle, q: dict, k: int, dead: frozenset = frozenset()):
    """The oracle's top-k; with pending deletes the corpus statistics stay
    as built and dead docs are dropped before the cut (live_index
    semantics)."""
    from webindex.textproc import tokenize

    big = k + len(dead)
    if q["kind"] == "wand":
        ranked = oracle.topk(q["query"], big)
    elif q["kind"] == "and":
        ranked = oracle.topk_match(q["query"], big, len(set(tokenize(q["query"]))))
    else:
        ranked = oracle.topk_bool(must=q["must"], should=q["should"],
                                  must_not=q["must_not"], k=big)
    return [(d, s) for d, s in ranked if d not in dead][:k]


def same_topk(got, want) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and abs(g[1] - w[1]) <= SCORE_TOL for g, w in zip(got, want)
    )


def batch_strings(log: list[dict], n: int) -> dict[str, str]:
    return {
        str(i): q.get("query") or " ".join((q["must"], q["should"]))
        for i, q in enumerate(log[:n])
    }


def run_batch(run: Run, idx, queries: dict[str, str]):
    """batch_repeats x topk_batch(...).collect() over the same queries ->
    (results of each pass, median seconds per pass)."""
    from webindex import query as Q

    passes, times = [], []
    for _ in range(run.p["batch_repeats"]):
        t0 = time.perf_counter()
        with run.span("query.batch_execute"):
            rows = Q.topk_batch(idx, queries, run.p["k"]).collect()
        times.append(time.perf_counter() - t0)
        got: dict[str, list] = {qid: [] for qid in queries}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            got[r["query_id"]].append((int(r["doc_id"]), float(r["score"])))
        passes.append(got)
    return passes, median(times)


def check_batch(run: Run, oracle, queries: dict[str, str], passes: list) -> None:
    k = run.p["k"]
    for qid, text in queries.items():
        want = oracle.topk(text, k)
        for got in passes:
            run.check(same_topk(got[qid], want), f"batch query {qid} {text!r}")


def check_stats(run: Run, idx, oracle, what: str) -> None:
    run.check(idx.n_docs == oracle.n_docs, f"{what}: n_docs {idx.n_docs} != {oracle.n_docs}")
    run.check(abs(idx.avgdl - oracle.avgdl) <= 1e-9 * max(1.0, oracle.avgdl),
              f"{what}: avgdl {idx.avgdl} != {oracle.avgdl}")


# -- serve ------------------------------------------------------------------

def serve(run: Run) -> None:
    from webindex import dedup
    from webindex.build import build_index, load_index
    from pyspark.sql import functions as F

    p, spark, seed = run.p, run.spark, run.seed
    n_docs = p["corpus_docs"] + p["boilerplate_docs"]
    key = gen.cache_key("serve", seed, p)
    pages = gen.make_corpus(p, seed, n_docs)
    log = gen.make_queries(p, seed, p["query_log"])
    df = _pages_df(spark, pages, f"{run.work}/../inputs/{key}/pages", p["corpus_files"])
    out = f"{run.work}/index"
    run.lap("inputs")

    # -- writes: the near-duplicate pass a crawl pipeline runs before
    # indexing, then the batch build
    run.phase("timed")
    docs = df.select(F.xxhash64("url").alias("doc_id"), "text")
    t0 = time.perf_counter()
    with run.span("dedup.minhash_lsh"):
        pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs)).collect()
    dedup_s = time.perf_counter() - t0
    run.lap("dedup")

    t0 = time.perf_counter()
    build_index(spark, df, out_dir=out, text_col="html")
    build_s = time.perf_counter() - t0
    run.lap("build")

    # -- set-up, repeated: open the index and answer one query; the last
    # opening serves the replay
    run.phase("setup")
    setups = []
    for _ in range(p["setup_repeats"]):
        t0 = time.perf_counter()
        idx = load_index(spark, out)
        run.attempt(lambda: run_query(run, idx, log[0]), "set-up query")
        setups.append(time.perf_counter() - t0)
    run.lap("setup")

    # -- timed replay, closed loop, in whole cycles of the query mix; the
    # loop counts attempts, so an engine that fails every query still ends
    cycle = sum(p["query_mix"].values())
    lat, results = [], []
    run.phase("timed")
    n, t_start = 0, time.perf_counter()
    while (time.perf_counter() - t_start < run.seconds
           or n < p["min_timed_queries"] or n % cycle):
        q = log[(cycle + n) % len(log)]  # the first cycle is the set-up's
        n += 1
        r = run.attempt(lambda: run_query(run, idx, q), f"query {q}")
        if r is not None:
            results.append((q, r[0]))
            lat.append(r[1])

    queries = batch_strings(log, p["batch_queries"])
    got, batch_s = run.attempt(lambda: run_batch(run, idx, queries), "topk_batch") or ([], None)
    run.lap("timed")

    # -- untimed checks
    run.phase("check")
    ids = _doc_ids(df)
    texts = {ids[d["url"]]: d["text"] for d in pages}  # the generator's body text
    oracle = _oracle(texts)
    check_stats(run, idx, oracle, "build_index")
    check_dedup(run, pages, ids, {(int(r["a"]), int(r["b"])) for r in pairs})
    for q, rows in results:
        run.check(same_topk(rows, expected(oracle, q, p["k"])), f"query {q}")
    if batch_s is not None:
        check_batch(run, oracle, queries, got)

    run.lap("check")
    text_bytes = _text_bytes(texts.values())
    run.e2e.update(
        setup_s=median(setups),
        build_docs_per_s=n_docs / build_s,
        write_visible_s=build_s + setups[0],
        query_p50_s=_median(lat),
        batch_qps=len(queries) / batch_s if batch_s else 0.0,
        index_bytes_per_text_byte=_dir_bytes(out, skip=("runs",)) / text_bytes,
    )
    tp = tail_percentile(len(lat))
    run.report.update(
        timed_queries=len(lat),
        dedup_docs_per_s=n_docs / dedup_s,
        lsh_pairs=len(pairs),
    )
    if tp is not None:
        run.report[f"query_p{tp}_s"] = percentile(lat, tp)
    run.postings_dir = f"{out}/postings"
    run.block_size = idx.conf.block_size


def check_dedup(run: Run, pages, ids, pairs: set) -> None:
    """LSH must drop the boilerplate cluster (one bucket larger than
    dedup.MAX_BUCKET) and find most planted near-duplicates."""
    from webindex.dedup import MAX_BUCKET

    p = run.p
    n_plain = len(pages) - p["boilerplate_docs"]
    boiler = {ids[d["url"]] for d in pages[n_plain:]}
    run.check(p["boilerplate_docs"] <= MAX_BUCKET or
              not any(a in boiler and b in boiler for a, b in pairs),
              "lsh kept a pair inside the oversized boilerplate bucket")
    planted = [
        tuple(sorted((ids[pages[d["dup_of"]]["url"]], ids[d["url"]])))
        for d in pages[:n_plain] if d["dup_of"] is not None
    ]
    found = sum(1 for pr in planted if pr in pairs)
    run.check(bool(planted) and found >= 0.5 * len(planted),
              f"lsh found {found} of {len(planted)} planted near-duplicate pairs")


# -- stream -----------------------------------------------------------------

def stream(run: Run) -> None:
    from webindex.streaming import IncrementalIndexer

    p, spark, seed = run.p, run.spark, run.seed
    key = gen.cache_key("stream", seed, p)
    base = gen.make_corpus(p, seed, p["corpus_docs"])
    script = gen.make_stream_script(p, seed, base)
    log = [q for q in gen.make_queries(p, seed, p["query_log"]) if q["kind"] != "and"]
    inputs = f"{run.work}/../inputs/{key}"
    n, parts = len(base), p["setup_repeats"]
    base_dfs = [
        _pages_df(spark, base[i * n // parts:(i + 1) * n // parts], f"{inputs}/base{i}", 1,
                  ts0=i * n // parts)
        for i in range(parts)
    ]
    ups = [
        _pages_df(spark, r["upsert"], f"{inputs}/upsert{i}", 1, ts0=10**6 * (i + 1))
        for i, r in enumerate(script)
    ]
    live = {d["url"]: d["text"] for d in base}  # url -> the generator's body text
    run.lap("inputs")

    # -- set-up, repeated: the base corpus ingested in setup_repeats equal
    # parts
    ix = IncrementalIndexer(spark, f"{run.work}/wd")
    setups = []
    for part in base_dfs:
        t0 = time.perf_counter()
        ix.upsert(part, compact_now=False)
        setups.append(time.perf_counter() - t0)
    run.lap("setup")

    run.phase("timed")
    visible, deleted_vis, compacts, lat, checks = [], [], [], [], []

    def compact(full: bool = False):
        t0 = time.perf_counter()
        index = ix.compact(full=full)
        compacts.append(len(live) / (time.perf_counter() - t0))  # docs per second
        return index

    qi = 0

    def ask(index, snapshot: dict, dead: frozenset) -> None:
        nonlocal qi
        for _ in range(p["queries_per_refresh"]):
            q = log[qi % len(log)]
            qi += 1
            res = run.attempt(lambda: run_query(run, index, q), f"query {q}")
            if res is not None:
                lat.append(res[1])
                checks.append((q, res[0], snapshot, dead))

    t0 = time.perf_counter()
    idx = compact(full=True)
    full_s = time.perf_counter() - t0
    # every round of the script runs, whatever --seconds says: each round is
    # one sample of write_visible_s and delete_visible_s. The round's compact
    # applies its own deletes and upserts, so every round does the same work
    gone: set[str] = set()
    for r, ev in enumerate(script):
        dead = frozenset(ev["delete"])
        t0 = time.perf_counter()
        ix.delete(ev["delete"], compact_now=False)
        li = ix.live_index()
        deleted_vis.append(time.perf_counter() - t0)
        ask(li, dict(live), dead)
        for d in dead:
            live.pop(d, None)
        gone |= dead

        t0 = time.perf_counter()
        ix.upsert(ups[r], compact_now=False)
        for d in ev["upsert"]:
            live[d["url"]] = d["text"]
        idx = compact()
        visible.append(time.perf_counter() - t0)
        ask(idx, dict(live), frozenset())

    queries = batch_strings(log, p["batch_queries"])
    got, batch_s = run.attempt(lambda: run_batch(run, idx, queries), "topk_batch") or ([], None)
    run.lap("timed")

    # -- untimed checks: every query against the oracle over the doc set the
    # index held at the time; deleted docs never come back
    run.phase("check")
    ids = _doc_ids(*base_dfs, *ups)
    oracles: dict[int, object] = {}
    for q, rows, snap, dead in checks:
        o = oracles.get(id(snap))
        if o is None:
            o = oracles[id(snap)] = _oracle({ids[u]: t for u, t in snap.items()})
        dead = frozenset(ids[u] for u in dead)
        run.check(same_topk(rows, expected(o, q, p["k"], dead)), f"stream query {q}")
        run.check(not any(d in dead for d, _ in rows), f"deleted doc returned for {q}")
    final = _oracle({ids[u]: t for u, t in live.items()})
    gone = {ids[u] for u in gone}
    check_stats(run, idx, final, "last compact()")
    if batch_s is not None:
        check_batch(run, final, queries, got)
        run.check(not any(d in gone for got_ in got for rows in got_.values()
                          for d, _ in rows),
                  "deleted doc returned by topk_batch after compact")

    run.lap("check")
    run.e2e.update(
        setup_s=median(setups),
        build_docs_per_s=median(compacts),
        write_visible_s=median(visible),
        query_p50_s=_median(lat),
        batch_qps=len(queries) / batch_s if batch_s else 0.0,
        index_bytes_per_text_byte=_dir_bytes(f"{ix.workdir}/index")
        / _text_bytes(live.values()),
    )
    run.report.update(
        rounds=len(script),
        live_queries=len(lat),
        delete_visible_s=median(deleted_vis),
        compact_full_s=full_s,
    )
    run.postings_dir = f"{ix.workdir}/index/postings"
    run.block_size = idx.conf.block_size
    run.compactions_dir = f"{ix.workdir}/compactions"
    run.n_buckets = 1 << idx.bucket_bits if idx.bucket_bits is not None else None


WORKLOADS = {"serve": serve, "stream": stream}
