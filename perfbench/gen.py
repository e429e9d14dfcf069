"""Seeded input generator: web-like corpus, query log and stream event script.

Pure numpy/pyarrow; the engine only ever sees the parquet files written here.
The same (seed, params) always yields byte-identical inputs, so a generated
set is cached on disk under a key derived from both.

Corpus properties the engine's cost depends on:
  * a Zipf(s) vocabulary of tens of thousands of pseudo-words (the frozen
    bench.py draws from 200 words, which makes the build look ~10x cheaper
    than on web-like text: few terms means few, full posting blocks);
  * 20-200 tokens per document;
  * a planted share of near-duplicates (a copy of an earlier page with a few
    tokens replaced), so MinHash-LSH has pairs to find;
  * optionally one boilerplate cluster of identical pages larger than
    dedup.MAX_BUCKET, so the LSH skew guard has a bucket to drop.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

_CONS = list("bcdfghjklmnprstvwz")
_VOWS = list("aeiou")
_SYLL = [c + v for c in _CONS for v in _VOWS]  # 90 syllables
BOILERPLATE_WORDS = 40


def _word(i: int) -> str:
    """Index -> pseudo-word, a bijection (base-90 syllables, >= 2 of them),
    letters only, so it can never equal a generated absent term."""
    out = []
    n = i + len(_SYLL)  # at least two syllables
    while n:
        n, r = divmod(n, len(_SYLL))
        out.append(_SYLL[r])
    return "".join(reversed(out))


def vocabulary(n_terms: int, seed: int) -> np.ndarray:
    """Frequency rank -> word; which word is hot depends on the seed."""
    rng = np.random.default_rng([seed, 1])
    words = np.array([_word(i) for i in range(n_terms)], dtype=object)
    return words[rng.permutation(n_terms)]


def zipf_cdf(n_terms: int, s: float) -> np.ndarray:
    p = np.arange(1, n_terms + 1, dtype=np.float64) ** (-s)
    return np.cumsum(p / p.sum())


def _draw(rng, cdf, vocab, n: int) -> list[str]:
    idx = np.searchsorted(cdf, rng.random(n), side="right")
    return vocab[np.minimum(idx, len(vocab) - 1)].tolist()


def _html(title: str, text: str) -> bytes:
    # head and script content must not leak into the indexed text
    return (
        f"<html><head><title>{title}</title><script>var t='{title}';</script>"
        f"</head><body><p>{text}</p></body></html>"
    ).encode("utf-8")


def make_corpus(p: dict, seed: int, n_docs: int, url_tag: str = "c") -> list[dict]:
    """n_docs pages: Zipf documents, near-duplicates and a boilerplate cluster
    (the last p["boilerplate_docs"] pages). Each page dict holds url, text
    (the exact body text), html and dup_of (index of the page a planted
    near-duplicate copies, else None)."""
    rng = np.random.default_rng([seed, 2, n_docs])
    vocab = vocabulary(p["vocab_terms"], seed)
    cdf = zipf_cdf(p["vocab_terms"], p["zipf_s"])
    lo, hi = p["doc_tokens"]
    n_boiler = p.get("boilerplate_docs", 0)
    boiler = " ".join(_draw(np.random.default_rng([seed, 3]), cdf, vocab, BOILERPLATE_WORDS))
    docs: list[list[str]] = []
    dup_of: list[int | None] = []
    for i in range(n_docs - n_boiler):
        dup_of.append(None)
        if i >= 10 and rng.random() < p["near_dup_share"]:
            dup_of[i] = int(rng.integers(0, i))
            toks = list(docs[dup_of[i]])
            for j in rng.choice(len(toks), max(1, len(toks) // 30), replace=False):
                toks[j] = _draw(rng, cdf, vocab, 1)[0]
        else:
            toks = _draw(rng, cdf, vocab, int(rng.integers(lo, hi + 1)))
        docs.append(toks)
    texts = [" ".join(t) for t in docs] + [boiler] * n_boiler
    dup_of += [None] * n_boiler
    return [
        {
            "url": f"https://site{i % 97}.example/{url_tag}/{seed}/{i}",
            "text": t,
            "html": _html(f"page {i}", t),
            "dup_of": dup_of[i],
        }
        for i, t in enumerate(texts)
    ]


def make_queries(p: dict, seed: int, n: int) -> list[dict]:
    """Seeded query log, a repeating cycle of query shapes (p["query_mix"]:
    shape -> count per cycle) so every seed replays the same mix:
      wand - 1-3 terms, topk_wand;
      head - 4-8 head terms (the head_query_terms hottest words), topk_wand
             with seed_min_blocks=0: forces the block-max WAND θ seed, which
             stands in for web-scale candidate volume;
      and  - 2 terms, topk_match(operator="and");
      bool - 3-4 terms, topk_bool(must, should, must_not).
    A share of terms is replaced by absent ones (never a corpus word)."""
    rng = np.random.default_rng([seed, 4])
    vocab = vocabulary(p["vocab_terms"], seed)
    # short queries favour the head less steeply than documents do
    cdf = zipf_cdf(p["vocab_terms"], p["query_zipf_s"])
    head = p["head_query_terms"]
    head_cdf = zipf_cdf(head, p["zipf_s"])
    cycle = [s for s, c in p["query_mix"].items() for _ in range(c)]
    out = []
    for i in range(n):
        shape = cycle[i % len(cycle)]
        if shape == "head":
            terms = _draw(rng, head_cdf, vocab[:head], int(rng.integers(4, 9)))
        else:
            n_terms = {"wand": int(rng.integers(1, 4)), "and": 2}.get(
                shape, int(rng.integers(3, 5)))
            terms = _draw(rng, cdf, vocab, n_terms)
        for j in range(len(terms)):
            if rng.random() < p["absent_term_share"]:
                terms[j] = f"zq{seed}x{i}x{j}"  # digits: never a corpus word
        if shape == "bool":
            q = {"kind": "bool", "must": terms[0], "should": " ".join(terms[1:-1]),
                 "must_not": terms[-1]}
        else:
            q = {"kind": "and" if shape == "and" else "wand", "query": " ".join(terms)}
        q["seed_min_blocks"] = 0 if shape == "head" else None
        out.append(q)
    return out


def make_stream_script(p: dict, seed: int, base: list[dict]) -> list[dict]:
    """Rounds of (upsert batch, delete list). An upsert holds new pages and
    re-crawls (same url, new text) of live pages; deletes name live pages
    not touched in the same round."""
    rng = np.random.default_rng([seed, 5])
    fresh = make_corpus(
        {**p, "boilerplate_docs": 0, "near_dup_share": 0.0},
        seed + 1, p["rounds"] * p["upsert_new"] + p["rounds"] * p["upsert_recrawl"],
        url_tag="s",
    )
    live = [d["url"] for d in base]
    rounds, k = [], 0
    for r in range(p["rounds"]):
        new = fresh[k : k + p["upsert_new"]]
        k += p["upsert_new"]
        picks = rng.choice(len(live), p["upsert_recrawl"] + p["deletes"], replace=False)
        recrawl = [
            {**fresh[k + j], "url": live[int(x)]}
            for j, x in enumerate(picks[: p["upsert_recrawl"]])
        ]
        k += p["upsert_recrawl"]
        deletes = [live[int(x)] for x in picks[p["upsert_recrawl"]:]]
        rounds.append({"upsert": new + recrawl, "delete": deletes})
        gone = set(deletes)
        live = [u for u in live if u not in gone] + [d["url"] for d in new]
    return rounds


def cache_key(workload: str, seed: int, params: dict) -> str:
    blob = json.dumps([workload, seed, params], sort_keys=True).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def write_pages(pages: list[dict], path: str, ts0: int = 0) -> None:
    """pages -> parquet in the engine's PAGES schema (url, warc_ts, html,
    text, lang); warc_ts increases with list order from ts0 seconds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    base = np.datetime64("2024-01-01T00:00:00", "us")
    table = pa.table(
        {
            "url": pa.array([d["url"] for d in pages], pa.string()),
            "warc_ts": pa.array(
                base + (np.arange(len(pages)) + ts0).astype("timedelta64[s]"),
                pa.timestamp("us", tz="UTC"),
            ),
            "html": pa.array([d["html"] for d in pages], pa.binary()),
            "text": pa.array([d["text"] for d in pages], pa.string()),
            "lang": pa.array(["en"] * len(pages), pa.string()),
        }
    )
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
