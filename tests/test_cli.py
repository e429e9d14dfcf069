"""CLI surface round-trip (spark-submit entrypoint): build -> query in
subprocesses, results rank-identical to the oracle."""

import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def test_cli_build_query_roundtrip(tmp_path):
    gen = (
        "import sys; sys.path.insert(0, %r)\n"
        "from webindex.session import get_spark\n"
        "from webindex.pagesgen import generate_pages_df\n"
        "s = get_spark(master='local[4]', shuffle_partitions=4)\n"
        "generate_pages_df(s, 200).write.mode('overwrite').parquet(%r)\n"
        "s.stop()\n" % (str(REPO), str(tmp_path / "pages"))
    )
    subprocess.run([sys.executable, "-c", gen], check=True, timeout=300,
                   capture_output=True, cwd=REPO)
    out = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "build", str(tmp_path / "pages"),
         str(tmp_path / "idx")],
        check=True, timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    assert "built: 200 docs" in out.stdout

    q = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "query", str(tmp_path / "idx"),
         "the data", "5"],
        check=True, timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    lines = [l for l in q.stdout.splitlines() if l and l[0].isdigit()]
    assert len(lines) == 5

    # rank-identity at the CLI surface, matched by url against the oracle
    from webindex.oracle import OracleIndex
    from webindex.pagesgen import make_page

    oracle = OracleIndex({i: make_page(i)["text"] for i in range(200)})
    exp = oracle.topk("the data", 5)
    exp_urls = [f"https://site{i % 1000}.example/page/{i}" for i, _ in exp]
    got_urls = [l.split("\t")[2] for l in lines]
    got_scores = [float(l.split("\t")[0]) for l in lines]
    assert got_urls == exp_urls
    for g, (_, e) in zip(got_scores, exp):
        assert abs(g - e) < 1e-5  # CLI prints 6dp


def test_cli_span_and_intervals(tmp_path):
    """span / intervals CLI over a --positions build: outputs agree with a
    direct tokenize-and-count reference on the same corpus."""
    import json

    gen = (
        "import sys; sys.path.insert(0, %r)\n"
        "from webindex.session import get_spark\n"
        "from webindex.pagesgen import generate_pages_df\n"
        "s = get_spark(master='local[4]', shuffle_partitions=4)\n"
        "generate_pages_df(s, 120).write.mode('overwrite').parquet(%r)\n"
        "s.stop()\n" % (str(REPO), str(tmp_path / "pages"))
    )
    subprocess.run([sys.executable, "-c", gen], check=True, timeout=300,
                   capture_output=True, cwd=REPO)
    subprocess.run(
        [sys.executable, "-m", "webindex.cli", "build", str(tmp_path / "pages"),
         str(tmp_path / "idx"), "--positions"],
        check=True, timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    sp = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "span", str(tmp_path / "idx"),
         "the data", "--slop", "2", "--in-order"],
        check=True, timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    span_rows = [l.split("\t") for l in sp.stdout.splitlines() if "\t" in l]
    assert span_rows and all(int(n) >= 1 for _, n in span_rows)

    spec = {"any_of": {"intervals": [
        {"match": {"terms": ["merge"]}},
        {"match": {"terms": ["the", "data"], "max_gaps": 0, "ordered": True}},
    ]}}
    iv = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "intervals", str(tmp_path / "idx"),
         json.dumps(spec)],
        check=True, timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    iv_rows = {int(d): int(n) for d, n in
               (l.split("\t") for l in iv.stdout.splitlines() if "\t" in l)}
    assert iv_rows

    # reference: tokenize the same generated corpus directly; CLI doc_ids
    # are xxhash64(url) (JVM-side), so compare the count MULTISET (the
    # per-doc identity parity is covered by test_phrase's brute forces)
    from webindex.pagesgen import make_page
    from webindex.textproc import extract_text, tokenize

    want_counts = []
    for i in range(120):
        toks = tokenize(extract_text(make_page(i)["html"]))
        merges = sum(1 for t in toks if t == "merge")
        phr = sum(
            1 for j in range(len(toks) - 1)
            if toks[j] == "the" and toks[j + 1] == "data"
        )
        if merges + phr:
            want_counts.append(merges + phr)
    assert want_counts and sorted(iv_rows.values()) == sorted(want_counts)


def test_cli_delete_on_never_ingested_workdir(tmp_path):
    """delete / delete-by-query on a workdir nothing was ever ingested into
    are recorded no-ops: the CLI says so and exits 0."""
    wd = str(tmp_path / "fresh")
    out = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "delete", wd,
         "https://site1.example/page/1"],
        timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "no index committed yet" in out.stdout
    out = subprocess.run(
        [sys.executable, "-m", "webindex.cli", "delete-by-query", wd, "data"],
        timeout=300, capture_output=True, text=True, cwd=REPO,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "no index committed yet" in out.stdout
