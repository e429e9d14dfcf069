"""spark-submit entrypoints (north rule: runs via spark-submit --py-files).

Usage (spark-submit takes an application file, not -m):
  spark-submit --py-files webindex.zip webindex/cli.py build  <pages_path> <workdir> [--quantize-norms] [--positions]
  spark-submit --py-files webindex.zip webindex/cli.py query  <workdir> <query> [k] [--operator and] [--msm N] [--after score:doc_id]
  spark-submit --py-files webindex.zip webindex/cli.py bool   <workdir> [k] [--must "..."] [--should "..."] [--must-not "..."] [--filter "..."] [--msm N]
  spark-submit --py-files webindex.zip webindex/cli.py phrase <workdir> "<phrase>" [k] [--slop N]   (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py highlight <workdir> <query> [k]              (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py agg    <workdir> <stored_parquet> <query> <field> [--interval N]
  spark-submit --py-files webindex.zip webindex/cli.py phrase-prefix <workdir> "<phrase>" [k] [--slop N] [--max-expansions N]  (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py prefix <workdir> <prefix> [k] [--max-expansions N]
  spark-submit --py-files webindex.zip webindex/cli.py fuzzy  <workdir> <word> [k] [--fuzziness N] [--max-expansions N]
  spark-submit --py-files webindex.zip webindex/cli.py mlt    <workdir> "<like text>" [k] [--max-query-terms N] [--min-doc-freq N]
  spark-submit --py-files webindex.zip webindex/cli.py sqs    <workdir> '<simple query string>' [k] [--operator and|or]   (phrases need --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py rescore <workdir> <query> "<phrase>" [k] [--window N] [--query-weight W] [--rescore-weight W]  (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py span <workdir> "<terms>" [--slop N] [--in-order]   (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py intervals <workdir> '<spec json>'   (needs --positions build)
  spark-submit --py-files webindex.zip webindex/cli.py lookup-url <workdir> <url>
  spark-submit --py-files webindex.zip webindex/cli.py resume <pages_path> <workdir>
  spark-submit --py-files webindex.zip webindex/cli.py ingest <pages_path> <inc_workdir> [--positions]   (incremental: stream + compact)
  spark-submit --py-files webindex.zip webindex/cli.py delete <inc_workdir> <url> [<url> ...]
  spark-submit --py-files webindex.zip webindex/cli.py delete-by-query <inc_workdir> "<query>" [--msm N]
or locally:
  python -m webindex.cli build <pages_path> <workdir>

The package is pure Python (numpy/pandas on executors only inside Arrow
UDFs), so `zip -r webindex.zip webindex` + --py-files is the whole deploy.
"""

from __future__ import annotations

import sys

from webindex.bm25 import DEFAULT
from webindex.session import get_spark


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print(__doc__)
        return 2
    cmd = argv[1]
    spark = get_spark(app=f"webindex-{cmd}")

    if cmd == "build":
        from webindex.build import build_index

        conf = DEFAULT
        if "--quantize-norms" in argv:
            from dataclasses import replace

            argv = [a for a in argv if a != "--quantize-norms"]
            conf = replace(DEFAULT, quantize_norms=True)
        positions = "--positions" in argv
        argv = [a for a in argv if a != "--positions"]
        pages = spark.read.parquet(argv[2])
        idx = build_index(
            spark, pages, conf, text_col="html", out_dir=argv[3],
            positions=positions,
        )
        print(f"built: {idx.n_docs} docs, avgdl={idx.avgdl:.2f} -> {argv[3]}")
    elif cmd == "resume":
        from webindex.checkpoint import build_index_resumable

        pages = spark.read.parquet(argv[2])
        idx = build_index_resumable(spark, pages, argv[3])
        print(f"built (resumable): {idx.n_docs} docs -> {argv[3]}/index")
    elif cmd == "query":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_after, topk_match, topk_with_urls

        operator, msm, after = "or", 1, None
        if "--operator" in argv:
            i = argv.index("--operator")
            operator = argv[i + 1]
            argv = argv[:i] + argv[i + 2 :]
        if "--msm" in argv:
            i = argv.index("--msm")
            msm = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--after" in argv:
            i = argv.index("--after")
            s, d = argv[i + 1].split(":")
            after = (float(s), int(d))
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        if after is not None:
            hits = topk_after(idx, argv[3], k, after=after)
            rows = (
                hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .collect()
            )
        elif operator == "and" or msm > 1:
            hits = topk_match(
                idx, argv[3], k, operator=operator, minimum_should_match=msm
            )
            rows = (
                hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
                .orderBy(F.desc("score"), F.asc("doc_id"))
                .collect()
            )
        else:
            rows = topk_with_urls(idx, argv[3], k).collect()
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "bool":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_bool

        clauses = {"--must": "", "--should": "", "--must-not": "", "--filter": ""}
        msm = None
        for flag in list(clauses):
            if flag in argv:
                i = argv.index(flag)
                clauses[flag] = argv[i + 1]
                argv = argv[:i] + argv[i + 2 :]
        if "--msm" in argv:
            i = argv.index("--msm")
            msm = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[3]) if len(argv) > 3 else 10
        hits = topk_bool(
            idx, must=clauses["--must"], should=clauses["--should"],
            must_not=clauses["--must-not"], filter_=clauses["--filter"],
            k=k, minimum_should_match=msm,
        )
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "highlight":
        from webindex.build import load_index
        from webindex.query import highlight_topk

        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        for row in highlight_topk(idx, argv[3], k).collect():
            print(
                f"{row['score']:.17g}\t{row['doc_id']}\t"
                f"{row['hl_term']}@{row['hl_pos']}"
            )
    elif cmd == "agg":
        from webindex.aggs import histogram_agg, terms_agg
        from webindex.build import load_index

        interval = None
        if "--interval" in argv:
            i = argv.index("--interval")
            interval = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        stored = spark.read.parquet(argv[3])
        if "doc_id" not in stored.columns:
            # stored fields keyed like the CLI build keys the index
            from webindex.build import assign_doc_ids

            stored = assign_doc_ids(stored)
        if interval is not None:
            rows = histogram_agg(idx, stored, argv[4], argv[5], interval).collect()
            for row in rows:
                print(f"{row['bucket']}\t{row['doc_count']}")
        else:
            rows = terms_agg(idx, stored, argv[4], argv[5]).collect()
            for row in rows:
                print(f"{row[argv[5]]}\t{row['doc_count']}")
    elif cmd == "phrase":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_phrase

        slop = 0
        if "--slop" in argv:
            i = argv.index("--slop")
            slop = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        hits = topk_phrase(idx, argv[3], k, slop=slop)
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "phrase-prefix":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_phrase_prefix

        slop, max_exp = 0, 50
        if "--slop" in argv:
            i = argv.index("--slop")
            slop = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--max-expansions" in argv:
            i = argv.index("--max-expansions")
            max_exp = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        hits = topk_phrase_prefix(
            idx, argv[3], k, max_expansions=max_exp, slop=slop
        )
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd in ("prefix", "fuzzy"):
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_fuzzy, topk_prefix

        fuzziness, max_exp = 1, None
        if "--fuzziness" in argv:
            i = argv.index("--fuzziness")
            fuzziness = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--max-expansions" in argv:
            i = argv.index("--max-expansions")
            max_exp = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        if cmd == "prefix":
            hits = topk_prefix(idx, argv[3], k, max_expansions=max_exp)
        else:
            hits = topk_fuzzy(
                idx, argv[3], k, fuzziness=fuzziness,
                max_expansions=50 if max_exp is None else max_exp,
            )
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "mlt":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import more_like_this

        mqt, mdf = 25, 2
        if "--max-query-terms" in argv:
            i = argv.index("--max-query-terms")
            mqt = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--min-doc-freq" in argv:
            i = argv.index("--min-doc-freq")
            mdf = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        hits = more_like_this(
            idx, argv[3], k, max_query_terms=mqt, min_doc_freq=mdf
        )
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "sqs":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import simple_query_string

        op = "or"
        if "--operator" in argv:
            i = argv.index("--operator")
            op = argv[i + 1]
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[4]) if len(argv) > 4 else 10
        hits = simple_query_string(idx, argv[3], default_operator=op, k=k)
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "rescore":
        from pyspark.sql import functions as F

        from webindex.build import load_index
        from webindex.query import topk_rescore

        window, qw, rw = 100, 1.0, 1.0
        if "--window" in argv:
            i = argv.index("--window")
            window = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--query-weight" in argv:
            i = argv.index("--query-weight")
            qw = float(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        if "--rescore-weight" in argv:
            i = argv.index("--rescore-weight")
            rw = float(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        idx = load_index(spark, argv[2])
        k = int(argv[5]) if len(argv) > 5 else 10
        hits = topk_rescore(
            idx, argv[3], argv[4], window=window,
            query_weight=qw, rescore_weight=rw, k=k,
        )
        rows = (
            hits.join(idx.doc_stats.select("doc_id", "url"), "doc_id", "left")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        for row in rows:
            print(f"{row['score']:.17g}\t{row['doc_id']}\t{row['url']}")
    elif cmd == "span":
        from webindex.build import load_index
        from webindex.query import span_near_docs
        from webindex.textproc import tokenize

        slop = 0
        if "--slop" in argv:
            i = argv.index("--slop")
            slop = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        in_order = "--in-order" in argv
        argv = [a for a in argv if a != "--in-order"]
        idx = load_index(spark, argv[2])
        terms = tokenize(argv[3])
        for row in span_near_docs(idx, terms, slop=slop, in_order=in_order).collect():
            print(f"{row['doc_id']}\t{row['n_spans']}")
    elif cmd == "intervals":
        import json as _json

        from webindex.build import load_index
        from webindex.query import intervals_docs

        idx = load_index(spark, argv[2])
        spec = _json.loads(argv[3])
        for row in intervals_docs(idx, spec).collect():
            print(f"{row['doc_id']}\t{row['n_intervals']}")
    elif cmd == "lookup-url":
        from webindex.build import load_index
        from webindex.query import lookup_url

        idx = load_index(spark, argv[2])
        for row in lookup_url(idx, argv[3]).collect():
            print(f"{row['doc_id']}\t{row['url']}\t{row['doc_len']}")
    elif cmd == "ingest":
        from webindex.streaming import IncrementalIndexer

        positions = "--positions" in argv
        argv = [a for a in argv if a != "--positions"]
        indexer = IncrementalIndexer(
            spark, argv[3], text_col="html", positions=positions
        )
        indexer.start(argv[2], trigger_available_now=True).awaitTermination()
        idx = indexer.compact()
        print(f"ingested+compacted: {idx.n_docs} docs -> {argv[3]}/index")
    elif cmd == "delete":
        from webindex.streaming import IncrementalIndexer

        # .open() adopts the workdir's committed positional layout, so
        # deletes work on indexes ingested with --positions too
        indexer = IncrementalIndexer.open(spark, argv[2], text_col="html")
        idx = indexer.delete(argv[3:])
        if idx is None:
            print(f"no index committed yet at {argv[2]}: nothing to delete")
        else:
            print(f"deleted {len(argv) - 3} url(s): {idx.n_docs} docs remain")
    elif cmd == "delete-by-query":
        from webindex.streaming import IncrementalIndexer

        msm = 1
        if "--msm" in argv:
            i = argv.index("--msm")
            msm = int(argv[i + 1])
            argv = argv[:i] + argv[i + 2 :]
        indexer = IncrementalIndexer.open(spark, argv[2], text_col="html")
        idx = indexer.delete_by_query(argv[3], msm=msm)
        if idx is None:
            print(f"no index committed yet at {argv[2]}: nothing to delete")
        else:
            print(f"delete-by-query {argv[3]!r}: {idx.n_docs} docs remain")
    else:
        print(__doc__)
        return 2
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
