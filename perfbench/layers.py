"""Per-layer numbers of a traced run, from the spans and the status store.

Layer wall time comes from spans for calls that pay their cost inside the
call, and from the union of the layer's job intervals for markers (lazy plan
constructors whose work runs in later actions). Task time, shuffle, input,
spill and failed tasks come from the stages of each layer's jobs.
"""

from __future__ import annotations

import os

from tracing import aggregate_by_group, layer_of, self_times

# every workload exercises these layers, so every traced run reports them
COMMON = {
    "session.start_s": "s",
    "build.tokenize.s": "s",
    "build.tokenize.task_s": "s",
    "build.vocab.s": "s",
    "build.vocab.shuffle_bytes": "bytes",
    "build.hash_resolve.s": "s",
    "build.postings.s": "s",
    "build.postings.task_s": "s",
    "build.postings.task_share": "ratio",
    "build.postings.shuffle_bytes": "bytes",
    "build.postings.spill_bytes": "bytes",
    "build.postings.blocks": "count",
    "build.postings.block_fill": "ratio",
    "io.write_driver_table.s": "s",
    "query.probe.s": "s",
    "query.execute.s": "s",
    "query.jobs_per_query": "count",
    "query.exchange.bytes_per_query": "bytes",
    "query.kernel.task_s": "s",
    "query.scan.input_records_per_hit": "count",
    "query.theta_seeded_share": "ratio",
    "query.batch_execute.s": "s",
    "spark.failed_tasks": "count",
}

ZERO = {
    "jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
    "input_records": 0, "spill_bytes": 0, "failed_tasks": 0,
    "post_shuffle_task_s": 0.0, "wall_s": 0.0,
}

BUILD_PREFIXES = ("build.", "io.write_table.", "io.write_driver_table", "streaming.")


def _sum(groups: dict, names) -> dict:
    out = dict(ZERO)
    for n in names:
        for f, v in groups.get(n, ZERO).items():
            if f != "wall_s":
                out[f] += v
    return out


def postings_blocks(postings_dir: str, block_size: int) -> tuple[int, float]:
    """(blocks, postings / (blocks * block_size)) from the committed
    postings table's n_docs column."""
    import pyarrow.dataset as ds

    t = ds.dataset(postings_dir, format="parquet", partitioning="hive").to_table(
        columns=["n_docs"]
    )
    blocks = t.num_rows
    postings = int(t.column("n_docs").to_numpy().sum()) if blocks else 0
    return blocks, postings / (blocks * block_size) if blocks else 0.0


def compute(run, spans: list[dict], jobs: list[dict], stages: dict, start_s: float):
    """-> (metrics for the JSON line, extra rows for the report table)."""
    by_layer = aggregate_by_group(jobs, stages)
    by_span = aggregate_by_group(jobs, stages, key=lambda g: g or "(none)")
    selft = self_times(spans)

    def span_total(name: str) -> float:
        return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

    def job_wall(*names: str) -> float:
        # union of the job intervals of several layers
        merged = aggregate_by_group(
            [j for j in jobs if layer_of(j["group"]) in names], stages, key=lambda g: "x"
        )
        return merged.get("x", ZERO)["wall_s"]

    m: dict[str, float] = {"session.start_s": start_s}
    tok = by_layer.get("build.tokenize", ZERO)
    m["build.tokenize.s"] = job_wall("build.tokenize")
    m["build.tokenize.task_s"] = tok["task_s"]
    m["build.vocab.s"] = span_total("build.vocab")
    m["build.vocab.shuffle_bytes"] = by_layer.get("build.vocab", ZERO)["shuffle_write_bytes"]
    m["build.hash_resolve.s"] = span_total("build.hash_resolve")

    post_layers = ("build.postings", "io.write_table.postings")
    post = _sum(by_layer, post_layers)
    build_task = sum(
        g["task_s"] for name, g in by_layer.items() if name.startswith(BUILD_PREFIXES)
    )
    m["build.postings.s"] = job_wall(*post_layers)
    m["build.postings.task_s"] = post["task_s"]
    m["build.postings.task_share"] = post["task_s"] / build_task if build_task else 0.0
    m["build.postings.shuffle_bytes"] = post["shuffle_write_bytes"]
    m["build.postings.spill_bytes"] = post["spill_bytes"]
    m["build.postings.blocks"], m["build.postings.block_fill"] = postings_blocks(
        run.postings_dir, run.block_size
    )
    m["io.write_driver_table.s"] = span_total("io.write_driver_table")

    # queries: one query.execute span per interactive query
    n_q = sum(1 for s in spans if s["name"] == "query.execute")
    ids = {s["id"]: s for s in spans}
    probes = [
        s for s in spans
        if s["name"] == "query.probe"
        and (s["parent"] is None or ids[s["parent"]]["name"] != "query.probe")
    ]
    qjobs = sum(by_layer.get(n, ZERO)["jobs"] for n in ("query.probe", "query.execute"))
    ex = by_layer.get("query.execute", ZERO)
    wand = [s for s in probes if s["fn"] == "topk_wand"]

    def seeded(s) -> bool:
        # the dictionary probe is one job; a θ seed adds at least two
        kids = [s["id"]] + [c["id"] for c in spans if c["parent"] == s["id"]]
        return sum(by_span.get(f"query.probe#{i}", ZERO)["jobs"] for i in kids) > 1

    m["query.probe.s"] = sum(s["end"] - s["start"] for s in probes) / max(1, n_q)
    m["query.execute.s"] = span_total("query.execute") / max(1, n_q)
    m["query.jobs_per_query"] = qjobs / max(1, n_q)
    m["query.exchange.bytes_per_query"] = ex["shuffle_write_bytes"] / max(1, n_q)
    m["query.kernel.task_s"] = ex["post_shuffle_task_s"] / max(1, n_q)
    m["query.scan.input_records_per_hit"] = ex["input_records"] / max(1, run.hits)
    m["query.theta_seeded_share"] = sum(map(seeded, wand)) / max(1, len(wand))
    m["query.batch_execute.s"] = span_total("query.batch_execute")
    m["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs)

    # -- workload-specific layers: reported in the table, not the JSON line
    extra: dict[str, float] = {}
    for name in sorted({s["name"] for s in spans}):
        if name.startswith(("io.write_table.", "streaming.", "dedup.")):
            extra[f"{name}.s"] = span_total(name)
    for b in (s for s in spans if s["name"] == "build.index"):
        writes = [c["start"] for c in spans if c["parent"] == b["id"]
                  and c["name"] == "io.write_driver_table"]
        if writes:
            extra["build.tail.s"] = extra.get("build.tail.s", 0.0) + b["end"] - min(writes)
    if "dedup.minhash_lsh" in by_layer:
        d = by_layer["dedup.minhash_lsh"]
        extra["dedup.lsh.shuffle_bytes"] = d["shuffle_write_bytes"]
        extra["dedup.lsh.pairs"] = run.report.get("lsh_pairs", 0)
    comp = getattr(run, "compactions_dir", None)
    if comp and os.path.isdir(comp):
        import pyarrow.dataset as ds

        rows = ds.dataset(comp, format="parquet").to_table().to_pylist()
        inc = [r for r in rows if r["kind"] == "incremental"]
        if inc and run.n_buckets:
            extra["streaming.compact.touched_bucket_share"] = sum(
                r["touched_buckets"] for r in inc
            ) / (len(inc) * run.n_buckets)
            extra["streaming.compact.rewrite_ratio"] = sum(
                r["decoded_old_rows"] for r in inc
            ) / max(1, sum(r["delta_rows"] for r in inc))

    # self time per layer (span duration minus its children's union)
    for name in sorted({s["name"] for s in spans}):
        extra[f"self.{name}.s"] = sum(selft[s["id"]] for s in spans if s["name"] == name)
    return m, extra
