"""Per-layer metrics of a traced run.

Every span belongs to one timed operation of a kind (``build``,
``batch_v2``, ``batch_v1``, ``adhoc``, ``serve``); its self time goes to
the layer that the pair (kind, entry point) names in ``LAYER``, and each
layer reports its time per operation of that kind. A Spark action
(``collect`` / ``toPandas``) is the job time of a batch or single
query, and a block fetch under serving. Build phases come from each
index's own ``checkpoints`` table. Layers a workload does not run
report 0.
"""

from __future__ import annotations

import statistics

import eventlog

UNITS = {
    "build.analyze_s": "s", "build.blocks_s": "s", "build.derived_s": "s",
    "search.wand.plan_ms": "ms", "search.wand.job_ms": "ms",
    "search.wand.merge_ms": "ms",
    "search.wand.adhoc_plan_ms": "ms", "search.wand.adhoc_job_ms": "ms",
    "search.wand.rewrite_ms": "ms", "search.wand.eval_ms": "ms",
    "search.executor.plan_ms": "ms", "search.executor.job_ms": "ms",
    "search.executor.merge_ms": "ms",
    "index.codec.decode_ms": "ms", "index.codec.decode_calls": "count",
    "serve.fetch_ms": "ms", "serve.fetches_per_query": "count",
    "serve.miss_share": "ratio",
    "spark.stages_per_op": "count", "spark.tasks_per_op": "count",
    "spark.task_cpu_ms": "ms", "spark.gc_ms": "ms",
    "spark.input_bytes": "B", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.task_skew": "ratio",
    "spark.wait_ms": "ms",
    "trace.coverage": "ratio", "trace.ops_per_s": "1/s",
    "trace.p50_ms": "ms",
}

#: (op kind, span name or prefix) -> layer metric; the first match wins
LAYER = [
    ("batch_v2", "search.wand.search_many_df", "search.wand.plan_ms"),
    ("batch_v2", "search.wand.rewrite", "search.wand.plan_ms"),
    ("batch_v2", "search.wand.search_many", "search.wand.merge_ms"),
    ("batch_v2", "spark.", "search.wand.job_ms"),
    ("batch_v1", "search.executor.search_many_df", "search.executor.plan_ms"),
    ("batch_v1", "search.executor.search_many", "search.executor.merge_ms"),
    ("batch_v1", "spark.", "search.executor.job_ms"),
    ("adhoc", "spark.", "search.wand.adhoc_job_ms"),
    ("adhoc", "search.wand.", "search.wand.adhoc_plan_ms"),
    ("serve", "search.wand.rewrite", "search.wand.rewrite_ms"),
    ("serve", "search.wand.search_local", "search.wand.eval_ms"),
    ("serve", "index.codec.", "index.codec.decode_ms"),
    ("serve", "spark.", "serve.fetch_ms"),
]
#: op kinds whose Spark jobs the spark.* metrics describe
SPARK_KINDS = ("build", "batch_v2", "batch_v1")


def layer_of(kind: str, name: str) -> str | None:
    for k, prefix, metric in LAYER:
        if k == kind and name.startswith(prefix):
            return metric
    return None


def per_layer(run, tracer, event_dir: str) -> dict[str, float]:
    m = dict.fromkeys(UNITS, 0.0)
    spans, kinds = tracer.spans, tracer.op_kinds
    ops_of = {k: kinds.count(k) for k in set(kinds)}
    engine_s = 0.0
    fetches: dict[int, int] = {}        # serve op -> Spark fetches
    for i, self_s in enumerate(tracer.self_times()):
        op, name = spans[i][0], spans[i][1]
        if op < 0 or name == "bench.op":
            continue
        engine_s += self_s
        kind = kinds[op]
        metric = layer_of(kind, name)
        if metric is not None:
            m[metric] += self_s * 1000.0 / ops_of[kind]
        if kind == "serve" and name.startswith("index.codec.") \
                and not tracer.has_ancestor(i, "index.codec."):
            m["index.codec.decode_calls"] += 1 / ops_of[kind]
        if kind == "serve" and name.startswith("spark."):
            fetches[op] = fetches.get(op, 0) + 1
    if "serve" in ops_of:
        m["serve.fetches_per_query"] = sum(fetches.values()) / ops_of["serve"]
        m["serve.miss_share"] = len(fetches) / ops_of["serve"]

    # build: phases from each index's checkpoints table
    for rows, wall in zip(run.checkpoints, run.lat_s.get("build", [])):
        analyze = sum(r["wall_sec"] for r in rows if r["stage"] == "docmap")
        blocks = sum(r["wall_sec"] for r in rows if r["stage"] == "blocks")
        n = len(run.checkpoints)
        m["build.analyze_s"] += analyze / n
        m["build.blocks_s"] += blocks / n
        m["build.derived_s"] += (wall - analyze - blocks) / n

    items, secs = run.throughput
    m["trace.coverage"] = engine_s / run.loop_s
    m["trace.ops_per_s"] = items / secs
    m["trace.p50_ms"] = statistics.median(run.lat_s[run.latency_kind]) * 1000.0
    windows = [(tracer.epoch_offset + t0, tracer.epoch_offset + t1)
               for op, name, t0, t1, _p in spans
               if name == "bench.op" and op >= 0 and kinds[op] in SPARK_KINDS]
    m.update(eventlog.summarize(eventlog.read_events(event_dir), windows))
    return m
