"""Metric names and units — the single list ``BENCHMARK.json`` mirrors
(``test_harness.py`` keeps the two in step) — and the reduction of a traced
run's spans to the per-layer metrics.

End-to-end metrics are the same on every workload; what an op is differs:

=================  ==========================  ==========================
workload           op (``op_*_s``)             ``work_per_s``
=================  ==========================  ==========================
batch_build        one build, to edges_all     docs built per build-second
fuzzy_build        one fuzzy build             docs built per build-second
stream_update      one drop, due → drained     docs drained per drain-second
graph_query        one query                   queries per second
=================  ==========================  ==========================
"""

from __future__ import annotations

from harness import Span, Tracer

END_TO_END = [
    # (name, unit, better, bound). Timings on a shared 4-core host drift
    # ~10% between runs (whole-run speed, not per-op noise), so every
    # timing gets the largest bound allowed; stored bytes and the ok share
    # are near-deterministic per seed.
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("work_per_s", "1/s", "higher", 0.25),
    ("stored_bytes_per_doc", "B", "lower", 0.15),
    ("peak_rss_mb", "MB", "lower", 0.25),
    ("ok_op_share", "ratio", "higher", 0.1),
]

QUERIES = (
    "counts", "influence_topk", "neighbors_out", "similar_union",
    "bfs_subgraph", "two_hop", "recursive_chain",
)
SPARK_GROUPS = (
    "html_text", "extraction", "validation", "canonicalize", "linking",
    "table_io", "streaming", "graph_queries",
)

# name -> unit
PER_LAYER: dict[str, str] = {
    "linking.cross_link.self_s": "s",
    "linking.cross_link.postings": "count",
    "linking.cross_link.candidate_pairs": "count",
    "linking.cross_link.shuffle_write_bytes": "B",
    "linking.cross_link.task_skew": "ratio",
    "linking.build_nodes.self_s": "s",
    "linking.build_edges.self_s": "s",
    "linking.cross_link_incremental.self_s": "s",
    "linking.cross_link_incremental.candidate_pairs": "count",
    "table_io.write_stage.self_s": "s",
    "table_io.commit_union.self_s": "s",
    "table_io.bytes_written": "B",
    "table_io.append_rows.self_s": "s",
    "table_io.append_rows.delta_ratio": "ratio",
    "table_io.compact.count": "count",
    "table_io.compact.self_s": "s",
    "table_io.compact.bytes_rewritten": "B",
    "table_io.read.snapshots": "count",
    "streaming.ingest.fixed_s": "s",
    "streaming.ingest.drops_per_drain": "count",
    "streaming.ingest.backlog_at_start": "count",
    "html_text.extract_text.self_s": "s",
    "extraction.metadata.self_s": "s",
    "extraction.metadata.rows_out": "count",
    "extraction.mentions.self_s": "s",
    "extraction.mentions.rows_out": "count",
    "extraction.triples.self_s": "s",
    "extraction.triples.rows_out": "count",
    "validation.mentions.self_s": "s",
    "validation.mentions.kept_ratio": "ratio",
    "validation.triples.self_s": "s",
    "validation.triples.kept_ratio": "ratio",
    "canonicalize.canonicalize_fuzzy.self_s": "s",
    "canonicalize.canonicalize_fuzzy.alias_pairs": "count",
    "canonicalize.canonicalize_fuzzy.clusters": "count",
    "canonicalize.canonicalize_fuzzy.merge_ratio": "ratio",
    **{f"graph_queries.{q}.p50_s": "s" for q in QUERIES},
    **{f"graph_queries.{q}.failed": "count" for q in QUERIES},
    **{f"{g}.core_busy_share": "ratio" for g in SPARK_GROUPS},
    **{f"{g}.gc_s": "s" for g in SPARK_GROUPS},
    **{f"{g}.spill_bytes": "B" for g in SPARK_GROUPS},
    **{f"{g}.task_count": "count" for g in SPARK_GROUPS},
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
    "trace.blocking_self_s": "s",
    "trace.unattributed_s": "s",
}

# per-layer metrics where a higher value is better (all others: lower)
PER_LAYER_HIGHER = {"table_io.append_rows.delta_ratio", "validation.mentions.kept_ratio",
                    "validation.triples.kept_ratio", "canonicalize.canonicalize_fuzzy.merge_ratio"}


def better(name: str) -> str:
    if name in PER_LAYER_HIGHER or name.endswith("core_busy_share"):
        return "higher"
    return "lower"


def layer_metrics(tr: Tracer, untraced_wall_s: float, root: Span) -> dict[str, float]:
    """Reduce a traced run's spans to every :data:`PER_LAYER` metric; a
    layer that did no work on the workload reads 0."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    self_s = {s.id: tr.self_time(s) for s in tr.spans}

    def named(name):
        return [s for s in tr.spans if s.name == name]

    for name in PER_LAYER:
        if name.endswith(".self_s"):
            m[name] = sum(self_s[s.id] for s in named(name[: -len(".self_s")]))
    for stat in ("postings", "candidate_pairs", "task_skew"):
        m[f"linking.cross_link.{stat}"] = sum(s.counts.get(stat, 0) for s in named("linking.cross_link"))
    m["linking.cross_link.shuffle_write_bytes"] = sum(
        s.spark.get("shuffle_write_bytes", 0) for s in named("linking.cross_link"))
    m["linking.cross_link_incremental.candidate_pairs"] = sum(
        s.counts.get("candidate_pairs", 0) for s in named("linking.cross_link_incremental"))
    m["table_io.bytes_written"] = sum(s.counts.get("bytes_written", 0) for s in tr.spans)
    appends = named("table_io.append_rows")
    offered = sum(s.counts.get("offered", 0) for s in appends)
    m["table_io.append_rows.delta_ratio"] = (
        sum(s.counts.get("kept", 0) for s in appends) / offered if offered else 0.0)
    compacts = named("table_io.compact")
    m["table_io.compact.count"] = len(compacts)
    m["table_io.compact.bytes_rewritten"] = sum(s.counts.get("bytes_rewritten", 0) for s in compacts)
    reads = named("table_io.read")
    m["table_io.read.snapshots"] = max((s.counts.get("snapshots", 0) for s in reads), default=0)
    drains = named("streaming.ingest")
    inner = [s for s in named("plans.pipeline.run_pipeline_incremental")
             if s.parent in {d.id for d in drains}]
    m["streaming.ingest.fixed_s"] = sum(d.dur for d in drains) - sum(s.dur for s in inner)
    for stat in ("drops_per_drain", "backlog_at_start"):
        m[f"streaming.ingest.{stat}"] = max((d.counts.get(stat, 0) for d in drains), default=0)
    for stage in ("metadata", "mentions", "triples"):
        m[f"extraction.{stage}.rows_out"] = sum(s.counts.get("rows_out", 0) for s in named(f"extraction.{stage}"))
    for stage in ("mentions", "triples"):
        spans = named(f"validation.{stage}")
        m[f"validation.{stage}.kept_ratio"] = spans[-1].counts["kept_ratio"] if spans else 0.0
    can = named("canonicalize.canonicalize_fuzzy")
    for stat in ("alias_pairs", "clusters", "merge_ratio"):
        m[f"canonicalize.canonicalize_fuzzy.{stat}"] = can[-1].counts.get(stat, 0) if can else 0
    for q in QUERIES:
        spans = named(f"graph_queries.{q}")
        ok = sorted(s.dur for s in spans if s.error is None)
        m[f"graph_queries.{q}.p50_s"] = ok[len(ok) // 2] if ok else 0.0
        m[f"graph_queries.{q}.failed"] = sum(s.error is not None for s in spans)
    for g in SPARK_GROUPS:
        spans = [s for s in tr.spans if s.name.startswith(g + ".")]
        run = sum(s.spark.get("executor_run_s", 0.0) for s in spans)
        busy_wall = sum(self_s[s.id] for s in spans)
        m[f"{g}.core_busy_share"] = run / (busy_wall * tr.cores) if busy_wall > 0 else 0.0
        m[f"{g}.gc_s"] = sum(s.spark.get("gc_s", 0.0) for s in spans)
        m[f"{g}.spill_bytes"] = sum(s.spark.get("spill_bytes", 0) for s in spans)
        m[f"{g}.task_count"] = sum(s.spark.get("task_count", 0) for s in spans)
    m["trace.untraced_wall_s"] = untraced_wall_s
    m["trace.traced_wall_s"] = root.dur
    m["trace.overhead_s"] = root.dur - untraced_wall_s
    # self times of the layer spans on the traced op's blocking path (the
    # root's descendants), and the root's own self time: wall time that no
    # layer span covers
    inside = {root.id}
    for s in tr.spans:  # spans are recorded in start order, parents first
        if s.parent in inside:
            inside.add(s.id)
    inside.discard(root.id)
    m["trace.blocking_self_s"] = sum(
        self_s[s.id] for s in tr.spans if s.id in inside and s.on_path)
    m["trace.unattributed_s"] = self_s[root.id]
    return m
