"""Per-layer metrics of a traced run, from its spans and per-op counts.

Op metrics are medians over the traced measured ops (``*_per_op`` job
and task counts are means, which repeat exactly; JIT and GC time are
the driver JVM's compile and collection time during the op). Build metrics — the
validated-write path, the graph build and the derivation plan builders
— are taken over build cycles: every op of ``fec_bulk_elt`` and the
traced set-up bulk build of ``fec_incremental``. A layer a workload
bypasses reads 0.
"""

from __future__ import annotations

import statistics

from tracing import PLAN_BUILDERS
from workloads import QUERY_MIX

#: (name, unit, better) of every per-layer metric, in print order
METRICS = [
    ("io.validated_overwrite.ms", "ms", "lower"),
    ("io.validated_overwrite.calls", "count", "lower"),
    ("io.bytes_out_per_byte_in", "ratio", "lower"),
    ("io.files_out", "count", "lower"),
    ("fec.plan_build.ms", "ms", "lower"),
    ("fec.bulk_plan_build.ms", "ms", "lower"),
    ("fec.contribution_documents.ms", "ms", "lower"),
    ("io.doc_append.ms", "ms", "lower"),
    ("streaming.load_unprocessed.ms", "ms", "lower"),
    ("streaming.log_append.ms", "ms", "lower"),
    ("streaming.rows_scanned_per_row_loaded", "ratio", "lower"),
    ("streaming.log_files", "count", "lower"),
    ("graph.contribution_graph.ms", "ms", "lower"),
    *[(f"queries.{q}.ms", "ms", "lower") for q in QUERY_MIX],
    ("queries.plan.ms", "ms", "lower"),
    ("queries.exec.ms", "ms", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("jvm.jit_ms_per_op", "ms", "lower"),
    ("jvm.gc_ms_per_op", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower"),
]

_GRAPH_TABLES = ("graph_nodes", "graph_edges")


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _ms(spans, pred) -> float:
    return sum(s.ms for s in spans if pred(s))


def per_layer(tracer, ops) -> dict[str, tuple[float, str]]:
    by_op: dict[str, list] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    traced = [o for o in ops if o.traced]
    plain = [o for o in ops if not o.traced]
    builds = [op for op, spans in by_op.items() if op != "setup" and any(s.name == "io.validated_overwrite" for s in spans)]

    info = {op_id: dict(n) for op_id, n in tracer.notes.items()}  # jobs, tasks, build notes
    for o in ops:
        info.setdefault(o.op_id, {}).update(o.notes)
    build_notes = [info[b] for b in builds]

    def over_ops(fn) -> float:
        return _median([fn(by_op.get(o.op_id, [])) for o in traced])

    def over_builds(fn) -> float:
        return _median([fn(by_op[b]) for b in builds])

    def named(*names):
        return lambda spans: _ms(spans, lambda s: s.name in names)

    def plan_build(spans) -> float:
        return _ms(spans, lambda s: s.name in PLAN_BUILDERS)

    def scanned(o) -> float:
        rows = sum(s.attrs.get("scan_rows", 0) for s in by_op.get(o.op_id, []))
        return rows / o.rows if o.rows else 0.0

    def graph(spans) -> float:
        return _ms(spans, lambda s: s.name == "graph.contribution_graph" or (
            s.name == "io.validated_overwrite" and s.attrs.get("path", "").endswith(_GRAPH_TABLES)
        ))

    out = {
        "io.validated_overwrite.ms": over_builds(named("io.validated_overwrite")),
        "io.validated_overwrite.calls": over_builds(
            lambda spans: sum(s.name == "io.validated_overwrite" for s in spans)
        ),
        "io.bytes_out_per_byte_in": _median([n["bytes_out_per_byte_in"] for n in build_notes]),
        "io.files_out": _median([n["files_out"] for n in build_notes]),
        "fec.plan_build.ms": over_ops(plan_build),
        "fec.bulk_plan_build.ms": over_builds(plan_build),
        "fec.contribution_documents.ms": over_ops(named("fec.contribution_documents")),
        "io.doc_append.ms": over_ops(named("io.doc_append")),
        "streaming.load_unprocessed.ms": over_ops(
            named("streaming.load_unprocessed", "streaming.load_unprocessed.exec")
        ),
        "streaming.log_append.ms": over_ops(named("streaming.log_append")),
        "streaming.rows_scanned_per_row_loaded": _median([scanned(o) for o in traced]),
        "streaming.log_files": _median([info[o.op_id].get("log_files", 0) for o in traced]),
        "graph.contribution_graph.ms": over_builds(graph),
    }
    for q in QUERY_MIX:
        out[f"queries.{q}.ms"] = _median([o.ms for o in traced if o.name == q])
    out["queries.plan.ms"] = over_ops(
        lambda spans: _ms(spans, lambda s: s.name.startswith("queries.") and s.name.endswith(".plan"))
    )
    out["queries.exec.ms"] = over_ops(
        lambda spans: _ms(spans, lambda s: s.name.startswith("queries.") and s.name.endswith(".exec"))
    )
    out["spark.jobs_per_op"] = statistics.fmean([info[o.op_id]["jobs"] for o in traced])
    out["spark.tasks_per_op"] = statistics.fmean([info[o.op_id]["tasks"] for o in traced])
    out["jvm.jit_ms_per_op"] = _median([info[o.op_id]["jit_ms"] for o in traced])
    out["jvm.gc_ms_per_op"] = _median([info[o.op_id]["gc_ms"] for o in traced])
    base = _median([o.ms for o in plain])
    out["trace.overhead_pct"] = (_median([o.ms for o in traced]) / base - 1.0) * 100.0 if base else 0.0
    units = {name: unit for name, unit, _ in METRICS}
    return {name: (out[name], units[name]) for name, _, _ in METRICS}
