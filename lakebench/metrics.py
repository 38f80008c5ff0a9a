"""The benchmark's per-layer metrics and how they are computed from spans.

A per-layer metric is ``<span name>.<counter>``. Its value for one traced
pass sums over every span of that name inside the pass:

- ``wall_s``   span wall time
- ``self_s``   wall minus the wall of its child spans
- ``calls``    number of spans
- ``jobs``     Spark jobs run by the span and its descendants
- ``cpu_s``    executor CPU time of those jobs' stages
- ``driver_s`` wall not covered by any of those jobs' intervals

The ``spark.*`` metrics cover every engine call of the pass (the output
gate's own jobs excluded). A layer a workload does not reach reads 0.
REST-derived counters read ``None`` when the UI REST API is unreachable.
"""

from __future__ import annotations

from lakebench.layers import DEDUP_FUNCS
from lakebench.workloads import GATE_SPAN, GOLD, QUERIES, SILVER

SPAN_METRICS: list[tuple[str, str]] = [
    *[
        (f"plans.pipeline.{fn}", c)
        for fn in ("run_bronze_to_silver", "run_silver_to_gold", "validate_silver", "incremental")
        for c in ("wall_s", "jobs", "driver_s")
    ],
    *[(f"sources.tables.{t}", c) for t in SILVER + GOLD for c in ("wall_s", "jobs", "cpu_s")],
    ("sources.bronze.read_bronze", "calls"),
    ("sources.bronze.read_bronze", "wall_s"),
    ("operators.scd2.scd2_merge_incremental", "wall_s"),
    *[("plans.corpus.run_corpus_pipeline", c) for c in ("wall_s", "self_s", "jobs", "cpu_s", "driver_s")],
    *[(f"operators.dedup.{f}", "wall_s") for f in DEDUP_FUNCS],
    ("operators.dedup.apply_dedup", "jobs"),
    ("operators.mixture.budgeted_mixture", "wall_s"),
    ("operators.textstats.chunk_documents", "wall_s"),
    *[
        (f"sources.shards.{fn}", c)
        for fn in ("write_training_shards", "verify_training_shards")
        for c in ("wall_s", "jobs", "cpu_s")
    ],
    *[(f"registry.{q}", c) for q in QUERIES for c in ("wall_s", "jobs", "cpu_s")],
]

def _sum(vals):
    vals = list(vals)
    return None if any(v is None for v in vals) else sum(vals)


def _counter(span, c):
    if c == "wall_s":
        return span.wall_s
    if c == "self_s":
        return span.self_s
    if c == "calls":
        return 1
    if c == "jobs":
        return span.jobs
    if c == "cpu_s":
        return span.total("cpu_s")
    if c == "driver_s":
        return span.driver_s
    raise KeyError(c)


def pass_metrics(pass_span, nproc: int, bytes_ratio: float) -> dict:
    """Per-layer metric values for one traced pass. The ``spark.*`` totals
    and the overhead ratio cover the engine calls, not the output gate."""
    by_name: dict[str, list] = {}
    for s in pass_span.walk():
        by_name.setdefault(s.name, []).append(s)
    out = {
        f"{name}.{c}": _sum(_counter(s, c) for s in by_name.get(name, []))
        for name, c in SPAN_METRICS
    }
    engine = [c for c in pass_span.children if c.name != GATE_SPAN]
    wall = sum(c.wall_s for c in engine)
    run_s = _sum(c.total("run_s") for c in engine)
    # the engine calls as the workload times them: each top-level span's
    # wall plus the bookkeeping right after it
    traced = wall + sum(c.collect_s for c in engine)
    overhead = sum(c.overhead_s + c.collect_s for c in engine)
    out.update(
        {
            "spark.jobs": sum(c.jobs for c in engine),
            "spark.cpu_s": _sum(c.total("cpu_s") for c in engine),
            "spark.shuffle_bytes": _sum(c.total("shuffle_bytes") for c in engine),
            "spark.spill_bytes": _sum(c.total("spill_bytes") for c in engine),
            "spark.gc_s": _sum(c.total("gc_s") for c in engine),
            "spark.executor_busy_ratio": None if run_s is None else run_s / (wall * nproc),
            "sources.tables.bytes_per_input_byte": bytes_ratio,
            "trace.overhead_ratio": traced / (traced - overhead),
        }
    )
    return out
