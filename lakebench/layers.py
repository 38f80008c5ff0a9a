"""Which engine functions the traced run wraps in spans, and under what name.

Spans are recorded from the benchmark's side of each call: the wrapper is
installed on the name the caller looks up (``plans.pipeline`` imports
``read_bronze`` into its own namespace, ``plans.corpus`` calls
``dedup.exact_dedup`` through the module), so the engine's code is not
modified. Span names follow ``<module>.<function>[.<qualifier>]`` with the
package prefix dropped; a table write (``TableStore.overwrite`` /
``overwrite_partitions``) is ``sources.tables.<table>``.

Most engine functions build a lazy plan, so their span holds the jobs the
function runs eagerly (checkpoints, probes, writes) plus its planning time;
the jobs a lazy plan causes later are attributed to whichever span runs
them — for the medallion tables that is the ``sources.tables.<table>``
span, for the corpus the enclosing ``plans.corpus.run_corpus_pipeline``.
"""

from __future__ import annotations

from contextlib import contextmanager

from f1_datalakehouse_pipeline_spark.operators import dedup, mixture
from f1_datalakehouse_pipeline_spark.plans import corpus, pipeline
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

DEDUP_FUNCS = (
    "exact_dedup",
    "minhash_lsh_pairs",
    "apply_dedup",
    "shingle_containment_pairs",
    "contamination_pairs",
    "semantic_dedup_flags",
)

# (owner, attribute, span name)
_FUNCS = [
    (pipeline, "read_bronze", "sources.bronze.read_bronze"),
    (pipeline, "scd2_merge_incremental", "operators.scd2.scd2_merge_incremental"),
    (corpus, "chunk_documents", "operators.textstats.chunk_documents"),
    (corpus, "write_training_shards", "sources.shards.write_training_shards"),
    (corpus, "verify_training_shards", "sources.shards.verify_training_shards"),
    (mixture, "budgeted_mixture", "operators.mixture.budgeted_mixture"),
    *[(dedup, f, f"operators.dedup.{f}") for f in DEDUP_FUNCS],
]


def _table_write(tracer, fn):
    def traced(self, df, table, *args, **kwargs):
        with tracer.span(f"sources.tables.{table}"):
            return fn(self, df, table, *args, **kwargs)

    return traced


@contextmanager
def instrumented(tracer):
    """Install span wrappers for the duration of the block."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in _FUNCS]
    saved += [(TableStore, m, getattr(TableStore, m)) for m in ("overwrite", "overwrite_partitions")]
    try:
        for owner, attr, name in _FUNCS:
            setattr(owner, attr, tracer.wrap(name, getattr(owner, attr)))
        for m in ("overwrite", "overwrite_partitions"):
            setattr(TableStore, m, _table_write(tracer, getattr(TableStore, m)))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
