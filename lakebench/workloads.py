"""The benchmark's workloads: set-up, one measured pass, and the output gate.

Each workload class has

- ``setup(rep)``: make the inputs under the run's work dir (the benchmark
  calls it several times and reports the median),
- ``run_pass(tracer)``: one closed-loop pass over the engine's public entry
  points, returning ``{"run_s": ..., "incremental_s": ...}``,
- ``gate``: a :class:`Gate` that counts every operation (transform write,
  engine call, output check) and every failure.

The timed regions cover only calls into the engine; output checks run
between them, untimed.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.plans import corpus as corpus_plan
from f1_datalakehouse_pipeline_spark.plans import pipeline as pl
from f1_datalakehouse_pipeline_spark.sources.shards import read_training_shards
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

from lakebench.inputs import documents_table

SILVER = [
    "sessions_silver",
    "drivers_silver",
    "qualifying_results_silver",
    "race_results_silver",
    "laps_silver",
    "pitstops_silver",
]
GOLD = [
    "championship_tracker",
    "driver_performance_summary_race",
    "driver_performance_summary_qualifying",
    "race_weekend_insights",
]
QUALITY_CHECKS = [
    "race_position_range",
    "race_points_range",
    "quali_gap_non_negative",
    "points_reconciliation",
    "scd2_single_current",
    "scd2_contiguous",
]
# The registry queries of the corpus_queries workload: one per plan family
# of bench.py's headline set that no pipeline reaches (star join, window
# stack, as-of, top-k), plus the all-pairs embedding similarity join and
# SemDeDup (the semantic-dedup operator, measured here rather than inside
# the corpus build). The rest of the headline set does not fit the run
# budget (lakebench/README.md).
QUERIES = [
    "j4_star_join_revenue", "w4_w6_w7_championship", "asof_purchase_to_view",
    "o2_topk_per_group", "sim_embedding_neardup", "dedup_semantic",
]
AUDIT_COLS = {"created_timestamp", "updated_timestamp"}
#: span holding the output checks' own Spark jobs, kept out of the spark.* totals
GATE_SPAN = "lakebench.gate"


class Gate:
    """Counts operations and failures; keeps the first failure messages."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def check(self, name: str, ok: bool, detail: object = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.messages) < 20:
                self.messages.append(f"{name}: {detail}")
        return ok

    def results(self, label: str, results: dict[str, str], expected: list[str]) -> None:
        """One operation per transform write a RunReport should hold."""
        for table in expected:
            status = results.get(table, "missing from RunReport")
            self.check(f"{label}.{table}", status == "ok", status)

    def guard(self, name: str, thunk):
        """Run an engine call; an exception is one failed operation."""
        try:
            out = thunk()
        except Exception as e:  # noqa: BLE001 — counted, not swallowed
            self.check(name, False, f"{type(e).__name__}: {e}")
            return None
        self.check(name, True)
        return out


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else nullcontext()


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _parquet_rows(path: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


def table_checksums(store: TableStore) -> dict[str, tuple[int, int, int]]:
    """Order-independent (rows, sum of row hashes, current rows) per
    silver/gold table, read on the driver with pyarrow (no Spark jobs, and a
    reader independent of the engine's). The audit timestamps are left out:
    they change on every rerun by design. ``current rows`` counts
    ``drivers_silver.is_current`` (0 elsewhere). Python's string hash is
    salted per process, so the sums compare only within one run."""
    out = {}
    for t in SILVER + GOLD:
        if not store.exists(t):  # a failed first write; store.read() reads it as empty
            out[t] = (0, 0, 0)
            continue
        table = ds.dataset(store.path(t), format="parquet", partitioning="hive").to_table()
        cols = sorted(c for c in table.column_names if c not in AUDIT_COLS)
        rows = table.select(cols).to_pylist()
        h = sum(hash(repr(tuple(r.values()))) for r in rows) % (1 << 64)
        current = sum(bool(r["is_current"]) for r in rows) if t == "drivers_silver" else 0
        out[t] = (len(rows), h, current)
    return out


class Medallion:
    """HISTORICAL bronze→silver→gold plus the quality gate, then one
    seed-chosen Grand Prix INCREMENTAL bronze→silver→gold, on a fresh
    warehouse per pass.

    ``make_bronze(spark, root)`` writes the bronze tree. ``replay_gps`` are
    the Grand Prix slugs the seed picks the INCREMENTAL one from: those at or
    after the season's last driver-attribute change (driver 7's team move),
    where replaying the GP must leave every table unchanged. Replaying an
    earlier GP is a backdated SCD2 update, which the engine's documented
    ``on_late="clamp"`` policy absorbs as a new stint, so it is not a no-op.
    ``n_gp``, ``n_drivers``, ``n_laps`` (when known) pin the expected
    silver/gold row counts; ``expected_violations`` pins the quality gate's
    result (all zero for the reconciliation-clean generator)."""

    def __init__(self, spark, work, seed, make_bronze, replay_gps, n_drivers, n_gp=None,
                 n_laps=None, expected_violations=None) -> None:
        self.spark, self.work, self.make_bronze = spark, work, make_bronze
        self.replay_gps = replay_gps
        self.n_gp, self.n_drivers, self.n_laps = n_gp, n_drivers, n_laps
        self.expected_violations = expected_violations or {}
        self.rng = random.Random(seed)
        self.gate = Gate()
        self.passes = 0
        self.bronze = None
        self.input_rows = 0
        self.input_bytes = 0
        self.output_bytes = 0
        self.incremental_gps: list[str] = []

    def setup(self, rep: int) -> None:
        root = os.path.join(self.work, f"bronze{rep}")
        self.make_bronze(self.spark, root)
        self.bronze = root
        self.input_rows = _parquet_rows(root)
        self.input_bytes = _du(root)

    def run_pass(self, tracer=None) -> dict:
        spark, g = self.spark, self.gate
        wh = os.path.join(self.work, f"wh{self.passes}")
        self.passes += 1
        store = TableStore(spark, wh)
        gp = self.rng.choice(self.replay_gps)
        self.incremental_gps.append(gp)

        t0 = time.perf_counter()
        with _span(tracer, "plans.pipeline.run_bronze_to_silver"):
            b2s = g.guard("historical.b2s", lambda: pl.run_bronze_to_silver(spark, self.bronze, store))
        with _span(tracer, "plans.pipeline.run_silver_to_gold"):
            s2g = g.guard("historical.s2g", lambda: pl.run_silver_to_gold(spark, store))
        with _span(tracer, "plans.pipeline.validate_silver"):
            checks = g.guard("validate_silver", lambda: pl.validate_silver(store))
        hist_s = time.perf_counter() - t0

        if b2s is not None:
            g.results("historical.b2s", b2s.results, SILVER)
        if s2g is not None:
            g.results("historical.s2g", s2g.results, GOLD)
        if checks is not None:
            got = {c.name: c.violations for c in checks}
            for name in QUALITY_CHECKS:
                want = self.expected_violations.get(name, 0)
                g.check(f"validate_silver.{name}", got.get(name) == want, (got.get(name), want))
        before = g.guard("checksum.historical", lambda: table_checksums(store))
        if before is not None:
            self._check_rows(before)

        t0 = time.perf_counter()
        with _span(tracer, "plans.pipeline.incremental"):
            ib2s = g.guard("incremental.b2s", lambda: pl.run_bronze_to_silver(
                spark, self.bronze, store, mode=pl.INCREMENTAL, grand_prix=gp))
            is2g = g.guard("incremental.s2g", lambda: pl.run_silver_to_gold(
                spark, store, mode=pl.INCREMENTAL, grand_prix=gp))
        incr_s = time.perf_counter() - t0

        if ib2s is not None:
            g.results("incremental.b2s", ib2s.results, SILVER)
        if is2g is not None:
            g.results("incremental.s2g", is2g.results, GOLD)
        after = g.guard("checksum.incremental", lambda: table_checksums(store))
        if before is not None and after is not None:
            for t in SILVER + GOLD:
                g.check(f"idempotent.{t}", before[t] == after[t], (before[t], after[t]))
        self.output_bytes = _du(wh)
        shutil.rmtree(wh, ignore_errors=True)
        return {"run_s": hist_s + incr_s, "incremental_s": incr_s}

    def _check_rows(self, sums: dict) -> None:
        g = self.gate
        if self.n_gp is not None and self.n_laps is not None:
            laps = self.n_gp * self.n_drivers * self.n_laps
            g.check("rows.laps_silver", sums["laps_silver"][0] == laps, (sums["laps_silver"][0], laps))
            champ = self.n_gp * self.n_drivers
            g.check("rows.championship_tracker", sums["championship_tracker"][0] == champ,
                    (sums["championship_tracker"][0], champ))
        # driver 7 changes teams mid-season in both generators: one extra stint
        rows, _, current = sums["drivers_silver"]
        g.check("rows.drivers_silver", rows == self.n_drivers + 1, rows)
        g.check("rows.drivers_silver.is_current", current == self.n_drivers, current)


class Corpus:
    """One-shot ``plans.corpus.run_corpus_pipeline`` with the optional text
    stages on: containment 0.9, decontamination against a slice of 5% of the
    corpus whose offset the seed picks once per run, and a 10-domain budget
    mix. The semantic-dedup stage is off (lakebench/README.md).

    The generator's planted duplicates fix the dedup counts: exact dedup
    keeps the distinct texts, near dedup additionally folds each
    ``<doc> dup`` into ``<doc>``, containment dedup removes nothing more."""

    CHUNK_SHIFT = 12

    def __init__(self, spark, work, seed, n_docs, gate) -> None:
        self.spark, self.work = spark, work
        self.n_docs = n_docs
        self.slice = n_docs // 20
        self.off = random.Random(seed).randrange(0, n_docs - self.slice)
        self.gate = gate
        self.passes = 0
        self.input_rows = n_docs
        self.counts: dict | None = None

    def setup(self, rep: int) -> None:
        root = os.path.join(self.work, f"corpus{rep}")
        os.makedirs(root)
        docs, _ = documents_table(self.n_docs)
        texts = docs.column("text").to_pylist()
        self.expected = {
            "after_exact_dedup": len(set(texts)),
            "after_near_dedup": len({t.removesuffix(" dup") for t in texts}),
        }
        self.expected["after_containment_dedup"] = self.expected["after_near_dedup"]
        pq.write_table(docs, os.path.join(root, "documents.parquet"))
        self.docs = self.spark.read.parquet(os.path.join(root, "documents.parquet")).withColumn(
            "source", F.concat(F.lit("s"), (F.col("doc_id") % 10).cast("string"))
        )
        self.input_bytes = _du(root)

    def run_pass(self, tracer=None) -> dict:
        g, off = self.gate, self.off
        out = os.path.join(self.work, f"shards{self.passes}")
        self.passes += 1
        bench = self.docs.filter(F.col("doc_id").between(off, off + self.slice - 1)).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        # the s0 budget binds (~1/3 of the domain's tokens); the others do not
        budgets = {f"s{i}": (self.n_docs * 3 if i == 0 else 10**12) for i in range(10)}

        t0 = time.perf_counter()
        with _span(tracer, "plans.corpus.run_corpus_pipeline"):
            rep = g.guard("run_corpus_pipeline", lambda: corpus_plan.run_corpus_pipeline(
                self.spark, self.docs, out,
                benchmark=bench,
                quality_min=0.0,
                near_threshold=0.5,
                chunk_tokens=64,
                overlap_tokens=8,
                n_shards=16,
                seed="bench",
                max_doc_frequency=64,
                containment_threshold=0.9,
                domain_col="source",
                domain_budgets=budgets,
                chunk_shift=self.CHUNK_SHIFT,
            ))
        run_s = time.perf_counter() - t0
        if rep is not None:
            with _span(tracer, GATE_SPAN):
                self._check(rep, out)
        shutil.rmtree(out, ignore_errors=True)
        return {"run_s": run_s}

    def _check(self, rep, out: str) -> None:
        g, c, off = self.gate, rep.counts, self.off
        g.check("audit_violations", rep.audit_violations == 0, rep.audit_violations)
        g.check("counts.raw", c.get("raw") == self.n_docs, c.get("raw"))
        g.check("counts.after_quality", c.get("after_quality") == self.n_docs, c.get("after_quality"))
        for k, want in self.expected.items():
            g.check(f"counts.{k}", c.get(k) == want, (c.get(k), want))
        order = ["raw", "after_quality", "after_exact_dedup", "after_near_dedup",
                 "after_containment_dedup", "after_decontamination", "after_mixture"]
        seq = [c.get(k) for k in order]
        g.check("counts.stages_present", None not in seq, c)
        if None not in seq:
            g.check("counts.monotone", all(a >= b for a, b in zip(seq, seq[1:])), seq)
            g.check("counts.decontamination_bites",
                    c["after_decontamination"] < c["after_containment_dedup"], seq)
            g.check("counts.mixture_bites", c["after_mixture"] < c["after_decontamination"], seq)
        if self.counts is None:
            self.counts = dict(c)
        g.check("counts.same_as_first_pass", dict(c) == self.counts, (c, self.counts))
        g.check("manifest.rows",
                sum(m["n_rows"] for m in rep.shard_manifest) == c.get("chunks"),
                c.get("chunks"))
        leaked = g.guard("decontaminated.read", lambda: read_training_shards(self.spark, out)
                         .select(F.shiftright("chunk_id", self.CHUNK_SHIFT).alias("d"))
                         .filter(F.col("d").between(off, off + self.slice - 1))
                         .count())
        if leaked is not None:
            g.check("decontaminated.slice_absent", leaked == 0, leaked)


def _load_verify_local():
    """``tools/verify_local`` (the registry's oracle comparison), imported
    without the absolute repository path it adds to ``sys.path``."""
    import sys

    before = list(sys.path)
    from tools import verify_local

    sys.path[:] = before
    return verify_local


class Queries:
    """Registry queries over a generated star schema, in a fixed order. Each
    query's result is collected to the driver (``toPandas``), the client's
    view of an analytics query; the collected result is then checked against
    the query's DuckDB oracle (``registry.oracle_sql``), compared with
    ``tools/verify_local``."""

    def __init__(self, spark, work, names, sf, gate) -> None:
        from f1_datalakehouse_pipeline_spark import registry

        self.spark, self.work, self.sf = spark, work, sf
        fns = registry.queries()
        self.fns = {n: fns[n] for n in names}
        self.order = list(names)
        self.gate = gate
        self.oracle: dict | None = None

    def setup(self, rep: int) -> None:
        from lakebench.inputs import generate_star

        root = os.path.join(self.work, f"star{rep}")
        rows = generate_star(root, self.sf)
        self.star = root
        self.input_rows = sum(rows.values())
        self.input_bytes = _du(root)

    def _oracle(self) -> dict:
        import duckdb
        from f1_datalakehouse_pipeline_spark import registry
        from f1_datalakehouse_pipeline_spark.sources.testdata import TESTDATA_TABLES

        sql = registry.oracle_sql()
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "tmp")})
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.star}/{t}.parquet')")
            return {n: self.gate.guard(f"oracle.{n}", lambda n=n: con.sql(sql[n]).df())
                    for n in self.order}
        finally:
            con.close()

    def run_pass(self, tracer=None) -> dict:
        spark, g = self.spark, self.gate
        times, results = {}, {}
        for n in self.order:
            t0 = time.perf_counter()
            with _span(tracer, f"registry.{n}"):
                results[n] = g.guard(f"query.{n}", lambda n=n: self.fns[n](spark, self.star).toPandas())
            times[n] = time.perf_counter() - t0
            spark.catalog.clearCache()
        if self.oracle is None:
            self.oracle = self._oracle()
        vl = _load_verify_local()
        for n in self.order:
            got, want = results[n], self.oracle.get(n)
            if got is not None and want is not None:
                problems = vl.compare(n, got, want)
                g.check(f"oracle.{n}", not problems, problems[:2])
        return {"run_s": sum(times.values()), "query_s": times}


class CorpusQueries:
    """The corpus build, then the registry query mix, in one session and one
    pass, sharing one gate. ``run_s`` is the sum of the two; the detail line
    keeps each part (``corpus_s``, ``query_s``)."""

    def __init__(self, spark, work, seed, n_docs, sf) -> None:
        self.gate = Gate()
        self.corpus = Corpus(spark, work, seed, n_docs, self.gate)
        self.queries = Queries(spark, work, QUERIES, sf, self.gate)

    def setup(self, rep: int) -> None:
        self.corpus.setup(rep)
        self.queries.setup(rep)
        self.input_rows = self.corpus.input_rows + self.queries.input_rows

    @property
    def counts(self) -> dict | None:
        return self.corpus.counts

    def run_pass(self, tracer=None) -> dict:
        c = self.corpus.run_pass(tracer)
        q = self.queries.run_pass(tracer)
        return {"run_s": c["run_s"] + q["run_s"], "corpus_s": c["run_s"], "query_s": q["query_s"]}
