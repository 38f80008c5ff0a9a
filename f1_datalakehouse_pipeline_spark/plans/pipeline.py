"""Job runner: scope resolution, transform loop, criticality policy.

Reference: the two Glue job entry points —
src/jobs/f1_bronze_to_silver_transform.py:239-484 and
src/jobs/f1_silver_to_gold_transform.py:248-467 — minus Glue/Airflow/XCom:

- RUN_MODE HISTORICAL (full-year rebuild, partition overwrite per year) vs
  INCREMENTAL (one Grand Prix, partition overwrite per (year, gp));
  INCREMENTAL without an explicit GP auto-detects the latest one (O1:
  orderBy(desc(date_start)).limit(1), :115-150).
- criticality policy: sessions/drivers failures abort, other transforms
  log-and-continue (:477-484).
- NO count-then-write double execution (SURVEY §4.3.1): each transform is
  materialized exactly once by its write; row counts come from the write via
  ``df.observe`` metrics instead of a separate action.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from f1_datalakehouse_pipeline_spark.functions.names import normalize_grand_prix_name
from f1_datalakehouse_pipeline_spark.operators.scd2 import scd2_merge_incremental
from f1_datalakehouse_pipeline_spark.operators.util import observed_or
from f1_datalakehouse_pipeline_spark.plans import gold, silver
from f1_datalakehouse_pipeline_spark.sources.bronze import read_bronze
from f1_datalakehouse_pipeline_spark.sources.tables import TableStore

log = logging.getLogger(__name__)

HISTORICAL = "HISTORICAL"
INCREMENTAL = "INCREMENTAL"


@dataclass
class RunReport:
    mode: str
    year: int
    grand_prix: str | None
    results: dict[str, str] = field(default_factory=dict)
    row_counts: dict[str, int] = field(default_factory=dict)


def detect_latest_grand_prix(spark: SparkSession, bronze_root: str, year: int) -> str:
    """Latest completed GP by race date_start (O1 top-1 probe,
    f1_bronze_to_silver_transform.py:115-150)."""
    races = read_bronze(spark, bronze_root, "session_result", year=year, session_type="race")
    row = (
        races.select("grand_prix", "date_start")
        .orderBy(F.col("date_start").desc(), F.col("grand_prix").asc())
        .limit(1)
        .collect()
    )
    if not row:
        raise ValueError(f"no race sessions found in bronze for year={year}")
    return row[0]["grand_prix"]


def _write_observed(store: TableStore, df: DataFrame, table: str, mode: str, report: RunReport) -> None:
    obs = Observation(f"rows_{table}")
    observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
    if mode == HISTORICAL and table == "drivers_silver":
        store.overwrite(observed, table)
    else:
        # partition-scoped: a HISTORICAL rebuild replaces the year's
        # partitions, INCREMENTAL the GP's; season-wide gold tables
        # (championship_tracker) arrive here with mode=HISTORICAL
        store.overwrite_partitions(observed, table)
    # the fallback re-runs the unobserved transform; only a write that ran
    # no tasks (a plan folded to an empty relation) leaves the metric
    # unreadable, so it is a zero-row job
    report.row_counts[table] = observed_or(obs, "rows", df.count)


def run_bronze_to_silver(
    spark: SparkSession,
    bronze_root: str,
    store: TableStore,
    mode: str = HISTORICAL,
    year: int = 2025,
    grand_prix: str | None = None,
) -> RunReport:
    if mode == INCREMENTAL and grand_prix is None:
        grand_prix = detect_latest_grand_prix(spark, bronze_root, year)
    if grand_prix is not None:
        # Canonicalize ONCE with the same normalizer that produced the bronze
        # partition slugs and silver names ('Sao-Paulo' → 'sao_paulo'): both
        # the bronze partition filter and the silver scope below then compare
        # canonical-to-canonical. One 1-row local job; idempotent for
        # already-canonical slugs (detect_latest_grand_prix returns one).
        grand_prix = spark.range(1).select(
            normalize_grand_prix_name(F.lit(grand_prix)).alias("g")
        ).head()[0]
    report = RunReport(mode=mode, year=year, grand_prix=grand_prix)
    gp = grand_prix if mode == INCREMENTAL else None

    def src(endpoint: str, session_type: str | None = None) -> DataFrame:
        return read_bronze(spark, bronze_root, endpoint, year=year, grand_prix=gp, session_type=session_type)

    # -- critical: sessions ------------------------------------------------
    sessions_df = silver.transform_sessions(
        src("session_result", "qualifying").drop("duration").unionByName(
            src("session_result", "race").drop("duration"), allowMissingColumns=True
        )
    )
    _write_observed(store, sessions_df, "sessions_silver", mode, report)
    report.results["sessions_silver"] = "ok"
    sessions_silver = store.read("sessions_silver").filter(F.col("year") == year)
    if gp:
        # The bronze partition slug and silver's grand_prix_name normalize
        # differently for punctuated GPs ('Magny-Cours' slug vs 'magny_cours'
        # silver name) — compare through the SAME normalizer silver used, and
        # fail loudly rather than silently no-op on an empty scope.
        sessions_for_batch = sessions_silver.filter(
            F.col("grand_prix_name") == normalize_grand_prix_name(F.lit(gp))
        )
        if sessions_for_batch.limit(1).count() == 0:
            raise ValueError(
                f"INCREMENTAL scope matched no silver sessions for "
                f"year={year} grand_prix={gp!r} — check the GP slug"
            )
    else:
        sessions_for_batch = sessions_silver

    # -- critical: drivers (SCD2) -----------------------------------------
    if mode == HISTORICAL:
        drivers_df = silver.transform_drivers_scd2(src("drivers"), sessions_silver)
        _write_observed(store, drivers_df, "drivers_silver", mode, report)
    else:
        _incremental_drivers_merge(spark, store, src("drivers"), sessions_for_batch, report)
    report.results["drivers_silver"] = "ok"

    # -- non-critical transforms: log-and-continue -------------------------
    batch = [
        ("qualifying_results_silver", lambda: silver.transform_qualifying(src("session_result", "qualifying"), sessions_for_batch)),
        ("race_results_silver", lambda: silver.transform_race_results(src("session_result", "race"), sessions_for_batch)),
        ("laps_silver", lambda: silver.transform_laps(src("laps"), sessions_for_batch)),
        ("pitstops_silver", lambda: silver.transform_pitstops(src("pit"), sessions_for_batch)),
    ]
    for table, thunk in batch:
        try:
            _write_observed(store, thunk(), table, mode, report)
            report.results[table] = "ok"
        except Exception as e:  # noqa: BLE001 — criticality policy
            log.exception("non-critical transform %s failed", table)
            report.results[table] = f"failed: {e}"
    return report


def _incremental_drivers_merge(
    spark: SparkSession,
    store: TableStore,
    drivers_bronze: DataFrame,
    sessions_for_batch: DataFrame,
    report: RunReport,
) -> None:
    """Idempotent SCD2 merge of the batch's latest driver state (S10).

    Replaces the reference's collect()+UPDATE+append (common.py:418-471) with
    the pure-DataFrame merge; the dimension is tiny (~30 rows) so the
    full-table rewrite is cheap and atomic at any scale.
    """
    from pyspark.sql import Window

    from f1_datalakehouse_pipeline_spark.functions.f1 import standardize_team_name

    attr_cols = ["broadcast_name", "full_name", "name_acronym", "team_name",
                 "country_code", "team_colour"]
    obs = (
        drivers_bronze.drop("session_type", "grand_prix", "year")
        .filter(F.col("driver_number").isNotNull())
        .join(
            sessions_for_batch.select("session_key", "date_start", "session_type"),
            "session_key",
            "inner",
        )
        .select(
            F.col("driver_number").cast("int").alias("driver_number"),
            "broadcast_name",
            "full_name",
            "name_acronym",
            standardize_team_name(F.col("team_name")).alias("team_name"),
            "country_code",
            "team_colour",
            "date_start",
            "session_type",
            "session_key",
        )
    )
    w = Window.partitionBy("driver_number").orderBy(
        F.col("date_start").desc(), F.col("session_key").desc()
    )
    updates = (
        obs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("driver_number", *attr_cols, F.col("date_start").alias("eff"))
    )
    # total_races and audit cols are derived, not SCD attributes — strip them
    # for the merge and recompute after. Pinned read: the CAS snapshot is
    # captured HERE, so a rival commit between this read and the overwrite
    # below fails loudly instead of silently merging from a superseded
    # version (same contract as merge_upsert/delete_where).
    pinned, expected = store.read_pinned("drivers_silver")
    current = pinned.drop("total_races", "created_timestamp", "updated_timestamp")
    merged = scd2_merge_incremental(
        current, updates, entity_col="driver_number", attr_cols=attr_cols, effective_col="eff"
    )
    # total_races = distinct race sessions seen so far (prior silver results ∪
    # this batch) — idempotent under reruns because it is a distinct-union.
    prior = store.read("race_results_silver").select("driver_number", "session_key")
    batch_races = obs.filter(F.col("session_type") == "race").select(
        "driver_number", "session_key"
    )
    races = (
        prior.unionByName(batch_races)
        .distinct()
        .groupBy("driver_number")
        .agg(F.countDistinct("session_key").alias("total_races"))
    )
    merged = (
        merged.join(races, "driver_number", "left").fillna({"total_races": 0})
    )
    from f1_datalakehouse_pipeline_spark.plans.silver import _with_audit
    from f1_datalakehouse_pipeline_spark.schemas import conform

    merged = conform(_with_audit(merged), "drivers_silver")
    # The merge reads the same table it overwrites; the transactional
    # overwrite writes the merged dimension into a FRESH version dir while the
    # scan keeps reading the live one, then atomically swaps — fully
    # distributed, no driver-side materialization, any dimension size.
    # Row count comes from the write itself via observe() — no second action
    # re-scanning the just-written dimension.
    obs_rows = Observation("rows_drivers_silver_merge")
    merged = merged.observe(obs_rows, F.count(F.lit(1)).alias("rows"))
    store.overwrite(merged, "drivers_silver", expected=expected)
    # fallback: the full-table overwrite makes the table's count the merge's
    report.row_counts["drivers_silver"] = observed_or(
        obs_rows, "rows", lambda: store.read("drivers_silver").count()
    )


def validate_silver(store: TableStore) -> list:
    """Collected quality gate (SURVEY §5.2.5): invariants + reconciliations
    over the silver layer, one action per check, violations surfaced (not
    just logged like the reference's count-and-log approach)."""
    from f1_datalakehouse_pipeline_spark import quality

    rr = store.read("race_results_silver")
    qr = store.read("qualifying_results_silver")
    dim = store.read("drivers_silver")
    return quality.run_checks(
        {
            "race_position_range": quality.check_position_range(rr),
            "race_points_range": quality.check_points_range(rr),
            "quali_gap_non_negative": quality.check_non_negative(qr, "gap_to_pole_millis"),
            "points_reconciliation": quality.reconcile_points(rr),
            "scd2_single_current": quality.check_scd2_single_current(dim, "driver_number"),
            "scd2_contiguous": quality.check_scd2_contiguous(dim, "driver_number"),
        }
    )


def run_silver_to_gold(
    spark: SparkSession,
    store: TableStore,
    mode: str = HISTORICAL,
    year: int = 2025,
    grand_prix: str | None = None,
) -> RunReport:
    report = RunReport(mode=mode, year=year, grand_prix=grand_prix)
    # P4 partition-value filters prune the silver scans (silver_readers.py:183-216)
    sessions = store.read("sessions_silver").filter(F.col("year") == year)
    drivers = store.read("drivers_silver")
    race_results = store.read("race_results_silver").filter(F.col("year") == year)
    quali_results = store.read("qualifying_results_silver").filter(F.col("year") == year)

    # normalize the caller's GP value the same way silver names were built
    # (an externally-supplied slug like 'Magny-Cours' must still scope rows)
    gp_scope = (
        F.col("grand_prix_name") == normalize_grand_prix_name(F.lit(grand_prix))
        if (mode == INCREMENTAL and grand_prix)
        else None
    )

    batch: list[tuple[str, DataFrame, bool]] = [
        # championship is ALWAYS season-wide (cumulative totals)
        ("championship_tracker", gold.transform_championship_tracker(race_results, sessions, drivers), True),
        ("driver_performance_summary_race", gold.transform_driver_performance_race(race_results, quali_results, sessions, drivers), False),
        ("driver_performance_summary_qualifying", gold.transform_driver_performance_qualifying(quali_results, sessions, drivers), False),
        ("race_weekend_insights", gold.transform_race_weekend_insights(race_results, quali_results, sessions, drivers), True),
    ]
    for table, df, season_wide in batch:
        try:
            if gp_scope is not None and not season_wide:
                df = df.filter(gp_scope)
            _write_observed(store, df, table, mode if not season_wide else HISTORICAL, report)
            report.results[table] = "ok"
        except Exception as e:  # noqa: BLE001
            log.exception("gold transform %s failed", table)
            report.results[table] = f"failed: {e}"
            if table == "championship_tracker":
                raise  # critical (dependency-ordered first, :352-380)
    return report
