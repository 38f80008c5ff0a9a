#!/usr/bin/env python3
"""Self-check of the benchmark itself (not of the engine). Run from the
repository root:

    python3 lakebench/selfcheck.py

It takes a few minutes on 4 cores and checks that

1. every workload, run at smoke size (the ``tests/fixtures_f1`` 6-GP fixture;
   200 docs and an sf 0.001 star schema) once untraced and once traced, passes
   its output gate and prints exactly the metrics BENCHMARK.json declares,
   each with its unit;
2. traced spans nest: a child's wall is within its parent's, ``self_s``
   is never negative, and every Spark job submitted during the pass is
   claimed by exactly one span (none unattributed);
3. the output gate counts failures: a bronze root without the ``pit``
   endpoint makes ``failed_ops_ratio`` positive;
4. a tracer whose REST API is unreachable still counts jobs, reports the
   REST-derived counters as null and records a warning instead of failing;
5. ``inputs.generate_bronze`` writes the same rows, with the same column
   types, as ``tools/scale_stress.generate_bronze_scaled`` (4 GPs).

Exit code 0 only if every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
EPS = 1e-6


def run_smoke(workload: str, trace: int) -> tuple[dict, dict, int]:
    p = subprocess.run(
        [sys.executable, "lakebench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", str(trace), "--scale", "smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else {}
    detail = next((json.loads(x[7:]) for x in lines if x.startswith("detail ")), {})
    return result, detail, p.returncode


def check_spans(spans: list[dict], problems: list[str], label: str) -> None:
    for s in spans:
        if s["self_s"] < -EPS:
            problems.append(f"{label}: {s['name']} self_s {s['self_s']} < 0")
        if s["parent"] is not None:
            parent = spans[s["parent"]]
            if s["wall_s"] > parent["wall_s"] + EPS:
                problems.append(f"{label}: {s['name']} wall exceeds parent {parent['name']}")
            if s["jobs"] > parent["jobs"]:
                problems.append(f"{label}: {s['name']} jobs exceed parent {parent['name']}")


def check_rest_unreachable(spark, problems: list[str]) -> None:
    from lakebench.metrics import pass_metrics
    from lakebench.trace import Tracer

    tracer = Tracer(spark)
    tracer._rest = "http://127.0.0.1:9/api/v1/applications/none"  # nothing listens on port 9
    with tracer.span("pass") as ps, tracer.span("probe"):
        spark.range(100).count()
    m = pass_metrics(ps, 1, 0.0)
    print(f"REST unreachable: jobs = {ps.jobs}, cpu_s = {ps.total('cpu_s')}, "
          f"warnings = {len(tracer.warnings)}")
    if ps.jobs < 1 or ps.total("cpu_s") is not None or m["spark.cpu_s"] is not None:
        problems.append(f"REST unreachable: jobs {ps.jobs}, cpu_s {ps.total('cpu_s')}")
    if not tracer.warnings:
        problems.append("REST unreachable: no warning recorded")


def check_bronze_twin(spark, work: str, problems: list[str]) -> None:
    from pyspark.sql import functions as F

    from f1_datalakehouse_pipeline_spark.sources.bronze import read_bronze
    from lakebench.inputs import generate_bronze
    from tools.scale_stress import generate_bronze_scaled

    size = dict(n_gp=4, n_drivers=20, n_laps=12)
    ours, theirs = os.path.join(work, "twin_ours"), os.path.join(work, "twin_theirs")
    generate_bronze(ours, **size)
    generate_bronze_scaled(spark, theirs, **size)
    for endpoint, session_type in (("session_result", "race"), ("session_result", "qualifying"),
                                   ("drivers", None), ("laps", None), ("pit", None)):
        a = read_bronze(spark, ours, endpoint, session_type=session_type)
        b = read_bronze(spark, theirs, endpoint, session_type=session_type)
        label = f"bronze twin {endpoint}/{session_type}"
        if dict(a.dtypes) != dict(b.dtypes):
            problems.append(f"{label}: schemas differ {sorted(set(a.dtypes) ^ set(b.dtypes))}")
            continue
        cols = [F.col(c).cast("string").alias(c) for c in sorted(a.columns)]
        a, b = a.select(cols), b.select(cols)
        diff = (a.exceptAll(b).count(), b.exceptAll(a).count())
        print(f"{label}: {a.count()} rows, rows only in one generator: {diff}")
        if diff != (0, 0) or a.count() == 0:
            problems.append(f"{label}: generators differ {diff}")


def check_in_process(problems: list[str]) -> None:
    """Checks 3, 4 and 5, in one Spark session."""
    sys.path.insert(0, os.path.join(ROOT, "tests"))
    import fixtures_f1

    from lakebench import run
    from lakebench.workloads import Medallion

    work = os.path.join(ROOT, ".lakebench_work", f"selfcheck-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    spark = run.start_session("lakebench-selfcheck", os.path.join(work, "tmp"))
    try:
        def no_pit(_spark, root):
            fixtures_f1.generate_bronze(root)
            shutil.rmtree(os.path.join(root, "pit"))

        wl = Medallion(
            spark, work, 7, make_bronze=no_pit,
            replay_gps=[slug for _, slug in fixtures_f1.GPS[fixtures_f1.TEAM_CHANGE_GP_IDX:]],
            n_drivers=fixtures_f1.N_DRIVERS,
            expected_violations={"points_reconciliation": 2},
        )
        check_rest_unreachable(spark, problems)
        check_bronze_twin(spark, work, problems)
        wl.setup(0)
        wl.run_pass()
        g = wl.gate
        ratio = g.failed / g.attempted
        print(f"missing pit: failed_ops_ratio = {ratio:.4f} ({g.failed}/{g.attempted})")
        if not ratio > 0:
            problems.append("missing pit endpoint did not raise failed_ops_ratio")
        if not any("pitstops_silver" in m for m in g.messages):
            problems.append(f"missing pit endpoint not reported as a pitstops_silver failure: {g.messages}")
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # a benchmark run still uses it


def main() -> int:
    from lakebench.workloads import GOLD, SILVER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    problems: list[str] = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            label = f"{w['name']} trace={trace}"
            result, detail, code = run_smoke(w["name"], trace)
            if code != 0 or not result.get("correct"):
                problems.append(f"{label}: exit {code}, failures {detail.get('failures')}")
            want = {m["name"]: m["unit"] for m in bench[key]}
            got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
            if got != want:
                problems.append(
                    f"{label}: metrics differ from BENCHMARK.json: missing "
                    f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                    f"unit mismatches {sorted(k for k in want if k in got and got[k] != want[k])}"
                )
            if trace:
                check_spans(detail.get("spans", []), problems, label)
                if detail.get("unattributed_jobs"):
                    problems.append(f"{label}: jobs outside every span {detail['unattributed_jobs']}")
                m = result.get("metrics", {})
                tables = sum(m[f"sources.tables.{t}.jobs"]["value"] for t in SILVER + GOLD)
                print(f"{label}: {len(got)} metrics, spark.jobs = {m.get('spark.jobs', {}).get('value')}, "
                      f"table-write jobs = {tables}, spans = {len(detail.get('spans', []))}")
            else:
                print(f"{label}: {len(got)} metrics, attempted {result.get('attempted')}, "
                      f"failed {result.get('failed')}")
    check_in_process(problems)
    for p in problems:
        print(f"PROBLEM {p}")
    print("selfcheck:", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
