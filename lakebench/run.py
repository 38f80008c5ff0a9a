#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 lakebench/run.py --workload medallion_season --seed 1 --seconds 1 --trace 0

Run from the repository root. One process runs one workload: it starts a
``local[nproc]`` Spark session, sets the inputs up ``SETUP_REPS`` times
(``setup_s`` reports the median), then runs closed-loop passes (the next
starts when the previous ends) until ``--seconds`` have elapsed, at least
one. Every pass is checked by the workload's output gate.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
engine's layer functions in spans (lakebench/layers.py) and prints the
per-layer metrics (lakebench/metrics.py) instead. The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``; the lines
before it are a readable summary and a ``detail`` JSON line with the run's
context (host, load, versions, per-pass timings). The exit code is 0 only
if every operation passed its check.

All files go to ``.lakebench_work/`` under the repository root and are
removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Input set-up is repeated and setup_s takes the median; the session start,
# most of setup_s, can happen only once per process and is measured once.
SETUP_REPS = 3
NPROC = len(os.sched_getaffinity(0))
DRIVER_MEMORY = "3g"
# A fixed young generation: G1 otherwise sizes it from pause times, and how
# far it grew decided a short run's peak RSS (2.4-3.0 GB across seeds on the
# query mix).
YOUNG_MEMORY = "1g"

# name -> sizes; see BENCHMARK.json and lakebench/README.md for the why
WORKLOADS = {
    "medallion_season": dict(n_gp=24, n_drivers=20, n_laps=60),
    "corpus_queries": dict(n_docs=300, sf=0.01),
}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Peak RSS of this Python driver plus its JVM (VmHWM)."""
    kb = _vm_hwm_kb(os.getpid())
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    kb += _vm_hwm_kb(pid)
        except OSError:
            pass
    return kb / 1024


def git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not pick up an enclosing one
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def start_session(app: str, tmp: str):
    from f1_datalakehouse_pipeline_spark import get_spark

    spark = get_spark(
        app,
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_confs={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": tmp,
            # -UsePerfData: no hsperfdata file under /tmp (outside the checkout)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -Xmn{YOUNG_MEMORY} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def make_workload(name: str, spark, work: str, seed: int, scale: str):
    from lakebench import workloads as w

    if name == "medallion_season":
        if scale == "smoke":
            sys.path.insert(0, os.path.join(ROOT, "tests"))
            import fixtures_f1

            return w.Medallion(
                spark, work, seed,
                make_bronze=lambda _spark, root: fixtures_f1.generate_bronze(root),
                replay_gps=[slug for _, slug in fixtures_f1.GPS[fixtures_f1.TEAM_CHANGE_GP_IDX:]],
                n_drivers=fixtures_f1.N_DRIVERS,
                # FIXTURES.md: two planted points mismatches
                expected_violations={"points_reconciliation": 2},
            )
        from lakebench.inputs import generate_bronze

        size = WORKLOADS[name]
        return w.Medallion(
            spark, work, seed,
            make_bronze=lambda _spark, root: generate_bronze(root, **size),
            # the generator moves driver 7 at gp >= n_gp // 2
            replay_gps=[f"gp{i:03d}" for i in range(size["n_gp"] // 2, size["n_gp"])],
            **size,
        )
    if name == "corpus_queries":
        size = dict(n_docs=200, sf=0.001) if scale == "smoke" else WORKLOADS[name]
        return w.CorpusQueries(spark, work, seed, **size)
    raise SystemExit(f"unknown workload {name!r}; choose from {sorted(WORKLOADS)}")


def run(args) -> tuple[dict, dict, int]:
    """Returns (result line, detail, exit code)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload!r}")
    work = os.path.join(ROOT, ".lakebench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # spark-submit's launcher JVM takes no driver options; without this it
    # writes an hsperfdata file under /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    load_start = os.getloadavg()
    spark = None
    try:
        # the engine is imported here, so a checkout without it fails here
        from lakebench.layers import instrumented
        from lakebench.metrics import pass_metrics
        from lakebench.trace import Tracer

        spark = start_session(f"lakebench-{args.workload}", tmp)
        session_s = time.perf_counter() - T_PROCESS
        wl = make_workload(args.workload, spark, work, args.seed, args.scale)
        setup_reps = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(rep)
            setup_reps.append(time.perf_counter() - t0)

        tracer = Tracer(spark) if args.trace else None
        passes, traced, spans = [], [], []
        t0 = time.perf_counter()
        with instrumented(tracer) if tracer else nullcontext():
            while not passes or time.perf_counter() - t0 < args.seconds:
                with tracer.span("pass") if tracer else nullcontext() as ps:
                    passes.append(wl.run_pass(tracer))
                if tracer:
                    ratio = wl.output_bytes / wl.input_bytes if args.workload == "medallion_season" else 0.0
                    traced.append(pass_metrics(ps, NPROC, ratio))
                    spans.append(ps)
        rss = peak_rss_mb()
        import pyspark

        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": NPROC,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "pyspark": pyspark.__version__,
            "git_sha": git_sha(),
            "session_s": session_s,
            "setup_reps_s": setup_reps,
            "passes": passes,
            "input_rows": wl.input_rows,
            "stage_counts": getattr(wl, "counts", None),
            "incremental_gps": getattr(wl, "incremental_gps", None),
            "failures": wl.gate.messages,
            "trace_warnings": tracer.warnings if tracer else [],
        }
        if tracer:
            first = spans[0]
            index = {id(s): i for i, s in enumerate(first.walk())}
            detail["spans"] = [
                {"name": s.name, "parent": index.get(id(s.parent)), "wall_s": s.wall_s,
                 "self_s": s.self_s, "jobs": s.jobs}
                for s in first.walk()
            ]
            detail["unattributed_jobs"] = tracer.unattributed_jobs(first)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    g = wl.gate
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if args.trace:
        values = {
            k: (None if any(t[k] is None for t in traced) else statistics.median(t[k] for t in traced))
            for k in traced[0]
        }
    else:
        run_s = statistics.median(p["run_s"] for p in passes)
        values = {
            "run_s": run_s,
            "rows_per_s": wl.input_rows / run_s,
            "setup_s": session_s + statistics.median(setup_reps),
            "peak_rss_mb": rss,
        }
        detail["run_s_samples"] = len(passes)
        detail["failed_ops_ratio"] = g.failed / g.attempted
        if passes[0].get("incremental_s") is not None:
            detail["incremental_gp_s"] = statistics.median(p["incremental_s"] for p in passes)
    result = {
        "correct": g.failed == 0,
        "attempted": g.attempted,
        "failed": g.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return result, detail, 0 if g.failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="smoke: the 6-GP test fixture / 200 docs and sf 0.001 (self-check only)")
    args = ap.parse_args(argv)
    result, detail, code = run(args)
    for name, m in result["metrics"].items():
        print(f"{name} = {m['value']} {m['unit']}")
    if not args.trace:
        print(f"failed_ops_ratio = {detail['failed_ops_ratio']} ratio")
        if "incremental_gp_s" in detail:
            print(f"incremental_gp_s = {detail['incremental_gp_s']} s")
    for msg in detail["failures"]:
        print(f"FAILED {msg}", file=sys.stderr)
    print("detail " + json.dumps(detail, default=str))
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
