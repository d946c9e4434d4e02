#!/usr/bin/env python3
"""Curator benchmark: run one workload and print one JSON result line.

    python3 perfbench/run.py --workload curate_web_job --seed 1 --seconds 1 --trace 0

Workloads (see perfbench/README.md for why each exists):
  curate_web_job  jobs/curate_job.py's non-bucketed path over a synthetic
                  transcript corpus in which 15% of turns carry web text
  entry_queries   8 of the bench.BENCH_QUERIES, one per plan shape, over
                  the sf0.01 tables in data/

--trace 0 prints the end-to-end metrics; --trace 1 replays the workload
with labelled Spark jobs and an event log and prints the per-layer metrics.
Every output is checked (rule census against the oracle, query results
against DuckDB); a wrong output makes the exit code 1.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.procs import Clock, PeakRss, stop_spark  # noqa: E402

DRIVER_MEMORY = "2g"
SETUP_REPEATS = 3
WORKLOADS = ("curate_web_job", "entry_queries")


def _prepare_env(work: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def _session_conf(work: str, trace: bool) -> dict[str, str]:
    from perfbench.eventlog import event_log_conf

    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir, exist_ok=True)
        conf |= event_log_conf(log_dir)
    return conf


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# curate_web_job
# --------------------------------------------------------------------------


def web_setup(seed: int, work: str, cpus: int) -> dict:
    """Build the input SETUP_REPEATS times (each a fresh parquet dir) and
    train the LM; setup CPU time is the median build plus the LM training."""
    from redpajama_processor_spark.datagen import lm_corpus
    from redpajama_processor_spark.functions.perplexity import train_bigram_lm

    from perfbench import corpus

    builds: list[Clock] = []
    for n in range(SETUP_REPEATS):
        input_dir = os.path.join(work, f"input-{n}")
        with Clock() as c:
            turns = corpus.write_input(seed, input_dir, files=cpus)
        builds.append(c)
    with Clock() as c:
        lm = train_bigram_lm(lm_corpus())
    setup_s = statistics.median(b.cpu_s for b in builds) + c.cpu_s
    _log(f"input builds {[(round(b.wall_s, 2), round(b.cpu_s, 2)) for b in builds]} s (wall, cpu)")
    return {
        "input_dir": input_dir,
        "lm": lm,
        "turns": turns,
        "expected": corpus.expected_census(seed),
        "setup_s": setup_s,
    }


def web_workload(spark, seed: int, seconds: int, trace: bool, work: str, cpus: int) -> dict:
    from perfbench import webjob

    st = web_setup(seed, work, cpus)
    dirs = (os.path.join(work, f"job-{n}") for n in itertools.count(1))
    checks: list[bool] = []

    def job() -> tuple[Clock, dict, object]:
        d = next(dirs)
        with Clock() as c:
            got, out = webjob.run_job(spark, st["input_dir"], st["lm"], d)
        checks.append(got == st["expected"])
        _log(f"job {c.wall_s:.2f} s wall, {c.cpu_s:.2f} s cpu, census {'ok' if checks[-1] else 'WRONG'}")
        return c, got, out

    res = {"setup_s": st["setup_s"], "checks": checks}
    if not trace:
        clocks: list[Clock] = []
        end = time.perf_counter() + seconds
        while not clocks or time.perf_counter() < end:
            clocks.append(job()[0])
        res["e2e"] = _e2e(clocks, st["turns"])
        return res

    from redpajama_processor_spark.plans.audit import audit_plan

    cold = job()[0]
    untraced, untraced_census, out = job()
    untraced_s = untraced.wall_s
    audit = audit_plan(out)
    span = webjob.Spans(spark)
    t0 = time.perf_counter()
    rep = webjob.replay(spark, st["input_dir"], st["lm"], next(dirs), span)
    traced_s = time.perf_counter() - t0
    checks.append(rep["census"] == st["expected"])
    if rep["census"] != untraced_census:
        raise webjob.TraceMismatch(
            f"traced census {rep['census']} != curate() census {untraced_census}"
        )
    counts = webjob.replay_counts(rep["tables"])
    share = counts["minhash.nonascii_rows"] / max(counts["fz_input.rows_out"], 1.0)
    if share < 0.10:
        raise RuntimeError(f"web text reached only {share:.1%} of the fuzzy-dedup input")
    res["layers"] = {
        **{f"{k}.s": v for k, v in span.s.items()},
        **counts,
        "plan.curate.exchanges": audit["n_exchanges"],
        "plan.curate.broadcasts": audit["n_broadcast"],
        "plan.curate.round_robin": audit["plan"].count("RoundRobinPartitioning"),
        "trace.overhead_s": traced_s - untraced_s,
        "trace.coverage": sum(span.s.values()) / traced_s,
        "trace.warmup_s": cold.wall_s - untraced_s,
        "wall_s": cold.wall_s,
    }
    return res


def web_event_metrics(log_dir: str) -> dict[str, float]:
    from perfbench import eventlog, webjob

    totals, jobs = eventlog.label_totals(log_dir)
    out = {"cc.jobs": float(jobs.get("cc", 0))}
    for layer in webjob.LAYERS:
        for field, v in totals.get(layer, {}).items():
            out[f"{layer}.{field}"] = v
    return out


# --------------------------------------------------------------------------
# entry_queries
# --------------------------------------------------------------------------


def entry_workload(spark, seed: int, seconds: int, trace: bool) -> dict:
    from perfbench import corpus, queries

    expected = corpus.load_expected()["queries"]
    loads: list[Clock] = []
    for _ in range(SETUP_REPEATS):
        with Clock() as c:
            queries.load_tables(spark)
        loads.append(c)
    load_s = statistics.median(c.cpu_s for c in loads)
    _log(f"table loads {[(round(c.wall_s, 2), round(c.cpu_s, 2)) for c in loads]} s (wall, cpu)")
    checks: list[bool] = []
    n_pass = 0

    def one_pass(label: bool = False, plans: dict | None = None) -> dict:
        nonlocal n_pass
        with Clock() as c:
            p = queries.run_pass(spark, queries.pass_order(seed, n_pass), expected, label, plans)
        # the pass's own wall time leaves out checking and plan audits
        c.wall_s = p["wall_s"]
        p["clock"] = c
        n_pass += 1
        checks.extend(name not in p["failed"] for name in p["query_s"])
        _log(f"pass {c.wall_s:.2f} s wall, {c.cpu_s:.2f} s cpu, wrong: {p['failed']}")
        return p

    res = {"setup_s": load_s, "checks": checks}
    if not trace:
        passes: list[dict] = []
        end = time.perf_counter() + seconds
        while not passes or time.perf_counter() < end:
            passes.append(one_pass())
        res["e2e"] = _e2e([p["clock"] for p in passes], passes[0]["rows"])
        return res

    # two passes only, to stay within the run-time limit: the labels are
    # job descriptions and cost nothing measurable, so no untraced warm pass
    # is made and trace.overhead_s reads 0 here
    plans: dict[str, dict[str, int]] = {}
    cold = one_pass(plans=plans)
    traced = one_pass(label=True)
    res["layers"] = {
        **{f"query.{k}.s": v for k, v in traced["query_s"].items()},
        **{
            f"plan.{field}": float(sum(p[field] for p in plans.values()))
            for field in ("exchanges", "broadcasts", "round_robin")
        },
        "trace.coverage": sum(traced["query_s"].values()) / traced["wall_s"],
        "trace.warmup_s": cold["wall_s"] - traced["wall_s"],
        "wall_s": cold["wall_s"],
    }
    res["plans"] = plans
    return res


# --------------------------------------------------------------------------
# metric names and output
# --------------------------------------------------------------------------


END_TO_END = {"cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}
# printed by name beside the end-to-end metrics, but not part of the result:
# on a shared host their run-to-run spread is wider than any useful bound
WALL = {"wall_s": "s", "rows_per_s": "1/s"}


def _e2e(clocks: list, rows: int) -> dict[str, float]:
    """Medians over the timed jobs or passes of one run."""
    wall = statistics.median(c.wall_s for c in clocks)
    return {
        "cpu_s": statistics.median(c.cpu_s for c in clocks),
        "wall_s": wall,
        "rows_per_s": rows / wall,
    }


def per_layer_units() -> dict[str, str]:
    from perfbench import queries, webjob

    units = {"s": "s", "run_s": "s", "python_s": "s", "shuffle_write_mb": "MB", "spill_mb": "MB", "rows_out": "count"}
    out = {f"{layer}.{f}": units[f] for layer in webjob.LAYERS for f in webjob.LAYER_FIELDS}
    out |= {name: "count" for name in webjob.COUNTS}
    out["verify.precision"] = "ratio"
    out |= {f"query.{q}.s": "s" for q in queries.QUERY_NAMES}
    out |= {f"plan.{k}": "count" for k in ("exchanges", "broadcasts", "round_robin")}
    out |= {f"plan.curate.{k}": "count" for k in ("exchanges", "broadcasts", "round_robin")}
    out |= {"trace.overhead_s": "s", "trace.coverage": "ratio", "trace.warmup_s": "s", "wall_s": "s"}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    trace = bool(args.trace)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    _prepare_env(work, cpus)
    try:
        # fails fast in a directory that holds only the benchmark
        from redpajama_processor_spark.session import get_spark

        with PeakRss() as rss:
            with Clock() as session:
                spark = get_spark(app_name="perfbench", cores=cpus, extra_conf=_session_conf(work, trace))
                spark.sparkContext.setLogLevel("ERROR")
            _log(f"session {session.wall_s:.2f} s wall, {session.cpu_s:.2f} s cpu on {cpus} cores")
            try:
                if args.workload == "curate_web_job":
                    res = web_workload(spark, args.seed, args.seconds, trace, work, cpus)
                else:
                    res = entry_workload(spark, args.seed, args.seconds, trace)
            finally:
                stop_spark(spark)
        if trace and args.workload == "curate_web_job":
            res["layers"] |= web_event_metrics(os.path.join(work, "events"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    _log(f"peak memory by process (MB): {[round(b / 2**20) for b in rss.peak_parts]}")
    checks = res["checks"]
    failed = checks.count(False)
    if trace:
        units = per_layer_units()
        values = {name: float(res["layers"].get(name, 0.0)) for name in units}
    else:
        units = END_TO_END
        values = res["e2e"] | {"setup_s": session.cpu_s + res["setup_s"], "peak_rss_mb": rss.peak_mb}
        for name, unit in WALL.items():
            print(f"{args.workload} {name} {values[name]:.6g} {unit}")
    for name, unit in units.items():
        print(f"{args.workload} {name} {values[name]:.6g} {unit}")
    print(f"{args.workload} failed_ops_ratio {failed / len(checks):.6g} ratio ({failed}/{len(checks)})")
    for name, counts in res.get("plans", {}).items():
        print(f"{args.workload} plan {name} {json.dumps(counts, sort_keys=True)}")
    result = {
        "correct": failed == 0,
        "attempted": len(checks),
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": units[name]} for name in units},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
