#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the library and the benchmark on first use (perfbench/build.py)
and makes the workload's inputs from the seed. One fresh JVM at
local[<cores>] sets up (timed from the JVM's start) and then runs one
client in a closed loop that runs whole passes until --seconds have
passed (at least one). Every output is checked, and the last line is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones
(the traced run also writes its spans under .bench_build/traces/). A
failed call or a wrong result makes the line say "correct": false and
counts in "failed"; a run with no clean pass reports no pass time. Exits
non-zero without a result line when it cannot build or its JVM dies.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("covid_analytics", "corpus_prep")
# Time a run's JVM may take beyond --seconds: set-up and the final pass.
SLACK_S = 160
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
LAYER_KINDS = ["covid.ingest", "covid.etl_once", "covid.dashboard", "analytics.query",
               "ops.shared_build", "ops.dedup", "ops.ann", "streaming.twins"]
COUNTERS = ["calls", "wall_ms", "driver_ms", "jobs", "tasks", "task_cpu_ms", "gc_ms",
            "shuffle_mb", "written_mb", "slot_util"]
OTHER_LAYER = [
    ("streaming.trigger.count", "count"), ("streaming.trigger.jobs_per_trigger", "count"),
    ("streaming.trigger.latest_offset_ms", "ms"), ("streaming.trigger.query_planning_ms", "ms"),
    ("streaming.trigger.add_batch_ms", "ms"), ("streaming.trigger.wal_commit_ms", "ms"),
    ("covid.etl_once.empty_runs", "count"), ("covid.etl_once.loaded_frac", "ratio"),
    ("covid.warehouse.files", "count"), ("covid.warehouse_mb", "MB"),
    ("ops.scratch_mb", "MB"), ("spark.untagged_jobs", "count"), ("spark.gc_ms", "ms"),
    ("host.cores", "count"), ("host.steal_pct", "%"), ("host.peak_rss_mb", "MB"),
    ("wl.etl_rows_per_s", "1/s"), ("wl.etl_run_ms.mean", "ms"), ("wl.dashboard_ms.mean", "ms"),
    ("wl.mix_qps", "1/s"), ("wl.query_ms.mean", "ms"), ("wl.corpus_build_s", "s"),
    ("wl.stream_drain_s", "s"), ("wl.ann_search_s", "s"), ("trace.pass_s", "s")]
COUNTER_UNITS = {"calls": "count", "wall_ms": "ms", "driver_ms": "ms", "jobs": "count",
                 "tasks": "count", "task_cpu_ms": "ms", "gc_ms": "ms", "shuffle_mb": "MB",
                 "written_mb": "MB", "slot_util": "ratio"}


def layer_units():
    units = {f"{k}.{c}": COUNTER_UNITS[c] for k in LAYER_KINDS for c in COUNTERS}
    units.update(dict(OTHER_LAYER))
    return units


def jvm_command(cp, args, data, work, out):
    props = {
        "java.io.tmpdir": os.path.join(work, "tmp"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.graft.scratchDir": os.path.join(work, "scratch"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "derby.system.home": work,
        "spark.ui.enabled": "false",
        "spark.sql.session.timeZone": "UTC",
    }
    return (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS] +
            ["-Xmx3g", "-Xms3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"] +
            [f"-D{k}={v}" for k, v in props.items()] +
            ["-cp", cp, "graft.perfbench.Main",
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--work", work, "--out", out])


def check_covid(run, tallies):
    """Failed checks: every pass's warehouse and cards against the tallies."""
    bad = []
    for f in run["facts"]:
        for k, v in f["cards"].items():
            if v != tallies[k]:
                bad.append(f"pass {f['pass']}: card {k} differs")
        if f["loaded"] != tallies["total_records"]:
            bad.append(f"pass {f['pass']}: loaded {f['loaded']} rows, "
                       f"want {tallies['total_records']}")
    return bad


def check_builds(run):
    """Failed checks of the memo-miss guard: every shared build must have
    written files, or it served a memo hit."""
    return [f"memo-miss guard: pass {f['pass']}: {name} wrote no file"
            for f in run["facts"] for name, n in f.get("built_files", {}).items() if n == 0]


def e2e_metrics(run):
    """pass_s over the passes without a failed call (none if no pass was
    clean: a failure never counts as a time) and setup_s."""
    ok_passes = [p for p in run["passes"]
                 if all(c["ok"] for c in run["calls"] if c["pass"] == p["pass"])]
    m = {"setup_s": {"value": run["setup_ms"] / 1000.0, "unit": "s"}}
    if ok_passes:
        m["pass_s"] = {"value": statistics.median(p["wall_ms"] for p in ok_passes) / 1000.0,
                       "unit": "s"}
    return m


def layer_metrics(run):
    m = dict(run["layers"])
    facts, passes = run["facts"], len(run["passes"])
    calls = [c for c in run["calls"] if c["ok"]]

    def mean_ms(kind):
        ms = [c["wall_ms"] for c in calls if c["kind"] == kind]
        return statistics.mean(ms) if ms else 0.0

    def per_pass_s(kinds):
        return sum(c["wall_ms"] for c in calls if c["kind"] in kinds) / 1000.0 / passes

    covid = [f for f in facts if "etl_runs" in f]
    m["covid.etl_once.empty_runs"] = sum(f["empty_runs"] for f in covid) / passes
    extracted = sum(f["extracted"] for f in covid)
    m["covid.etl_once.loaded_frac"] = sum(f["loaded"] for f in covid) / extracted if extracted else 0.0
    m["covid.warehouse.files"] = covid[-1]["warehouse_files"] if covid else 0
    m["covid.warehouse_mb"] = covid[-1]["warehouse_bytes"] / 1e6 if covid else 0.0
    m["ops.scratch_mb"] = sum(f.get("scratch_bytes", 0) for f in facts) / 1e6 / passes
    m["spark.gc_ms"] = run["host"]["gc_ms"] / passes
    m["host.cores"] = run["host"]["cores"]
    m["host.steal_pct"] = run["host"]["steal_pct"]
    m["host.peak_rss_mb"] = run["host"]["peak_rss_mb"]
    etl_s = per_pass_s({"covid.ingest", "covid.etl_once"})
    loaded = sum(f["loaded"] for f in covid) / passes
    m["wl.etl_rows_per_s"] = loaded / etl_s if etl_s else 0.0
    # Means, not percentiles: one pass gives too few samples per call kind
    # (10 cards, 10 queries, 3 ETL runs) to have ten beyond a median.
    m["wl.etl_run_ms.mean"] = mean_ms("covid.etl_once")
    m["wl.dashboard_ms.mean"] = mean_ms("covid.dashboard")
    q_ms = mean_ms("analytics.query")
    m["wl.mix_qps"] = 1000.0 / q_ms if q_ms else 0.0
    m["wl.query_ms.mean"] = q_ms
    m["wl.corpus_build_s"] = per_pass_s({"ops.shared_build", "ops.dedup"})
    m["wl.stream_drain_s"] = per_pass_s({"streaming.twins"})
    m["wl.ann_search_s"] = per_pass_s({"ops.ann"})
    pass_s = e2e_metrics(run).get("pass_s")
    if pass_s:
        m["trace.pass_s"] = pass_s["value"]
    units = layer_units()
    return {k: {"value": float(m[k]), "unit": units[k]} for k in units if k in m}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")

    root = os.path.abspath(os.path.join(build.build_dir(), "runs",
                                        f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(root, ignore_errors=True)
    data, work, out = (os.path.join(root, d) for d in ("data", "work", "out"))
    for d in (data, work, os.path.join(work, "tmp")):
        os.makedirs(d)
    try:
        t0 = time.monotonic()
        tallies = None
        if args.workload == "covid_analytics":
            tallies = gen.covid_csv(args.seed, os.path.join(data, "covid.csv"))
        gen.tables(args.seed, data)

        t_gen = time.monotonic()
        log_path = os.path.join(root, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(jvm_command(cp, args, data, work, out),
                                    stdout=log, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=args.seconds + SLACK_S)
            except subprocess.TimeoutExpired:
                rc = "timeout"
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
            with open(log_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            sys.exit(f"[perfbench] benchmark JVM failed ({rc})")
        with open(os.path.join(out, "run.json")) as f:
            run = json.load(f)
        t_jvm = time.monotonic()
        with open(log_path) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))

        problems = [f"{c['kind']} {c['name']}: {c['error']}" for c in run["calls"] if not c["ok"]]
        wrong = []
        if tallies is not None:
            wrong += check_covid(run, tallies)
        if os.path.exists(os.path.join(out, "results", "oracle_sql.json")):
            verdicts = oracle.check(data, os.path.join(out, "results"))
            wrong += [f"{q}: {v}" for q, v in verdicts.items() if v]
        wrong += check_builds(run)
        if args.trace and not run["attribution"]["ok"]:
            wrong.append(f"attribution: {json.dumps(run['attribution'])}")
        print(f"[perfbench] inputs {t_gen - t0:.1f} s, jvm {t_jvm - t_gen:.1f} s, "
              f"checks {time.monotonic() - t_jvm:.1f} s, "
              f"cpu steal {run['host']['steal_pct']:.1f}%", file=sys.stderr)
        for p in problems + wrong:
            print(f"[perfbench] FAILED {p}", file=sys.stderr)
        for kind in sorted({c["kind"] for c in run["calls"]}):
            ms = [c["wall_ms"] for c in run["calls"] if c["kind"] == kind]
            print(f"[perfbench] {kind:18s} {len(ms):4d} calls {sum(ms) / 1000:8.2f} s",
                  file=sys.stderr)

        metrics = layer_metrics(run) if args.trace else e2e_metrics(run)
        if args.trace:
            traces = os.path.join(build.build_dir(), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(out, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
        attempted = len(run["calls"])
        failed = min(attempted, len(problems) + len(wrong))
        print(json.dumps({"correct": not problems and not wrong, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
