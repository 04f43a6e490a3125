"""Layered benchmark of the engine's registered queries.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

One closed-loop client sends the workload's queries (perfbench/workloads.json)
to one GraftSession at local[nproc], each after the previous one finished;
the seed fixes their order within a pass. The data are the fixed tables in
perfbench/data. The benchmark process first checks every query's output
against perfbench/expected (row count and order-insensitive hash), runs
warm-up passes until the pass wall time settles, and then times as many
passes as fit in `--seconds`. After each timed pass it times a fixed Spark
job that runs no engine code; that series goes into the run stamp beside the
CPU steal and load average, so a run taken while the host was busy shows it,
but no metric is derived from it.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` the timed passes alternate untraced and traced, and it carries the
per-layer metrics rolled up from the trace (perfbench/layers.json). Lines
before it give the same metrics by name and unit, the run stamp, and for a
traced run the per-layer table and the top queries of each layer metric.
`--workload all` runs each workload in turn, one benchmark process each.
Everything the runs leave behind is under .bench_build/perfbench.

    python3 perfbench/run.py --record

runs every workload query once and rewrites perfbench/expected/ from the
result; perfbench/oracle_check.py then confirms it against DuckDB.
"""
import argparse
import json
import math
import os
import random
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import rollup  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected", "sf0.01.json")
HEAP = "3g"
# A run must end within 180 s; the benchmark process gets what is left of it.
RUN_LIMIT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def load_json(path):
    with open(path) as f:
        return json.load(f)


def bench_config():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def cpu_times():
    """(steal, idle, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    idle = fields[3] + (fields[4] if len(fields) > 4 else 0)
    steal = fields[7] if len(fields) > 7 else 0
    return steal, idle, sum(fields[:8])


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_jvm(mode, queries, out_file, log_file, extra, deadline):
    build_dir = os.path.abspath(build.BUILD_DIR)
    tmp = os.path.join(build_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in JDK17_OPENS] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(build_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(build_dir, 'warehouse')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", build.classpath(), "perfbench.Main", mode,
        "--queries", ",".join(queries), "--data", DATA, "--out", out_file,
        "--cpus", str(len(os.sched_getaffinity(0)))] + extra
    if os.path.exists(out_file):
        os.remove(out_file)
    with open(log_file, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: benchmark process timed out; log in {log_file}")
    if code != 0 or not os.path.exists(out_file):
        raise SystemExit(f"perfbench: benchmark process failed (exit {code}); log in {log_file}")
    return load_json(out_file)


def check_outputs(check, expected):
    """Names of queries whose output is missing, failed, or differs from
    the recorded row count and hash."""
    bad = []
    for q, got in check.items():
        want = expected.get(q)
        if "error" in got or want is None or got["rows"] != want["rows"] or got["hash"] != want["hash"]:
            bad.append(q)
    return bad


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def end_to_end(result, bad_outputs):
    """End-to-end metrics with the attempted and failed counts."""
    passes = result["passes"]
    timed = [p for p in passes if p["kind"] == "timed"]
    attempted = len(result["check"]) + sum(len(p["queries"]) for p in passes)
    failed = len(bad_outputs) + sum(len(p["errors"]) for p in passes)
    walls = [p["wall_s"] for p in timed]
    geos = [geomean([s for q, s in p["queries"].items() if q not in p["errors"]]) for p in timed
            if len(p["errors"]) < len(p["queries"])]
    metrics = {
        "wall_s": statistics.median(walls),
        "query_geomean_s": statistics.median(geos) if geos else float("nan"),
        "setup_s": (result["first_timed_ms"] - result["jvm_start_ms"]) / 1000,
    }
    return metrics, attempted, failed


def record(workloads, runs_dir, expected_path):
    """Runs every workload query once and writes its row count and hash."""
    queries = sorted({q for w in workloads.values() for q in w["queries"]})
    dump = os.path.abspath(os.path.join(build.BUILD_DIR, "record"))
    result = run_jvm("record", queries, os.path.join(runs_dir, "record.json"),
                     os.path.join(runs_dir, "record.log"), ["--dump", dump], time.monotonic() + 3600)
    errors = {q: v["error"] for q, v in result["check"].items() if "error" in v}
    if errors:
        raise SystemExit(f"perfbench: queries failed while recording: {errors}")
    recorded = {q: {"rows": v["rows"], "hash": v["hash"], "oracle_sql": result["oracle_sql"].get(q)}
                for q, v in sorted(result["check"].items())}
    os.makedirs(os.path.dirname(expected_path), exist_ok=True)
    with open(expected_path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"recorded {len(recorded)} queries to {expected_path}; rows dumped under {dump}")


def bench(workload, queries, args, runs_dir, deadline):
    """One benchmark run of one workload; prints its lines, the result last."""
    config = bench_config()
    # Warm-up ends when a pass's wall time is within wall_s's bound of the
    # previous pass's. That happens after the second warm-up pass in nearly
    # every run, so the timed passes start at the same point of the JIT
    # warm-up curve; they still get a little faster over the first few, and
    # the median over the timed window absorbs that.
    plateau = next(m["bound"] for m in config["end_to_end"] if m["name"] == "wall_s")
    queries = list(queries)
    random.Random(args.seed).shuffle(queries)
    expected = load_json(args.expected)
    cpu0, load0 = cpu_times(), loadavg()
    tag = f"{workload}-{args.seed}-{args.trace}"
    cores = len(os.sched_getaffinity(0))
    result = run_jvm("bench", queries, os.path.join(runs_dir, tag + ".json"), os.path.join(runs_dir, tag + ".log"),
                     ["--seconds", str(args.seconds), "--trace", str(args.trace), "--plateau", str(plateau)],
                     deadline)
    cpu1, load1 = cpu_times(), loadavg()
    jiffies = max(1, cpu1[2] - cpu0[2])
    stamp = {
        "nproc": cores, "heap": HEAP, "git_commit": git_commit(), "source_digest": build.stamp(),
        "workload": workload, "seed": args.seed, "trace": args.trace, "query_order": queries,
        "cpu_steal_share": (cpu1[0] - cpu0[0]) / jiffies, "cpu_idle_share": (cpu1[1] - cpu0[1]) / jiffies,
        "loadavg_start": load0, "loadavg_end": load1,
        "pass_walls_s": {k: [p["wall_s"] for p in result["passes"] if p["kind"] == k]
                         for k in ("warm", "timed", "traced")},
        "plateau_reached": result["plateau_reached"],
    }

    bad = check_outputs(result["check"], expected)
    e2e, attempted, failed = end_to_end(result, bad)
    stamp["host_probe_s"] = result["host_probe_s"]
    stamp["failed_queries"] = sorted(set(bad) | {q for p in result["passes"] for q in p["errors"]})
    print("run " + json.dumps(stamp, sort_keys=True))
    units = {m["name"]: m["unit"] for m in config["end_to_end"] + config["per_layer"]}
    print(f"{workload}: error_rate = {failed / attempted:.6g} ratio ({failed} of {attempted} query executions)")
    for k, v in e2e.items():
        print(f"{workload}: {k} = {v:.6g} {units[k]}")
    if not result["plateau_reached"]:
        print(f"{workload}: warning: warm-up stopped after {len(stamp['pass_walls_s']['warm'])} passes "
              f"without its wall time settling within {plateau:.3g}; the timed passes may still be warming up")

    if args.trace:
        metrics, per_query = rollup.rollup(result["trace"], cores, [m["name"] for m in config["per_layer"]])
        traced = [p["wall_s"] for p in result["passes"] if p["kind"] == "traced"]
        untraced = [p["wall_s"] for p in result["passes"] if p["kind"] == "timed"]
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        print(f"{workload}: traced wall_s = {statistics.median(traced):.6g} s, "
              f"untraced wall_s = {statistics.median(untraced):.6g} s")
        for m in config["per_layer"]:
            print(f"{workload}: {m['name']:28s} {metrics[m['name']]:14.6g} {m['unit']}")
        for m in config["per_layer"]:
            top = sorted(per_query, key=lambda q: -per_query[q].get(m["name"], 0))[:3]
            cells = [f"{q}={per_query[q][m['name']]:.4g}" for q in top if per_query[q].get(m["name"], 0)]
            if cells:
                print(f"{workload}: top {m['name']}: " + ", ".join(cells))
        with open(os.path.join(runs_dir, tag + ".rollup.json"), "w") as f:
            json.dump({"metrics": metrics, "queries": per_query}, f, indent=1, sort_keys=True)
        wanted = config["per_layer"]
        values = metrics
    else:
        wanted = config["end_to_end"]
        values = e2e
    print(json.dumps({
        "correct": not bad and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", help="a workload of perfbench/workloads.json, or 'all' for each in turn")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", default=EXPECTED, help="recorded outputs to check against")
    ap.add_argument("--record", action="store_true", help="rewrite the recorded outputs")
    args = ap.parse_args()
    start = time.monotonic()
    for path in (DATA, os.path.join(os.path.dirname(HERE), "BENCHMARK.json")):
        if not os.path.exists(path):
            raise SystemExit(f"perfbench: {path} is missing")
    workloads = load_json(os.path.join(HERE, "workloads.json"))
    if not args.record and args.workload not in list(workloads) + ["all"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads)} or all")
    build.build()
    runs_dir = os.path.join(build.BUILD_DIR, "runs")
    os.makedirs(runs_dir, exist_ok=True)
    if args.record:
        record(workloads, runs_dir, args.expected)
    elif args.workload == "all":
        for name, w in workloads.items():
            bench(name, w["queries"], args, runs_dir, time.monotonic() + RUN_LIMIT_S)
    else:
        bench(args.workload, workloads[args.workload]["queries"], args, runs_dir, start + RUN_LIMIT_S)


if __name__ == "__main__":
    main()
