"""The benchmark's own checks.

    python3 perfbench/selftest.py          # arithmetic checks, then one short benchmark run
    python3 perfbench/selftest.py --quick  # arithmetic checks only

1. Span self-time arithmetic and the trace rollup on a synthetic trace, and
   that perfbench/layers.json describes exactly BENCHMARK.json's per-layer
   metrics.
2. A corrupted recorded hash is counted as a failed execution: first through
   the comparison function, then through a real run of the benchmark whose
   expected-output file has one hash flipped.
"""
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import rollup  # noqa: E402
import run  # noqa: E402


def check_self_time():
    assert rollup.union_within([(10, 30), (20, 40), (90, 120)], 0, 100) == 40
    assert rollup.self_time((0, 100), [(10, 30), (20, 40), (90, 120)]) == 60
    assert rollup.self_time((0, 100), []) == 100
    assert rollup.self_time((0, 100), [(-50, 150)]) == 0
    assert rollup.self_time((0, 100), [(100, 120), (-10, 0)]) == 100


def synthetic_trace():
    """Pass 3 runs query `a` (build 0-100 ms with a job 10-40 and a
    streaming micro-batch job 50-70; plan 100-110; execute 110-200 with
    tasks 120-150 and 140-160) and query `b` (build 200-210, execute
    210-300 with no task)."""
    fields = {
        "spans": ["id", "parent", "kind", "name", "t0_ms", "t1_ms"],
        "jobs": ["job", "group", "tag", "start_ms", "end_ms"],
        "stages": ["stage", "num_tasks", "tag"],
        "tasks": ["stage", "tag", "launch_ms", "finish_ms", "run_ms", "cpu_ns", "gc_ms", "result_bytes",
                  "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "disk_spill_bytes",
                  "input_records", "input_bytes"],
        "sql": ["tag", "func", "agg_ms", "sort_ms", "pipeline_ms", "scan_ms"],
        "batches": ["tag", "batch", "input_rows", "end_ms", "trigger_ms", "planning_ms", "add_batch_ms",
                    "commit_ms", "state_commit_ms"],
        "jvm": ["pass", "gc_ms", "heap_peak_bytes"],
    }
    return {
        "fields": fields,
        "spans": [
            [2, 1, "query", "a", 0, 200], [3, 2, "build", "a", 0, 100], [4, 2, "plan", "a", 100, 110],
            [5, 2, "execute", "a", 110, 200],
            [6, 1, "query", "b", 200, 300], [7, 6, "build", "b", 200, 210], [8, 6, "execute", "b", 210, 300],
            [1, 0, "pass", "3", 0, 300],
        ],
        "jobs": [
            [0, "perfbench:3:a:build", "3/a/build", 10, 40],
            [1, "stream-run-id", "3/a/build", 50, 70],
            [2, "perfbench:3:a:execute", "3/a/execute", 115, 165],
        ],
        "stages": [[0, 1, "3/a/build"], [1, 1, "3/a/build"], [2, 2, "3/a/execute"]],
        "tasks": [
            [0, "3/a/build", 12, 38, 26, 20_000_000, 0, 2_000_000, 0, 0, 0, 0, 100, 1_000_000],
            [2, "3/a/execute", 120, 150, 30, 25_000_000, 5, 1_000_000, 3_000_000, 0, 0, 0, 0, 0],
            [2, "3/a/execute", 140, 160, 20, 15_000_000, 0, 1_000_000, 0, 3_000_000, 4, 0, 0, 0],
        ],
        "sql": [["3/a/execute", "command", 7, 0, 11, 2]],
        "batches": [["3/a/build", 0, 100, 70, 20, 5, 10, 3, 2]],
        "jvm": [[3, 9, 500_000_000]],
    }


def check_rollup():
    names = [m["name"] for m in run.bench_config()["per_layer"]]
    assert set(run.load_json(os.path.join(run.HERE, "layers.json"))["per_layer"]) == set(names)
    metrics, queries = rollup.rollup(synthetic_trace(), 2, names)
    expect = {
        "operators.build_s": 0.110,
        # a: 100 - (30 + 20) covered by its two build-phase jobs; b: 10.
        "operators.build_self_s": 0.060,
        "operators.build_jobs": 2,
        "operators.build_result_mb": 2.0,
        "operators.build_share": 0.110 / 0.300,
        "catalyst.plan_s": 0.010,
        "scheduler.jobs": 3, "scheduler.stages": 3, "scheduler.tasks": 3, "scheduler.single_task_stages": 2,
        # a: execute 110-200 with tasks covering 120-160; b: 90 ms with none.
        "scheduler.idle_s": 0.050 + 0.090,
        "executor.run_s": 0.076, "executor.cpu_s": 0.060, "executor.gc_s": 0.005,
        # execute-phase task time 50 ms over (90 + 90 ms) x 2 cores.
        "executor.core_util": 0.050 / (0.180 * 2),
        "shuffle.write_mb": 3.0, "shuffle.read_mb": 3.0, "shuffle.fetch_wait_s": 0.004, "shuffle.spill_mb": 0.0,
        "sources.scan_rows": 100, "sources.scan_mb": 1.0, "sources.scan_s": 0.002,
        "sql.agg_s": 0.007, "sql.sort_s": 0.0, "sql.codegen_s": 0.011,
        "streaming.batches": 1, "streaming.trigger_s": 0.020, "streaming.planning_s": 0.005,
        "streaming.add_batch_s": 0.010, "streaming.commit_s": 0.003, "streaming.state_commit_s": 0.002,
        "driver.result_mb": 4.0, "driver.gc_s": 0.009, "driver.heap_peak_mb": 500.0,
    }
    # trace.overhead_s compares traced with untraced passes; run.py sets it.
    assert set(names) - set(expect) == {"trace.overhead_s"}, set(names) - set(expect)
    for k, v in expect.items():
        assert abs(metrics[k] - v) < 1e-9, f"{k}: got {metrics[k]}, expected {v}"
    assert queries["b"]["operators.build_s"] == 0.010 and queries["b"]["scheduler.jobs"] == 0


def corrupted(expected):
    q = sorted(expected)[0]
    bad = dict(expected)
    bad[q] = dict(expected[q], hash="%016x" % (int(expected[q]["hash"], 16) ^ 1))
    return q, bad


def check_corrupted_hash_unit():
    expected = run.load_json(run.EXPECTED)
    check = {q: {"rows": v["rows"], "hash": v["hash"]} for q, v in expected.items()}
    assert run.check_outputs(check, expected) == []
    q, bad = corrupted(expected)
    assert run.check_outputs(check, bad) == [q]
    assert run.check_outputs({**check, q: {"error": "boom"}}, expected) == [q]


def check_corrupted_hash_run():
    workloads = run.load_json(os.path.join(run.HERE, "workloads.json"))
    name = min(workloads, key=lambda w: len(workloads[w]["queries"]))
    expected = run.load_json(run.EXPECTED)
    q, bad = corrupted({k: v for k, v in expected.items() if k in workloads[name]["queries"]})
    path = os.path.join(build.BUILD_DIR, "selftest-expected.json")
    os.makedirs(build.BUILD_DIR, exist_ok=True)
    with open(path, "w") as f:
        json.dump({**expected, **bad}, f)
    out = subprocess.run([sys.executable, os.path.join(run.HERE, "run.py"), "--workload", name, "--seed", "0",
                          "--seconds", "1", "--trace", "0", "--expected", path],
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["failed"] >= 1 and not result["correct"], result
    assert f'"failed_queries": ["{q}"]' in out.stdout, out.stdout


def main():
    checks = [check_self_time, check_rollup, check_corrupted_hash_unit]
    if "--quick" not in sys.argv:
        checks.append(check_corrupted_hash_run)
    for c in checks:
        c()
        print(f"ok {c.__name__}")


if __name__ == "__main__":
    main()
