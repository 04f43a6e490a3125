"""Rolls a traced run's spans and Spark events up into per-layer metrics.

The benchmark process records, for each traced pass, spans
`pass -> query -> build | plan | execute` and the events Spark's listeners
report (jobs, stages, tasks, SQL operator metrics, streaming progress,
JVM memory). Each event carries the tag `pass/query/phase` that was current
when it was processed; jobs also carry the job group the benchmark set.
BENCHMARK.json names the metrics with their units and directions;
perfbench/layers.json says what each one means and which end-to-end metric
it should move.
"""
import statistics

MB = 1e6


def union_within(intervals, lo, hi):
    """Length of the union of `intervals` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_within(children, lo, hi)


def _rows(trace, kind):
    fields = trace["fields"][kind]
    return [dict(zip(fields, r)) for r in trace[kind]]


def _split_tag(tag):
    parts = tag.split("/", 2)
    return (int(parts[0]), parts[1], parts[2]) if len(parts) == 3 and parts[0] else (None, "", "")


def _job_phase(job):
    """(pass, query, phase) of a job: from the benchmark's job group when
    the job carries it, else from the tag (streaming micro-batch jobs run
    under the stream's own group)."""
    group = job["group"]
    if group.startswith("perfbench:"):
        _, p, q, ph = group.split(":", 3)
        return int(p), q, ph
    return _split_tag(job["tag"])


def per_query(trace):
    """{pass: {query: {metric: value}}} for every traced pass."""
    spans = _rows(trace, "spans")
    by_id = {s["id"]: s for s in spans}
    out = {}

    def slot(p, q):
        return out.setdefault(p, {}).setdefault(q, {
            "query_s": 0.0, "build_s": 0.0, "plan_s": 0.0, "execute_s": 0.0,
            "build_iv": [], "execute_iv": [], "job_iv": {"build": [], "plan": [], "execute": []},
            "task_iv": {"build": [], "plan": [], "execute": []}, "counts": {}})

    def add(d, key, v):
        d["counts"][key] = d["counts"].get(key, 0) + v

    for s in spans:
        if s["kind"] == "pass":
            continue
        parent = by_id.get(s["parent"])
        if s["kind"] == "query":
            p = int(parent["name"])
            d = slot(p, s["name"])
            d["query_s"] += (s["t1_ms"] - s["t0_ms"]) / 1000
        else:
            p = int(by_id[parent["parent"]]["name"])
            d = slot(p, s["name"])
            d[s["kind"] + "_s"] += (s["t1_ms"] - s["t0_ms"]) / 1000
            if s["kind"] in ("build", "execute"):
                d[s["kind"] + "_iv"].append((s["t0_ms"], s["t1_ms"]))

    for j in _rows(trace, "jobs"):
        p, q, ph = _job_phase(j)
        if p is None or not q:
            continue
        d = slot(p, q)
        add(d, "scheduler.jobs", 1)
        if ph == "build":
            add(d, "operators.build_jobs", 1)
        d["job_iv"].setdefault(ph, []).append((j["start_ms"], j["end_ms"]))

    for st in _rows(trace, "stages"):
        p, q, _ = _split_tag(st["tag"])
        if p is None or not q:
            continue
        d = slot(p, q)
        add(d, "scheduler.stages", 1)
        add(d, "scheduler.single_task_stages", 1 if st["num_tasks"] == 1 else 0)

    for t in _rows(trace, "tasks"):
        p, q, ph = _split_tag(t["tag"])
        if p is None or not q:
            continue
        d = slot(p, q)
        add(d, "scheduler.tasks", 1)
        add(d, "executor.run_s", t["run_ms"] / 1000)
        add(d, "executor.cpu_s", t["cpu_ns"] / 1e9)
        add(d, "executor.gc_s", t["gc_ms"] / 1000)
        add(d, "shuffle.write_mb", t["shuffle_write_bytes"] / MB)
        add(d, "shuffle.read_mb", t["shuffle_read_bytes"] / MB)
        add(d, "shuffle.fetch_wait_s", t["fetch_wait_ms"] / 1000)
        add(d, "shuffle.spill_mb", t["disk_spill_bytes"] / MB)
        add(d, "sources.scan_rows", t["input_records"])
        add(d, "sources.scan_mb", t["input_bytes"] / MB)
        add(d, "driver.result_mb", t["result_bytes"] / MB)
        if ph == "build":
            add(d, "operators.build_result_mb", t["result_bytes"] / MB)
        if ph == "execute":
            add(d, "_execute_run_ms", t["run_ms"])
        d["task_iv"].setdefault(ph, []).append((t["launch_ms"], t["finish_ms"]))

    for r in _rows(trace, "sql"):
        p, q, _ = _split_tag(r["tag"])
        if p is None or not q:
            continue
        d = slot(p, q)
        add(d, "sql.agg_s", r["agg_ms"] / 1000)
        add(d, "sql.sort_s", r["sort_ms"] / 1000)
        add(d, "sql.codegen_s", r["pipeline_ms"] / 1000)
        add(d, "sources.scan_s", r["scan_ms"] / 1000)

    for b in _rows(trace, "batches"):
        p, q, _ = _split_tag(b["tag"])
        if p is None or not q:
            continue
        d = slot(p, q)
        add(d, "streaming.batches", 1)
        add(d, "streaming.trigger_s", b["trigger_ms"] / 1000)
        add(d, "streaming.planning_s", b["planning_ms"] / 1000)
        add(d, "streaming.add_batch_s", b["add_batch_ms"] / 1000)
        add(d, "streaming.commit_s", b["commit_ms"] / 1000)
        add(d, "streaming.state_commit_s", b["state_commit_ms"] / 1000)

    result = {}
    for p, queries in out.items():
        for q, d in queries.items():
            m = dict(d["counts"])
            m["operators.build_s"] = d["build_s"]
            m["operators.build_self_s"] = sum(self_time(iv, d["job_iv"]["build"]) for iv in d["build_iv"]) / 1000
            m["catalyst.plan_s"] = d["plan_s"]
            m["scheduler.idle_s"] = sum(self_time(iv, d["task_iv"]["execute"]) for iv in d["execute_iv"]) / 1000
            m["_query_s"] = d["query_s"]
            m["_execute_s"] = d["execute_s"]
            result.setdefault(p, {})[q] = m
    return result


def pass_totals(queries, jvm_row, cores):
    """Per-layer metrics of one pass from its per-query metrics."""
    tot = {}
    for m in queries.values():
        for k, v in m.items():
            tot[k] = tot.get(k, 0) + v
    query_s = tot.pop("_query_s", 0.0)
    execute_s = tot.pop("_execute_s", 0.0)
    execute_run_ms = tot.pop("_execute_run_ms", 0.0)
    tot["operators.build_share"] = tot["operators.build_s"] / query_s if query_s else 0.0
    tot["executor.core_util"] = execute_run_ms / 1000 / (execute_s * cores) if execute_s else 0.0
    tot["driver.gc_s"] = jvm_row["gc_ms"] / 1000 if jvm_row else 0.0
    tot["driver.heap_peak_mb"] = jvm_row["heap_peak_bytes"] / MB if jvm_row else 0.0
    return tot


def rollup(trace, cores, names):
    """(metrics, per-query metrics), each the median over traced passes of
    the metrics in `names`; a metric no event reported is 0. Per query
    there are only the metrics some query has (not the pass-level ones)."""
    pq = per_query(trace)
    jvm = {r["pass"]: r for r in _rows(trace, "jvm")}
    passes = sorted(p for p in jvm)
    totals = [pass_totals(pq.get(p, {}), jvm[p], cores) for p in passes]
    metrics = {k: statistics.median(t.get(k, 0) for t in totals) for k in names} if totals else {}
    rows = [(q, m) for p in passes for q, m in pq.get(p, {}).items()]
    per_q = [k for k in names if any(k in m for _, m in rows)]
    queries = {}
    for q in sorted({q for q, _ in rows}):
        mine = [m for name, m in rows if name == q]
        queries[q] = {k: statistics.median(m.get(k, 0) for m in mine) for k in per_q}
    return metrics, queries
