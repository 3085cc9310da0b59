"""Turns the runner's records into per-query rows, end-to-end metrics and,
for a traced run, spans and per-layer metrics."""
import json
import statistics
from collections import defaultdict
from datetime import datetime

import stats

MB = 1048576.0
PHASES = ("build", "plan", "exec", "count")


def dur(span):
    return (span[1] - span[0]) / 1e3


def wall(r):
    """Build to fully materialized result, in seconds."""
    return (r["exec"][1] - r["build"][0]) / 1e3


def per_query(records, sample, checks):
    """One row per sampled query, and the failed queries with a reason.

    A row keeps every warm pass's phases under `warm`, keyed by pass.
    `warm_s` is the faster of the untraced warm passes, so a burst of host
    load during one pass does not count as the query's latency."""
    by = defaultdict(dict)
    for r in records:
        if r["type"] == "query":
            by[r["query"]][r["pass"]] = r
    rows, failed = [], {}
    for q in sample:
        passes = by[q]
        row = {"query": q, "oracle": checks[q][0], "oracle_detail": checks[q][1]}
        for p, r in sorted(passes.items()):
            if "error" in r:
                failed.setdefault(q, f"pass {p}: {r['error']}")
                continue
            if p == 0:
                row["cold_s"] = wall(r)
                continue
            row.setdefault("warm", {})[p] = {
                "build_s": dur(r["build"]), "plan_s": dur(r["plan"]), "exec_s": dur(r["exec"]),
                "warm_s": wall(r), "traced": r["traced"]}
            if "count" in r:
                row.update({"count_s": dur(r["count"]), "noop_rows": r["noop_rows"],
                            "count_rows": r["count_rows"]})
                if r["noop_rows"] != r["count_rows"]:
                    failed.setdefault(q, f"pass {p}: noop wrote {r['noop_rows']} rows, "
                                         f"count() returned {r['count_rows']}")
        untraced = [w["warm_s"] for w in row.get("warm", {}).values() if not w["traced"]]
        if untraced:
            row["warm_s"] = min(untraced)
        if len(passes) == 0:
            failed.setdefault(q, "never ran")
        if checks[q][0] == "fail":
            failed.setdefault(q, f"oracle: {checks[q][1]}")
        rows.append(row)
    return rows, failed


def end_to_end(records, rows, ref, pool):
    """End-to-end metrics (value, unit) and the notes printed beside them.

    A pass total is the pool's reference total (reference.json) times the
    sample's speed ratio for that pass (stats.speed_ratio). With one query
    per cost stratum, a cost-weighted ratio or a plain sample sum lets one
    query, or one burst of load on the shared host, set the number. A tail
    percentile is reported only from measured samples, where at least ten
    lie beyond it."""
    ok = [r for r in rows if "warm_s" in r and "cold_s" in r and "count_s" in r]
    if not ok:
        raise SystemExit("perfbench: no query completed")

    def est(key, ref_key):
        ratio = stats.speed_ratio([r[key] for r in ok], [ref[r["query"]][ref_key] for r in ok])
        return ratio * sum(ref[q][ref_key] for q in pool)

    warm = [r["warm_s"] for r in ok]
    level = stats.tail_level(len(warm))
    setup = next(r for r in records if r["type"] == "setup")["s"]
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "warm_total_s": (est("warm_s", "warm"), "s"),
        "count_total_s": (est("count_s", "count"), "s"),
    }
    notes = {"cold_s": est("cold_s", "cold"), "cold_pass_s": sum(r["cold_s"] for r in ok),
             "query_p50_s": statistics.median(warm),
             "query_p90_s": None if level is None else stats.percentile(warm, level),
             "query_p90.samples": len(warm), "query_p90.level": level,
             "peak_rss_mb": next(r for r in records if r["type"] == "end")["peak_rss_mb"],
             "sample_warm_s": sum(warm), "sample_count_s": sum(r["count_s"] for r in ok)}
    return metrics, notes


# ---- traced run ----------------------------------------------------------------

def _progress_time(p):
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return (ts - datetime(1970, 1, 1)).total_seconds() * 1e3


def spans(records):
    """The span tree of a traced run: run -> query -> phase -> job/trigger.

    Phases come from the runner's own timers; a job is a child of the
    phase it was submitted in, and a stream trigger (progress timestamp
    plus triggerExecution) a child of the build phase it ran inside."""
    out = []

    def add(name, kind, t0, t1, parent, **attrs):
        out.append(dict(id=len(out), parent=parent, name=name, kind=kind, t0=t0, t1=t1, **attrs))
        return out[-1]["id"]

    queries = [r for r in records if r["type"] == "query" and r["traced"] and "build" in r]
    t0 = min(r["build"][0] for r in queries)
    t1 = max((r.get("count") or r["exec"])[1] for r in queries)
    run = add("run", "run", t0, t1, None)
    phase_id, builds = {}, []
    for r in queries:
        last = (r.get("count") or r["exec"])[1]
        qid = add(r["query"], "query", r["build"][0], last, run, **{"pass": r["pass"]})
        for ph in PHASES:
            if ph in r:
                pid = add(ph, "phase", r[ph][0], r[ph][1], qid)
                phase_id[f"{r['pass']}/{r['query']}/{ph}"] = pid
                if ph == "build":
                    builds.append((r[ph][0], r[ph][1], pid))
    starts = {r["job"]: r for r in records if r["type"] == "job_start"}
    for r in records:
        if r["type"] == "job_end" and r["job"] in starts:
            st = starts[r["job"]]
            if st["phase"] in phase_id:
                add(f"job {r['job']}", "job", st["t"], r["t"], phase_id[st["phase"]], ok=r["ok"])
    for r in records:
        if r["type"] != "progress":
            continue
        p = r["p"]
        a = _progress_time(p)
        b = a + p["durationMs"].get("triggerExecution", 0)
        parent = next((pid for s, e, pid in builds if s <= a <= e), None)
        if parent is not None:
            add(f"trigger {p['name']}#{p['batchId']}", "trigger", a, b, parent,
                run_id=p["runId"], durations=p["durationMs"])
    kids = defaultdict(list)
    for s in out:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    for s in out:
        s["self_s"] = stats.self_time((s["t0"], s["t1"]), kids[s["id"]]) / 1e3
    return out


def per_layer(records, rows, cpus, spans_path):
    """Per-layer metrics of a traced run; writes the spans as JSON lines.

    Execution, scan, plan, build and stream metrics cover the traced warm
    pass (pass 2); JVM metrics cover both traced passes; the tracing
    overhead compares the traced warm pass with the mean of the untraced
    warm passes on either side of it."""
    tree = spans(records)
    with open(spans_path, "w") as f:
        for s in tree:
            f.write(json.dumps(s) + "\n")

    warm = [r for r in records if r["type"] == "query" and r["pass"] == 2 and "exec" in r]
    traced = [r for r in records if r["type"] == "query" and r["traced"] and "error" not in r]
    phase_of = {r["job"]: r["phase"] for r in records if r["type"] == "job_start" and r["phase"]}
    stages = [s for s in records if s["type"] == "stage" and phase_of.get(s["job"], "").startswith("2/")]
    exec_stages = [s for s in stages if phase_of[s["job"]].endswith("/exec")]
    jobs = [p for p in phase_of.values() if p.startswith("2/")]
    pm = defaultdict(float)
    for r in warm:
        for k, v in r.get("plan_metrics", {}).items():
            pm[k] += v
    pp = defaultdict(float)
    for r in warm:
        for k, v in r.get("plan_phases", {}).items():
            pp[k] += v / 1e3
    exec_s = sum(dur(r["exec"]) for r in warm)
    run_s = sum(s["run_ms"] for s in exec_stages) / 1e3

    # stream triggers inside the traced warm pass's build phases
    warm_builds = {s["id"] for s in tree if s["kind"] == "phase" and s["name"] == "build"
                   and tree[s["parent"]]["pass"] == 2}
    trig = [s for s in tree if s["kind"] == "trigger" and s["parent"] in warm_builds]
    runs = {t["run_id"] for t in trig}
    progress = [r["p"] for r in records if r["type"] == "progress" and r["p"]["runId"] in runs]
    last = {}
    for p in progress:
        last[p["runId"]] = p
    stream_builds = {t["parent"] for t in trig}
    outside = sum(s["t1"] - s["t0"] - stats.union_length(
        [(t["t0"], t["t1"]) for t in trig if t["parent"] == s["id"]], s["t0"], s["t1"])
        for s in tree if s["id"] in stream_builds) / 1e3

    def trig_sum(k):
        return sum(t["durations"].get(k, 0) for t in trig) / 1e3

    cold = {r["query"]: r["cold_s"] for r in rows if "cold_s" in r}
    warm_untraced = {r["query"]: r["warm_s"] for r in rows if "warm_s" in r}
    warm_traced = {r["query"]: r["warm"][2]["warm_s"] for r in rows if 2 in r.get("warm", {})}
    # the untraced passes before and after the traced one, so that JIT
    # progress between passes does not read as tracing overhead
    around = {r["query"]: (r["warm"][1]["warm_s"] + r["warm"][3]["warm_s"]) / 2 for r in rows
              if 1 in r.get("warm", {}) and 3 in r.get("warm", {})}
    both = [q for q in around if q in warm_traced]
    caches = next(r for r in records if r["type"] == "caches")
    q_spans = [s for s in tree if s["kind"] == "query"]

    m = {
        "scan.input_mb": (sum(s["input_bytes"] for s in stages) / MB, "MB"),
        "scan.rows": (sum(s["input_rows"] for s in stages), "count"),
        "scan.time_s": (pm["scan_s"], "s"),
        "build.time_s": (sum(dur(r["build"]) for r in warm), "s"),
        "build.jobs": (sum(1 for p in jobs if p.endswith("/build")), "count"),
        "build.storage_mb": (sum(r.get("storage_mb", 0.0) for r in warm), "MB"),
        "plan.time_s": (sum(dur(r["plan"]) for r in warm), "s"),
        "plan.analysis_s": (pp["analysis"], "s"),
        "plan.optimization_s": (pp["optimization"], "s"),
        "plan.physical_s": (pp["planning"], "s"),
        "exec.time_s": (exec_s, "s"),
        "exec.jobs": (sum(1 for p in jobs if p.endswith("/exec")), "count"),
        "exec.stages": (len(exec_stages), "count"),
        "exec.tasks": (sum(s["tasks"] for s in exec_stages), "count"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (sum(s["cpu_ns"] for s in exec_stages) / 1e9, "s"),
        "exec.core_busy_frac": (run_s / (exec_s * cpus) if exec_s else 0.0, "ratio"),
        "exec.task_queue_s": (sum(s["queue_ms"] for s in exec_stages) / 1e3, "s"),
        "exec.single_task_stage_s": (sum(s["t1"] - s["t0"] for s in exec_stages if s["tasks"] == 1) / 1e3, "s"),
        "exec.shuffle_read_mb": (sum(s["shuffle_read_bytes"] for s in exec_stages) / MB, "MB"),
        "exec.shuffle_write_mb": (sum(s["shuffle_write_bytes"] for s in exec_stages) / MB, "MB"),
        "exec.spill_mb": (sum(s["spill_bytes"] for s in exec_stages) / MB, "MB"),
        "exec.failed_tasks": (sum(s["failed_tasks"] for s in exec_stages), "count"),
        "exec.agg_s": (pm["agg_s"], "s"),
        "exec.sort_s": (pm["sort_s"], "s"),
        "exec.join_build_s": (pm["join_build_s"], "s"),
        "exec.rows_in_per_row_out": (pm["leaf_rows"] / max(1, sum(r["noop_rows"] for r in warm)), "ratio"),
        "stream.queries": (len(runs), "count"),
        "stream.batches": (len(trig), "count"),
        "stream.trigger_s": (trig_sum("triggerExecution"), "s"),
        "stream.add_batch_s": (trig_sum("addBatch"), "s"),
        "stream.latest_offset_s": (trig_sum("latestOffset"), "s"),
        "stream.get_batch_s": (trig_sum("getBatch"), "s"),
        "stream.query_planning_s": (trig_sum("queryPlanning"), "s"),
        "stream.wal_commit_s": (trig_sum("walCommit"), "s"),
        "stream.commit_offsets_s": (trig_sum("commitOffsets"), "s"),
        "stream.outside_trigger_s": (outside, "s"),
        "stream.input_rows": (sum(p.get("numInputRows", 0) for p in progress), "count"),
        "stream.state_rows": (sum(o.get("numRowsTotal", 0) for p in last.values()
                                  for o in p.get("stateOperators", [])), "count"),
        "stream.state_mem_mb": (sum(o.get("memoryUsedBytes", 0) for p in last.values()
                                    for o in p.get("stateOperators", [])) / MB, "MB"),
        "stream.late_dropped_rows": (sum(o.get("numRowsDroppedByWatermark", 0) for p in progress
                                         for o in p.get("stateOperators", [])), "count"),
        "cache.cold_extra_s": (sum(cold[q] - warm_untraced[q] for q in cold if q in warm_untraced), "s"),
        "cache.storage_mb": (caches["storage_mb"], "MB"),
        "cache.scratch_mb": (caches["scratch_mb"], "MB"),
        "jvm.peak_rss_mb": (next(r for r in records if r["type"] == "end")["peak_rss_mb"], "MB"),
        "jvm.gc_s": (sum(r["gc_s"] for r in traced), "s"),
        "jvm.jit_s": (sum(r["jit_s"] for r in traced), "s"),
        "jvm.codegen_compiles": (sum(r["codegen_compiles"] for r in traced), "count"),
        "jvm.codegen_s": (sum(r["codegen_s"] for r in traced), "s"),
        "trace.overhead_frac": (sum(warm_traced[q] for q in both) / sum(around[q] for q in both) - 1
                                if both else 0.0, "ratio"),
        "trace.unattributed_frac": (sum(s["self_s"] for s in q_spans) /
                                    sum((s["t1"] - s["t0"]) / 1e3 for s in q_spans), "ratio"),
        "trace.sample_warm_s": (sum(warm_traced.values()), "s"),
    }
    return m
