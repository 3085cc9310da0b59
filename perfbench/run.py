#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one fresh JVM.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 25 --trace 0

Run from the root of a checkout. The first run builds the runner (the
repo's main sources plus perfbench/src) with sbt and writes the fixture;
both are kept under .bench_build/perfbench and reused while the sources
are unchanged.

A run is a closed loop with one client: one query at a time, in one
process. The seed draws one query per cost stratum of the workload's pool
and shuffles the order of every pass. The JVM builds Bench's session
several times (set-up), runs a cold pass and two warm passes over the
sample, then writes each result for the DuckDB oracle check. With --trace 1 the run adds listeners to the cold pass and to a
warm pass between two untraced ones, and prints per-layer metrics
instead of end-to-end ones. README.md defines every metric.

The last stdout line is the result JSON; a per-query record and, for a
traced run, the span file are written under .bench_build/perfbench/runs.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from oracle import Oracle  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CPUS = len(os.sched_getaffinity(0))  # nproc: Bench's SPARK_GRAFT_CPUS on this host
HEAP = "4g"
SETUP_REPS = 9
JVM_TIMEOUT_S = 150

# workload -> first letters of the query names in its pool
WORKLOADS = {"batch": "qexdvm", "stream_replay": "s"}
# Seconds one more sampled query adds to a run in a fresh JVM: cold pass,
# two warm passes, count and the output write (4 cores, sf0.1). On top of
# these a run pays ~20 s of JVM start, session builds and the first
# query's engine warm-up.
SECONDS_PER_QUERY = {"batch": 5.0, "stream_replay": 8.0}
MIN_SAMPLE = 2

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def calibrate():
    """Seconds for a fixed single-core arithmetic loop."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


# ---- build -----------------------------------------------------------------

def _source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the runner if the sources changed; return its classpath."""
    stamp = _source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx4g")
    log("building the runner with sbt")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800, stdin=subprocess.DEVNULL)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def java_cmd(classpath, *args):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    return ["java", *opens, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "org.apache.spark.graftbench.Runner", *args]


def run_jvm(cmd, log_path, timeout=JVM_TIMEOUT_S):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "tmp", "spark-local"))
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=WORK, env=env, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: runner timed out, log in {log_path}")
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        raise SystemExit(f"perfbench: runner exited {rc}, log in {log_path}")


def oracle_sql(classpath):
    path = os.path.join(WORK, "oracle.json")
    stamp = os.path.join(WORK, "build.stamp")
    if not os.path.exists(path) or os.path.getmtime(path) < os.path.getmtime(stamp):
        run_jvm(java_cmd(classpath, "--oracle", path), os.path.join(WORK, "logs", "oracle.log"))
    with open(path) as f:
        return json.load(f)


def reference():
    """Per-query cold, warm and count seconds of one full-pool run
    (README.md says how it was made); the sampling and pool-total weights."""
    with open(os.path.join(HERE, "reference.json")) as f:
        return json.load(f)


def sample_size(workload, seconds):
    """The number of queries that fills about `seconds`, at least MIN_SAMPLE."""
    return max(MIN_SAMPLE, round(seconds / SECONDS_PER_QUERY[workload]))


def make_reference(classpath, sf, oracles):
    """Rewrite reference.json: one cold and one warm pass over every query."""
    ref, names = {}, sorted(oracles)
    for i in range(0, len(names), 100):  # at most 100 queries per JVM
        chunk = ",".join(names[i:i + 100])
        out = os.path.join(WORK, "runs", f"reference-{i}.records.jsonl")
        run_jvm(java_cmd(classpath, "--sf", sf, "--out", out, "--cpus", str(CPUS),
                         "--pass", chunk, "--pass", chunk),
                os.path.join(WORK, "logs", f"reference-{i}.log"), timeout=3600)
        with open(out) as f:
            for r in map(json.loads, f):
                if r["type"] == "query" and "error" not in r:
                    key = "cold" if r["pass"] == 0 else "warm"
                    ref.setdefault(r["query"], {})[key] = round(layers.wall(r), 3)
                    if r["pass"] == 1:
                        ref[r["query"]]["count"] = round(layers.dur(r["count"]), 3)
    with open(os.path.join(HERE, "reference.json"), "w") as f:
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v, sort_keys=True)}"
                                    for k, v in sorted(ref.items())) + "\n}\n")


# ---- one run -----------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--make-reference", action="store_true",
                    help="rewrite reference.json from full-pool passes (about 25 minutes)")
    a = ap.parse_args(argv)
    if not a.make_reference and (a.workload is None or a.seed is None):
        ap.error("--workload and --seed are required")

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft/SparkEntry.scala not found)")
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)  # the last run's scratch
    for d in ("tmp", "logs", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    calib0 = calibrate()
    classpath = build()
    sf = fixture.write(WORK)
    oracles = oracle_sql(classpath)
    if a.make_reference:
        return make_reference(classpath, sf, oracles)

    pool = sorted(q for q in oracles if q[0] in WORKLOADS[a.workload])
    ref = reference()
    # a query added after reference.json was made weighs like a median one
    typical = {k: statistics.median([r[k] for r in ref.values()]) for k in ("cold", "warm", "count")}
    ref = {q: ref.get(q, typical) for q in pool}
    # cold, warm (with count()), warm; traced: cold (listeners on), warm
    # (off, with count()), warm (on), warm (off), so the traced warm pass
    # sits between two untraced ones
    passes = 4 if a.trace else 3
    n = min(len(pool), sample_size(a.workload, a.seconds))
    sample, orders = stats.draw(pool, {q: ref[q]["warm"] for q in pool}, n, a.seed, passes)

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, "runs", f"{tag}.records.jsonl")
    verify = os.path.join(WORK, "tmp", "verify")
    shutil.rmtree(verify, ignore_errors=True)
    args = ["--sf", sf, "--out", out, "--cpus", str(CPUS), "--setup-reps", str(SETUP_REPS),
            "--verify-dir", verify]
    for order in orders:
        args += ["--pass", ",".join(order)]
    if a.trace:
        args += ["--traced-pass", "0", "--traced-pass", "2"]
    log(f"{tag}: {len(sample)} of {len(pool)} queries: {' '.join(orders[0])}")
    run_jvm(java_cmd(classpath, *args), os.path.join(WORK, "logs", f"{tag}.log"))
    with open(out) as f:
        records = [json.loads(l) for l in f]

    # outside the timed passes: every result against its oracle
    orc = Oracle(sf, os.path.join(WORK, "expected"), fixture.fixture_id())
    verify_err = {r["query"]: r["error"] for r in records if r["type"] == "verify_error"}
    checks = {}
    for q in sample:
        if q in verify_err:
            checks[q] = ("fail", verify_err[q])
        else:
            checks[q] = orc.check(q, oracles[q], os.path.join(verify, q))
    orc.close()
    shutil.rmtree(verify, ignore_errors=True)
    calib1 = calibrate()

    per_query, failed = layers.per_query(records, sample, checks)
    for q, why in sorted(failed.items()):
        log(f"FAILED {q}: {why}")
    for q, (state, why) in sorted(checks.items()):
        if state == "unchecked":
            log(f"oracle-unchecked {q}: {why}")
    with open(os.path.join(WORK, "runs", f"{tag}.queries.jsonl"), "w") as f:
        for row in per_query:
            f.write(json.dumps(row) + "\n")

    e2e, notes = layers.end_to_end(records, per_query, ref, pool)
    notes.update({"host.calib_ratio": calib1 / calib0, "calib_start_s": calib0,
                  "calib_end_s": calib1, "failed_frac": len(failed) / len(sample),
                  "oracle_unchecked": sorted(q for q, c in checks.items() if c[0] == "unchecked")})
    if a.trace:
        spans_path = os.path.join(WORK, "runs", f"{tag}.spans.jsonl")
        metrics = layers.per_layer(records, per_query, CPUS, spans_path)
        metrics["host.calib_ratio"] = (notes["host.calib_ratio"], "ratio")
    else:
        metrics = e2e
    log("notes " + json.dumps(notes))
    result = {
        "correct": not failed,
        "attempted": len(sample),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
