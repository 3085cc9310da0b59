#!/usr/bin/env python3
"""One-command invariance battery for a named query list (r10 verdict
item 6): runs the config sweeps from docs/SWEEPS.md over ONLY the named
queries and emits the SURVEY markdown row per query, so new queries
inherit the invariance contract mechanically instead of by hand.

Usage: python3 tools/sweep.py q1 [q2 ...]
       python3 tools/sweep.py --full          # whole declared surface

Sweeps run per invocation (each = restricted graft.Verify dump +
tools/compare.py DuckDB hash-compare):

  tri-SF        base config at sf0.001 / sf0.01 / sf0.1
  codegen-off   wholeStage=false + factoryMode=NO_CODEGEN   (sf0.01)
  aqe-off       spark.sql.adaptive.enabled=false            (sf0.01)
  rocksdb       RocksDB state-store provider everywhere     (sf0.01)
  splits-8x     maxPartitionBytes=1m + openCostInBytes=0    (sf0.01)
  non-utc       TZ=America/New_York JVM default             (sf0.01)

Exit 0 iff every sweep × query passed. Output ends with one markdown
table (query × sweep) ready to paste into SURVEY §5/§6 and a one-line
verdict. The full-surface sweeps (chaos, spill, concurrency) stay in
docs/SWEEPS.md — this tool is the per-query fast path.
"""
import os
import re
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_BASE = "/root/testdata"

SWEEPS = [
    # (name, sfDir, extra env)
    ("sf0.001", "sf0.001", {}),
    ("sf0.01", "sf0.01", {}),
    ("sf0.1", "sf0.1", {}),
    ("codegen-off", "sf0.01",
     {"SPARK_GRAFT_CONF": "spark.sql.codegen.wholeStage=false;"
                          "spark.sql.codegen.factoryMode=NO_CODEGEN"}),
    ("aqe-off", "sf0.01",
     {"SPARK_GRAFT_CONF": "spark.sql.adaptive.enabled=false"}),
    ("rocksdb", "sf0.01",
     {"SPARK_GRAFT_CONF": "spark.sql.streaming.stateStore.providerClass="
                          "org.apache.spark.sql.execution.streaming.state."
                          "RocksDBStateStoreProvider"}),
    ("splits-8x", "sf0.01",
     {"SPARK_GRAFT_CONF": "spark.sql.files.maxPartitionBytes=1m;"
                          "spark.sql.files.openCostInBytes=0"}),
    ("non-utc", "sf0.01", {"TZ": "America/New_York"}),
]


def run_sweep(name, sf, env_extra, queries):
    """Returns (passed, failed, detail_lines, sbt_ok)."""
    out = f"/tmp/sweep_{name.replace('.', '_')}"
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ)
    # drop the managed hooks from the inherited env first: a stale
    # SPARK_GRAFT_CONF/TZ export from a prior manual sweep would
    # silently contaminate the baseline rows this tool exists to pin
    for k in ("SPARK_GRAFT_CONF", "TZ",
              "SPARK_GRAFT_PAR", "SPARK_GRAFT_CPUS"):
        env.pop(k, None)
    env.update(env_extra)
    args = " ".join(queries)
    cmd = ["sbt", "-batch",
           f"runMain graft.Verify {SF_BASE}/{sf} {out} {args}".rstrip()]
    r = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True)
    partial = os.path.join(out, "oracle_sql.partial.json")
    full = os.path.join(out, "oracle_sql.json")
    if os.path.exists(partial) and not os.path.exists(full):
        shutil.copy(partial, full)
    if not os.path.exists(full):
        # failed = the REAL requested names (may be empty for --full:
        # the sbt_ok=False flag alone fails the sweep then — no
        # pseudo-query sentinel ever reaches the markdown table)
        return set(), set(queries), [
            f"  Verify produced no oracle json (sbt rc={r.returncode}); "
            "tail of stderr:",
            *("  | " + ln for ln in r.stderr.splitlines()[-5:])], False
    c = subprocess.run([sys.executable, "tools/compare.py",
                        f"{SF_BASE}/{sf}", out],
                       cwd=REPO, capture_output=True, text=True)
    passed, failed, detail = set(), set(), []
    for ln in c.stdout.splitlines():
        m = re.match(r"(PASS|FAIL|SKIP) (\S+?):? ", ln + " ")
        if not m:
            continue
        if m.group(1) == "PASS":
            passed.add(m.group(2))
        elif m.group(1) == "FAIL":
            failed.add(m.group(2))
            detail.append("  " + ln)
        else:  # SKIP = declared rows-only; count as pass for the battery
            passed.add(m.group(2))
    # a query that vanishes from THIS sweep (sbt died after a partial
    # oracle dump; Verify crashed mid-list) must fail the sweep, not
    # leave a silent "—" cell in an ALL GREEN table
    gone = set(queries) - passed - failed
    if gone:
        failed |= gone
        detail.append(f"  requested but absent from this sweep's "
                      f"results: {sorted(gone)}")
    # a nonzero sbt exit fails the sweep as a FLAG, not a pseudo-query:
    # inserting a sentinel name into the failed set would surface it as
    # a row in the markdown table and inflate the query count
    sbt_ok = r.returncode == 0
    if not sbt_ok:
        detail.append(f"  sbt exited rc={r.returncode}; stderr tail:")
        detail.extend("  | " + ln for ln in r.stderr.splitlines()[-3:])
    return passed, failed, detail, sbt_ok


def main(argv):
    if not argv:
        print(__doc__)
        return 2
    queries = [] if argv == ["--full"] else argv
    results = {}  # sweep -> (passed, failed)
    any_fail = False
    for name, sf, env in SWEEPS:
        print(f"[sweep] {name} (sf={sf}) ...", flush=True)
        passed, failed, detail, sbt_ok = run_sweep(name, sf, env, queries)
        results[name] = (passed, failed)
        for d in detail:
            print(d)
        if not sbt_ok:
            any_fail = True
            print(f"[sweep] {name}: FAILED (nonzero sbt exit)")
        if failed:
            any_fail = True
            print(f"[sweep] {name}: FAILED {sorted(failed)}")
        elif sbt_ok:
            print(f"[sweep] {name}: {len(passed)} pass")
    names = sorted(set().union(*[p | f for p, f in results.values()]))
    # a requested name that never produced a PASS or FAIL in ANY sweep
    # (typo, unregistered query) must fail the battery, not vanish from
    # an "ALL GREEN" table
    missing = sorted(set(queries) - set(names))
    if missing:
        any_fail = True
        print(f"[sweep] ERROR: requested but never swept (unknown "
              f"query name?): {missing}")
    if not names:
        any_fail = True
        print("[sweep] ERROR: no query produced any result")
    print("\n| query | " + " | ".join(n for n, _, _ in SWEEPS) + " |")
    print("| --- |" + " --- |" * len(SWEEPS))
    for q in names:
        cells = []
        for n, _, _ in SWEEPS:
            p, f = results[n]
            cells.append("✗" if q in f else ("✓" if q in p else "—"))
        print(f"| {q} | " + " | ".join(cells) + " |")
    n_q = len(names)
    verdict = "ALL GREEN" if not any_fail else "FAILURES PRESENT"
    print(f"\n[sweep] {verdict}: {n_q} queries x {len(SWEEPS)} sweeps")
    return 1 if any_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
