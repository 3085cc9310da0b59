"""Output check: each query's result against its DuckDB oracle.

The rule is tools/compare.py's, applied to digests: columns sorted by name,
dtypes equal up to the timestamp storage unit, the same row count, and the
same values in row order, compared by their string form. An expected
output depends only on the oracle SQL and the fixture, so its digest is
computed once: expected.json holds the digests of the declared oracles,
and an oracle whose SQL has changed since is run in DuckDB and its digest
kept under the work directory.

    python3 perfbench/oracle.py   # rewrite expected.json (needs one run first)
"""
import glob
import hashlib
import json
import os
import re
import sys
import threading

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
# Oracles DuckDB cannot run on the fixture within the benchmark's memory.
UNCHECKABLE = {"v20_pca_power": "its oracle needs ~12.5 GiB in DuckDB at sf0.1"}
MEMORY_LIMIT = "3GB"
TIMEOUT_S = 120


def _norm(dtype):
    # the storage unit of a timestamp may differ; a timezone may not
    m = re.match(r"datetime64\[\w+(?:, *(.+))?\]$", str(dtype))
    return "datetime64[%s]" % (m.group(1) or "") if m else str(dtype)


def summary(df):
    """Row count, sorted (column, dtype) list and value digest of `df`."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    for c in cols:
        h.update(c.encode() + b"\x1d")
        for v in df[c].tolist():
            h.update(str(v).encode() + b"\x1f")
    return {"rows": len(df), "columns": [[c, _norm(df[c].dtype)] for c in cols],
            "digest": h.hexdigest()}


def compare(got, exp):
    """None if the two summaries match, else the first difference."""
    if [c for c, _ in got["columns"]] != [c for c, _ in exp["columns"]]:
        return f"columns {[c for c, _ in got['columns']]} vs {[c for c, _ in exp['columns']]}"
    bad = [(c, a, b) for (c, a), (_, b) in zip(got["columns"], exp["columns"]) if a != b]
    if bad:
        return f"dtype mismatch {bad}"
    if got["rows"] != exp["rows"]:
        return f"rows {got['rows']} vs {exp['rows']}"
    if got["digest"] != exp["digest"]:
        return "values differ"
    return None


def sql_key(fixture_id, sql):
    return hashlib.sha256(f"{fixture_id}\n{sql}".encode()).hexdigest()[:16]


class Oracle:
    """Expected outputs on one fixture."""

    def __init__(self, sf_dir, cache_dir, fixture_id):
        self.sf_dir, self.cache_dir, self.fixture_id = sf_dir, cache_dir, fixture_id
        os.makedirs(cache_dir, exist_ok=True)
        self.committed = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                self.committed = json.load(f)
        self._con = None

    def con(self):
        if self._con is None:
            con = duckdb.connect()
            con.execute(f"SET memory_limit='{MEMORY_LIMIT}'")
            con.execute("SET threads=4")
            con.execute(f"SET temp_directory='{self.cache_dir}'")
            for p in sorted(glob.glob(os.path.join(self.sf_dir, "*.parquet"))):
                t = os.path.basename(p)[:-len(".parquet")]
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
            self._con = con
        return self._con

    def expected(self, name, sql):
        """(summary, None), or (None, why the query is unchecked)."""
        if name in UNCHECKABLE:
            return None, UNCHECKABLE[name]
        key = sql_key(self.fixture_id, sql)
        hit = self.committed.get(name)
        if hit and hit["key"] == key:
            return hit["expected"], hit.get("unchecked")
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if not os.path.exists(path):
            con = self.con()
            timer = threading.Timer(TIMEOUT_S, con.interrupt)
            timer.start()
            try:
                entry = {"key": key, "expected": summary(con.sql(sql).df())}
            except Exception as e:  # the oracle failed, not the program
                entry = {"key": key, "expected": None,
                         "unchecked": f"oracle error: {str(e).splitlines()[0][:200]}"}
            finally:
                timer.cancel()
            with open(path + ".tmp", "w") as f:
                json.dump(entry, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            entry = json.load(f)
        return entry["expected"], entry.get("unchecked")

    def check(self, name, sql, result_dir):
        """('pass' | 'fail' | 'unchecked', detail)."""
        exp, why = self.expected(name, sql)
        if exp is None:
            return "unchecked", why
        # one file per partition, named by partition index: reading them in
        # name order reads the rows in the order the DataFrame holds them
        files = sorted(glob.glob(os.path.join(result_dir, "part-*.parquet")))
        if not files:
            return "fail", "no result written"
        got = summary(self.con().read_parquet(files).df())
        reason = compare(got, exp)
        return ("fail", reason) if reason else ("pass", f"{got['rows']} rows")

    def close(self):
        if self._con is not None:
            self._con.close()


def refresh():
    """Recompute expected.json for every declared oracle."""
    import fixture
    work = os.path.join(os.path.dirname(HERE), ".bench_build", "perfbench")
    with open(os.path.join(work, "oracle.json")) as f:
        oracles = json.load(f)
    orc = Oracle(fixture.write(work), os.path.join(work, "expected"), fixture.fixture_id())
    orc.committed = {}
    out = {}
    for name in sorted(oracles):
        exp, why = orc.expected(name, oracles[name])
        out[name] = {"key": sql_key(orc.fixture_id, oracles[name]), "expected": exp}
        if why:
            out[name]["unchecked"] = why
        print(name, why or f"{exp['rows']} rows", file=sys.stderr, flush=True)
    with open(EXPECTED, "w") as f:
        f.write("{\n" + ",\n".join(f"{json.dumps(k)}: {json.dumps(v, sort_keys=True)}"
                                    for k, v in sorted(out.items())) + "\n}\n")


if __name__ == "__main__":
    refresh()
