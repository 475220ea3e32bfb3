"""Correctness of a benchmark run, checked with DuckDB outside the timed
region: each op's parquet output against the oracle SQL the JVM emitted,
or against the invariants of ops that have no oracle.

`run_checks(checks)` returns the list of failures, one string each.
"""
import json
import math

import duckdb


def _canon(cols, rows):
    """Columns sorted by name, rows sorted; floats by repr."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [cols[i] for i in order], out


def _fetch(con, sql):
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def _parquet(path):
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def _views(con, tables):
    for name, files in tables.items():
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(f"CREATE OR REPLACE VIEW {name} AS "
                    f"SELECT * FROM read_parquet([{listed}])")


def _same(con, got_sql, want_sql):
    got = _canon(*_fetch(con, got_sql))
    want = _canon(*_fetch(con, want_sql))
    if got[0] != want[0]:
        return f"columns {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"{len(got[1])} rows differ from the oracle's {len(want[1])}"
    return None


def _oracle(con, c):
    _views(con, c["tables"])
    return _same(con, _parquet(c["out"]), c["sql"])


def _keep_subset(con, c):
    """CDC edges can only merge components: keep(cdc) ⊆ keep(no cdc)."""
    _views(con, c["tables"])
    got = dict(con.execute(
        f"SELECT doc_id, keep FROM ({_parquet(c['out'])})").fetchall())
    want = dict(con.execute(f"SELECT doc_id, keep FROM ({c['sql']})").fetchall())
    if got.keys() != want.keys():
        return "document sets differ"
    grown = [d for d, k in got.items() if k == 1 and want[d] != 1]
    return f"{len(grown)} documents kept only with CDC edges" if grown else None


def _follow(con, c):
    """The follow sink equals the appended batches: no duplicate, no gap."""
    _views(con, c["tables"])
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT event_id) FROM ({_parquet(c['out'])})"
    ).fetchone()
    if n != distinct:
        return f"{n - distinct} duplicate rows in the follow sink"
    return _same(con, _parquet(c["out"]), c["sql"])


_DATED = ("SELECT event_id, CAST(epoch_us(ts) * 1000 AS BIGINT) AS ts, "
          "user_id, event_type, value, props, "
          "strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS date FROM {}")
_ROLLUP = ("SELECT date, CAST(count(*) AS BIGINT) AS n, "
           "CAST(sum(event_id) AS BIGINT) AS sum_id, "
           "CAST(sum(user_id) AS BIGINT) AS sum_user FROM {} {} GROUP BY date")


def _replay(con, c):
    """The snapshot table against a DuckDB replay of base + batches:
    every logged read at the version it read, and the final table."""
    src = lambda p: f"read_parquet('{p}')"
    con.execute(f"CREATE OR REPLACE TABLE t AS {_DATED.format(src(c['base']))}")
    versions = {}
    version = 1
    con.execute("CREATE OR REPLACE TABLE v1 AS SELECT * FROM t")
    versions[1] = "v1"
    for st in c["steps"]:
        kind = st["kind"]
        if kind in ("upsert", "delete", "append", "compact"):
            b = st.get("batch")
            if kind in ("upsert", "delete"):
                con.execute(f"DELETE FROM t WHERE event_id IN "
                            f"(SELECT event_id FROM {src(b)})")
            if kind in ("upsert", "append"):
                con.execute(f"INSERT INTO t {_DATED.format(src(b))}")
            version = st["version"]
            name = f"v{version}"
            con.execute(f"CREATE OR REPLACE TABLE {name} AS SELECT * FROM t")
            versions[version] = name
            continue
        table = versions.get(st["version"])
        if table is None:
            return f"step {st['step']} read unknown version {st['version']}"
        p = json.loads(st["params"])
        if kind == "read_range":
            lo = f"2024-01-{p['lo_day'] + 1:02d}"
            hi = f"2024-01-{p['hi_day']:02d}"
            want = _ROLLUP.format(table, f"WHERE date BETWEEN '{lo}' AND '{hi}'")
        elif kind == "read_at":
            want = _ROLLUP.format(table, "")
        else:
            keys = ", ".join(str(k) for k in p["keys"])
            want = f"SELECT * FROM {table} WHERE event_id IN ({keys})"
        err = _same(con, _parquet(st["out"]), want)
        if err:
            return f"step {st['step']} ({kind}): {err}"
    if version != c["final_version"]:
        return f"replayed to v{version}, table is at v{c['final_version']}"
    return _same(con, _parquet(c["final"]), "SELECT * FROM t")


MODES = {"oracle": _oracle, "keep_subset": _keep_subset,
         "follow": _follow, "replay": _replay}


def run_checks(checks):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    failures = []
    for c in checks:
        try:
            err = MODES[c["mode"]](con, c)
        except Exception as e:  # a query error is a failed check
            err = f"{type(e).__name__}: {e}"
        if err:
            failures.append(f"{c['op']} {c['kind']}: {err}")
    con.close()
    return failures
