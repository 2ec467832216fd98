"""Output checks: compares the responses a run saved with the program's own
DuckDB oracles (`SparkEntry.oracleSql`), run over the same corpus.

Rows are compared as multisets after the canonicalization of
`scripts/check_oracle.py` (columns sorted by name, rows sorted), with one
widening: a response arrives over HTTP as text, so a cell that reads as a
number on both sides is compared as a number, within 1e-4 absolute (the
oracles round aggregates to four decimals; the SPARQL endpoint does not).
"""
import json
import math
import os
import re

import duckdb

NUM = re.compile(r"^-?\d+(\.\d+)?([eE][-+]?\d+)?$")
SMOKE_LIMIT = "LIMIT 60"
SMOKE_SELECT = "SELECT DISTINCT ev.eid AS e, ev.uid AS u"
LIVE_LATENESS_MS = 7_200_000 + 3_600_000  # the window's RANGE + STEP


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v)
    return float(s) if NUM.match(s) else s


def _key(row):
    return tuple((0, "") if v is None else
                 (1, f"{v:.3f}") if isinstance(v, float) else (2, v) for v in row)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-4)
    return a == b


def compare(got_cols, got_rows, want_cols, want_rows):
    """None when equal, else a one-line description of the first difference."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} vs oracle {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"{len(got_rows)} rows vs oracle {len(want_rows)}"
    order = sorted(got_cols)
    gi = [got_cols.index(c) for c in order]
    wi = [want_cols.index(c) for c in order]
    g = sorted(([_cell(r[i]) for i in gi] for r in got_rows), key=_key)
    w = sorted(([_cell(r[i]) for i in wi] for r in want_rows), key=_key)
    for a, b in zip(g, w):
        if not all(_same(x, y) for x, y in zip(a, b)):
            return f"row {a} vs oracle {b}"
    return None


class Oracle:
    def __init__(self, corpus):
        self.con = duckdb.connect()
        for f in sorted(os.listdir(corpus)):
            if f.endswith(".parquet"):
                path = os.path.join(corpus, f).replace("'", "''")
                self.con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def query(self, sql):
        rel = self.con.sql(sql)
        return list(rel.columns), [list(r) for r in rel.fetchall()]

    def check(self, chk, out_dir, oracle_sql):
        """None when the saved response agrees with the oracle, else why not."""
        name = chk["name"]
        if name not in oracle_sql:
            return f"{name}: no oracle SQL"
        sql = oracle_sql[name]
        with open(os.path.join(out_dir, chk["file"])) as fh:
            saved = json.load(fh)
        kind = chk["kind"]
        if kind == "oracle" and chk["format"] == "sparql":
            cols = saved["head"]["vars"]
            rows = [[b.get(c, {}).get("value") for c in cols]
                    for b in saved["results"]["bindings"]]
            why = compare(cols, rows, *self.query(sql))
        elif kind == "oracle":
            why = compare(saved["columns"], saved["rows"], *self.query(sql))
        elif kind in ("rsp_engine", "rsp_live"):
            why = self._stream(kind, saved, sql)
        else:
            why = f"unknown check kind {kind}"
        return None if why is None else f"{name} ({kind}): {why}"

    def _stream(self, kind, saved, sql):
        # the smoke oracle covers its first 60 events; a run pushes its own count
        n = int(saved["events"])
        if sql.count(SMOKE_LIMIT) != 1 or sql.count(SMOKE_SELECT) != 1:
            return "oracle SQL no longer has the shape this check rewrites"
        sql = sql.replace(SMOKE_LIMIT, f"LIMIT {n}")
        got = {(r["e"], r["u"]) for r in saved["rows"]}
        if kind == "rsp_engine":
            want = {tuple(r) for r in self.query(sql)[1]}
            if got != want:
                return (f"{len(got)} distinct rows vs oracle {len(want)}; "
                        f"missing {sorted(want - got)[:3]} extra {sorted(got - want)[:3]}")
            return None
        # live plane: rows may only come from windows the pushes closed, and
        # every window that closed before the watermark minus the lateness
        # bound (RANGE + STEP) must be reported in full. The watermark is the
        # event time of the second-to-last push.
        _, rows = self.query(sql.replace(SMOKE_SELECT, "SELECT DISTINCT f.close, " +
                                         SMOKE_SELECT[len("SELECT DISTINCT "):]))
        _, ts = self.query(f"SELECT DISTINCT epoch_ms(ts) AS t FROM (SELECT ts FROM events "
                           f"ORDER BY ts, event_id LIMIT {n}) ORDER BY t DESC LIMIT 2")
        horizon = ts[-1][0] - LIVE_LATENESS_MS
        must = {(e, u) for close, e, u in rows if close <= horizon}
        may = {(e, u) for _, e, u in rows}
        if not must <= got or not got <= may:
            return (f"missing {sorted(must - got)[:3]} extra {sorted(got - may)[:3]} "
                    f"({len(got)} rows, {len(must)} required, {len(may)} allowed)")
        return None
