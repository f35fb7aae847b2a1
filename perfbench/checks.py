"""Output checks, run after the JVM has exited (outside every timed region).

* Registry ops: each pass's results are compared with their oracle SQL in
  DuckDB by the repository's own gate, ``tools/selfcheck.py``.
* ``tsdb_serve`` reads: each collected result must equal the same candle
  query computed by DuckDB over the same inputs (the fixture events plus
  the trade batches ingested before the read).
* ``tsdb_serve`` writes: after the last write, the candle store must equal
  ``Incremental.rebuild`` over all events.

An op fails if it threw in the JVM or if its check fails.
"""
import contextlib
import io
import json
import math
import os
import re
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DAY_US = 86_400 * 1_000_000


class Verdicts:
    def __init__(self):
        self.bad = {}        # (pass, op index) -> reason
        self.rows = {}       # op name -> result rows (registry ops)
        self.failures = []

    def fail(self, p, i, reason):
        self.bad[(p, i)] = reason
        self.failures.append(f"pass {p} op {i}: {reason}")

    def op_ok(self, p, op):
        return op["ok"] and (p, op["i"]) not in self.bad

    def rows_of(self, op):
        return op["rows"] if op["rows"] >= 0 else self.rows.get(op["name"], 0)


def check(workload, raw, data, plan, out):
    v = Verdicts()
    for p in raw["passes"]:
        for o in p["ops"]:
            if not o["ok"]:
                v.failures.append(f"pass {p['index']} op {o['i']} {o['name']}: {o['err']}")
    if workload == "tsdb_serve":
        check_tsdb(v, raw, data, plan, out)
    else:
        check_registry(v, raw, data, out)
    return v


def selfcheck_module():
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import selfcheck
    return selfcheck


def same_output(a, b):
    """Whether two result directories hold the same rows in the same order."""
    try:
        return pq.read_table(a).equals(pq.read_table(b))
    except (OSError, pa.ArrowException):
        return False


def check_registry(v, raw, data, out):
    """The first pass's results against the oracles, with tools/selfcheck.py;
    a later pass's result must equal the first pass's, or else it is
    checked against the oracle itself."""
    selfcheck = selfcheck_module()
    first = None
    for p in raw["passes"]:
        pdir = os.path.join(out, f"pass_{p['index']}")
        ops = [o for o in p["ops"] if o["ok"]]
        if first is not None and all(
                same_output(os.path.join(pdir, o["name"]), os.path.join(first, o["name"]))
                for o in ops):
            for o in ops:
                if (first_pass, first_ok[o["name"]]) in v.bad:
                    v.fail(p["index"], o["i"], f"{o['name']}: same output as pass {first_pass}")
            continue
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            selfcheck.main(pdir, data)
        status = {}
        for line in buf.getvalue().splitlines():
            m = re.match(r"(OK|FAIL)\s+(\S+?):?\s(.*)", line)
            if m:
                status[m.group(2)] = (m.group(1), m.group(3))
                rows = re.match(r"\((\d+) rows\)", m.group(3))
                if rows:
                    v.rows[m.group(2)] = int(rows.group(1))
        for o in ops:
            st, detail = status.get(o["name"], ("FAIL", "no oracle to check against"))
            if st != "OK":
                v.fail(p["index"], o["i"], f"{o['name']}: {detail}")
        if first is None:
            first, first_pass = pdir, p["index"]
            first_ok = {o["name"]: o["i"] for o in p["ops"]}


def _batches_before(ops, i, plan):
    """Trade batch files ingested by the write ops that ran before op i."""
    return [os.path.join(plan, "trades", f"batch_{int(o['batch']):05d}.parquet")
            for o in ops if o["i"] < i and o["kind"] == "write" and o["ok"]]


def _candles_sql(src, width_us):
    return f"""
        SELECT tsu - tsu % {width_us} AS bucket_us, series,
               arg_min(value, tsu) AS open, max(value) AS high, min(value) AS low,
               arg_max(value, tsu) AS close, sum(value) AS volume, count(*) AS trades
        FROM ({src}) GROUP BY ALL"""


def _resample_sql(candles, width_us):
    return f"""
        SELECT bucket_us - bucket_us % {width_us} AS bucket_us, series,
               arg_min(open, bucket_us) AS open, max(high) AS high, min(low) AS low,
               arg_max(close, bucket_us) AS close, sum(volume) AS volume,
               sum(trades) AS trades
        FROM ({candles}) GROUP BY ALL"""


def _gapfill_sql(candles, width_us):
    return f"""
        WITH c AS ({candles}),
        spine AS (
            SELECT series, unnest(generate_series(min(bucket_us), max(bucket_us), {width_us}))
                   AS bucket_us
            FROM c GROUP BY series)
        SELECT s.bucket_us, s.series, c.open, c.high, c.low, c.close,
               coalesce(c.volume, 0.0) AS volume, c.trades,
               last_value(c.close IGNORE NULLS) OVER (
                   PARTITION BY s.series ORDER BY s.bucket_us
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_filled,
               c.close IS NULL AS was_gap
        FROM spine s LEFT JOIN c USING (series, bucket_us)"""


def read_sql(req, events_sql):
    """DuckDB twin of a tsdb_serve read (see TsdbServe.query)."""
    _, src, lo, hi, op, w = req
    width_us = int(w) * 1_000_000
    if src == "events":
        rng = f"SELECT * FROM ({events_sql}) WHERE tsu >= epoch_us(TIMESTAMP '{lo}') " \
              f"AND tsu < epoch_us(TIMESTAMP '{hi}')"
        if op == "resample":
            return _resample_sql(_candles_sql(rng, 3_600_000_000), width_us)
        candles = _candles_sql(rng, width_us)
        return _gapfill_sql(candles, width_us) if op == "gapFill" else candles
    store = f"SELECT * FROM ({_candles_sql(events_sql, 3_600_000_000)}) " \
            f"WHERE bucket_us >= epoch_us(DATE '{lo}') " \
            f"AND bucket_us < epoch_us(DATE '{hi}') + {DAY_US}"
    if op == "resample":
        return _resample_sql(store, width_us)
    if op == "gapFill":
        return _gapfill_sql(store, width_us)
    return store


def same_rows(got, want):
    """Rows equal up to order; volumes (sums of doubles) to 1e-9 relative."""
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    key = lambda r: (r[1], r[0])  # noqa: E731  (series, bucket)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        for j, (a, b) in enumerate(zip(g, w)):
            if a is None or b is None:
                ok = a is None and b is None
            elif j == 6:
                ok = math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
            else:
                ok = a == b
            if not ok:
                return f"row {g} != {w}"
    return None


def check_tsdb(v, raw, data, plan, out):
    with open(os.path.join(plan, "requests.tsv")) as f:
        requests = [line.rstrip("\n").split("\t") for line in f]
    ops = []
    for p in raw["passes"]:
        for o in p["ops"]:
            o = dict(o, pass_=p["index"])
            if o["kind"] == "write":
                o["batch"] = requests[o["i"]][1]
            ops.append(o)
    got = {}
    with open(os.path.join(out, "reads.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            got[r["i"]] = [tuple(x) for x in r["rows"]]
    con = duckdb.connect()
    base = f"SELECT epoch_us(ts) AS tsu, event_type AS series, value " \
           f"FROM read_parquet('{data}/events.parquet')"
    for o in ops:
        if o["kind"] != "read" or not o["ok"]:
            continue
        req = requests[o["i"]]
        batches = _batches_before(ops, o["i"], plan)
        events_sql = base
        if req[1] == "store" and batches:
            files = ", ".join(f"'{b}'" for b in batches)
            events_sql += f" UNION ALL SELECT epoch_us(ts), event_type, value " \
                          f"FROM read_parquet([{files}])"
        want = con.execute(read_sql(req, events_sql)).fetchall()
        bad = same_rows(got.get(o["i"], []), [tuple(r) for r in want])
        if bad:
            v.fail(o["pass_"], o["i"], f"read {' '.join(req[1:])}: {bad}")
    writes = [o for o in ops if o["kind"] == "write"]
    if writes:
        cols = "epoch_us(bucket) AS b, series, open, high, low, close, volume, trades"
        store, rebuild = [
            con.execute(f"SELECT {cols} FROM read_parquet('{d}/**/*.parquet') ORDER BY b, series")
            .fetchall() for d in (os.path.join(out, "store"), os.path.join(out, "rebuild"))]
        bad = same_rows(store, rebuild)
        if bad:
            last = writes[-1]
            v.fail(last["pass_"], last["i"], f"store != Incremental.rebuild: {bad}")
