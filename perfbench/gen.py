"""Seeded inputs for the benchmark.

Two kinds of input come from here:

* the warehouse tables (``make_tables``): the ten parquet tables of the
  sf0.1 fixture shape (schemas, row counts and value domains as listed in
  FIXTURES.md). They depend only on ``DATA_SEED``, so every run of every
  workload reads the same bytes;
* the workload plan (``tsdb_plan``, ``registry_order``): the request list
  and trade batches of ``tsdb_serve``, and the query order of
  ``batch_pipeline``. These depend on the ``--seed`` argument.

Everything is a pure function of its seed: the same seed gives
byte-identical plans and batches (``tests/test_gen.py`` checks this).
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

SERIES = ["click", "purchase", "error", "signup", "view"]
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_WORDS = ("red gear small hot cold old gizmo widget ring plate anvil "
              "bolt rod new large blue").split()
EPOCH = dt.datetime(1970, 1, 1)
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_DAYS = 30
# trade batches of tsdb_serve start where the fixture's events end
INGEST_START = EVENTS_START + dt.timedelta(days=EVENTS_DAYS)
BATCH_SPAN_S = 1800
BATCH_TRADES_PER_SERIES = 40

# The reads of one tsdb_serve round, (source, operator), and its writes:
# 10 reads and 2 writes, the 5:1 mix of the benchmark's brief. The
# reference serves stored candle packets by time range at their own
# interval and aggregated to coarser ones (PAPER.md §1.1), so 7 of 10 reads
# go to the candle store: 4 at the stored interval, 2 resampled, 1
# gap-filled. The other 3 aggregate a range of raw trades on the fly, one
# per candle operator. The exact weights are an assumption; the repository
# records no request log of the reference.
ROUND_READS = [("store", "raw")] * 4 + [("store", "resample")] * 2 + [
    ("store", "gapFill"), ("events", "candles"), ("events", "candlesFixed"),
    ("events", "resample")]
ROUND_WRITES = 2
FIXED_WIDTHS = [300, 900, 1800, 3600, 14400]
RESAMPLE_WIDTHS = [7200, 14400, 21600, 43200, 86400]
SPANS_H = [6, 24, 72, 168]


def _us(d):
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _ts_array(us, tz=None):
    return pa.array(np.asarray(us, dtype=np.int64), pa.timestamp("us", tz=tz))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(out_dir, sf=0.1, seed=DATA_SEED):
    """Write the ten warehouse tables as ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = 5000, 2000
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pw = np.array(PART_WORDS)
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(pw, n_part), " "),
                              rng.choice(pw, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(
            ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    d0 = _us(dt.datetime(1995, 1, 1))
    day = 86_400 * 1_000_000
    odays = rng.integers(0, 2405, n_ord)
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_array(d0 + odays * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": _ts_array(d0 + (1 + rng.integers(0, 2499, n_li)) * day)})
    # events: distinct µs timestamps over 30 days, so open/close are unique
    span = EVENTS_DAYS * day
    ev_ts = np.sort(rng.choice(span, n_ev, replace=False)) + _us(EVENTS_START)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts_array(ev_ts),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": rng.choice(SERIES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "es", "fr", "de", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = rng.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def trade_batch(seed, k):
    """Write batch ``k`` of tsdb_serve: 5 series of new trades, all after
    the fixture's events and after batch ``k - 1``. Returns an arrow table
    with the events schema (ts as a UTC timestamp)."""
    rng = np.random.default_rng([seed, 1, k])
    lo = _us(INGEST_START) + k * BATCH_SPAN_S * 1_000_000
    n = BATCH_TRADES_PER_SERIES * len(SERIES)
    ts = np.sort(rng.choice(BATCH_SPAN_S * 1_000_000, n, replace=False)) + lo
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64) + 10_000_000 + k * n,
        "ts": _ts_array(ts, tz="UTC"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": rng.choice(SERIES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {x}}}' for x in rng.integers(0, 100, n)]})


def _fmt(us):
    return (EPOCH + dt.timedelta(microseconds=int(us))).strftime("%Y-%m-%d %H:%M:%S")


def _read_line(rng, src, op):
    day = 86_400 * 1_000_000
    if src == "events":
        span_h = SPANS_H[int(rng.integers(len(SPANS_H)))]
        if op == "candles":
            unit = "minute" if span_h <= 6 else ("hour" if span_h <= 72 else "day")
            width = {"minute": 60, "hour": 3600, "day": 86400}[unit]
        elif op == "resample":
            width = RESAMPLE_WIDTHS[int(rng.integers(len(RESAMPLE_WIDTHS)))]
        else:
            width = FIXED_WIDTHS[int(rng.integers(len(FIXED_WIDTHS)))]
        last_start = EVENTS_DAYS * 24 - span_h
        start = _us(EVENTS_START) + int(rng.integers(0, last_start + 1)) * 3_600_000_000
        return "\t".join(["read", "events", _fmt(start),
                          _fmt(start + span_h * 3_600_000_000), op, str(width)])
    width = RESAMPLE_WIDTHS[int(rng.integers(len(RESAMPLE_WIDTHS)))] if op == "resample" else 3600
    # 1 to 7 days starting on any stored day (the last one holds the
    # ingested trades); uniform, as an assumption
    ndays = int(rng.integers(1, 8))
    day0 = _us(EVENTS_START) + int(rng.integers(0, EVENTS_DAYS + 1)) * day
    return "\t".join(["read", "store", _fmt(day0)[:10],
                      _fmt(day0 + (ndays - 1) * day)[:10], op, str(width)])


def tsdb_plan(seed, rounds=40):
    """The request list of tsdb_serve, one op per line, tab-separated, one
    blank-line-separated block per round (a round is one pass).

    Every round holds the reads of ``ROUND_READS`` and ``ROUND_WRITES``
    writes in a seeded order, with seeded parameters (spans and widths
    drawn uniformly from the lists above, an assumption):
    ``read events <from> <until> <op> <width>`` reads a range of the
    fixture events, ``read store <day0> <day1> <op> <width>`` reads
    day-partitions of the candle store, ``write <k>`` ingests trade batch
    ``k`` and updates the store."""
    rng = np.random.default_rng([seed, 0])
    blocks, k = [], 0
    for _ in range(rounds):
        ops = [_read_line(rng, src, op) for src, op in ROUND_READS] + ["write"] * ROUND_WRITES
        lines = []
        for j in rng.permutation(len(ops)):
            if ops[j] == "write":
                lines.append(f"write\t{k}")
                k += 1
            else:
                lines.append(ops[j])
        blocks.append("\n".join(lines) + "\n")
    return "\n".join(blocks)


def registry_order(seed, groups):
    """The workload seed only permutes the order of the query groups; the
    queries of a group keep their order (a memo's producer comes first)."""
    rng = np.random.default_rng([seed, 2])
    return [q for i in rng.permutation(len(groups)) for q in groups[i]]


def write_plan(plan_dir, workload, seed, queries=None):
    """Materialize a workload's plan under ``plan_dir``: the request list
    and every trade batch it ingests, or the ordered query list (one
    ``<name>\t<kind>`` per line)."""
    os.makedirs(plan_dir, exist_ok=True)
    if workload == "tsdb_serve":
        requests = tsdb_plan(seed)
        with open(os.path.join(plan_dir, "requests.tsv"), "w") as f:
            f.write(requests)
        tdir = os.path.join(plan_dir, "trades")
        os.makedirs(tdir, exist_ok=True)
        for k in range(requests.count("write\t")):
            pq.write_table(trade_batch(seed, k), os.path.join(tdir, f"batch_{k:05d}.parquet"))
    else:
        with open(os.path.join(plan_dir, "queries.txt"), "w") as f:
            f.write("".join(f"{n}\t{kind}\n" for n, kind in registry_order(seed, queries)))
