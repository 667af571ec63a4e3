"""Seeded inputs for the graft benchmark, and the oracles that judge graft's
outputs without using graft.

Every workload's inputs are a pure function of (seed, scale). The change
events are Debezium JSON envelopes (before / after / source.lsn / op / ts_ms).
The expected tables are computed here by replaying the same events with the
plain latest-version-wins rule, in Python; the report mix is recomputed by
DuckDB over them.
"""
import bisect
import datetime
import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

SCALES = {
    # cdc_backlog: preloaded orders (lineitem covers the first sixteenth of
    #   them, about 4 lines each), events per backlog file, backlog files
    # curate: labelled training docs, documents per turn, turns
    "full": dict(cdc_rows=40_000, cdc_events=1_500, cdc_files=48,
                 train_docs=500, turn_docs=50, turns=6),
    "small": dict(cdc_rows=5_000, cdc_events=200, cdc_files=12,
                  train_docs=300, turn_docs=60, turns=8),
}

DATE0 = datetime.date(1992, 1, 1)
DATE_SPAN = 2405  # order dates up to 1998-08-02, as in TPC-H
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
CUTOFF = datetime.date(1995, 6, 17)
TS0 = 1_700_000_000_000

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
LINE_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
             "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
             "l_linestatus", "l_shipdate"]
DOUBLE_COLS = {"o_totalprice", "l_quantity", "l_extendedprice", "l_discount", "l_tax"}


def row_hash(cols, row):
    """The 40-bit row hash Workloads.stateHash computes in Spark: md5 of the
    row's fields joined by '|', money and ratios in hundredths, dates ISO."""
    parts = []
    for c, v in zip(cols, row):
        if c in DOUBLE_COLS:
            parts.append(str(round(v * 100)))
        else:
            parts.append(v.isoformat() if isinstance(v, datetime.date) else str(v))
    return int(hashlib.md5("|".join(parts).encode()).hexdigest()[:10], 16)


def state_hash(cols, rows):
    return [len(rows), sum(row_hash(cols, r) for r in rows)]


def _jsonable(cols, row):
    return {c: (v.isoformat() if isinstance(v, datetime.date) else v) for c, v in zip(cols, row)}


def envelope(table, cols, op, lsn, before, after):
    ts = TS0 + lsn // 1000
    return json.dumps({
        "before": None if before is None else _jsonable(cols, before),
        "after": None if after is None else _jsonable(cols, after),
        "source": {"connector": "postgresql", "db": "shop", "schema": "public",
                   "table": table, "lsn": lsn, "snapshot": False, "ts_ms": ts},
        "op": op, "ts_ms": ts}, separators=(",", ":"))


def order_row(rng, key, n_cust):
    return (key, rng.randint(1, n_cust), rng.choice("OFP"),
            rng.randint(90_000, 50_000_000) / 100,
            DATE0 + datetime.timedelta(days=rng.randrange(DATE_SPAN)),
            rng.choice(PRIORITIES))


def line_rows(rng, order):
    key, date = order[0], order[4]
    rows = []
    for ln in range(1, rng.randint(1, 7) + 1):
        ship = date + datetime.timedelta(days=rng.randint(1, 121))
        qty = float(rng.randint(1, 50))
        rows.append((key, ln, rng.randint(1, 20_000), rng.randint(1, 1_000), qty,
                     round(qty * rng.randint(90_000, 200_000) / 100, 2),
                     rng.randint(0, 10) / 100, rng.randint(0, 8) / 100,
                     (rng.choice("RA") if ship <= CUTOFF else "N"),
                     ("O" if ship > CUTOFF else "F"), ship))
    return rows


def write_parquet(path, cols, rows, types):
    arrays = [pa.array([r[i] for r in rows], type=t) for i, t in enumerate(types)]
    pq.write_table(pa.Table.from_arrays(arrays, names=cols), path)


ORDER_TYPES = [pa.int64(), pa.int64(), pa.string(), pa.float64(), pa.date32(), pa.string()]
LINE_TYPES = [pa.int64(), pa.int32(), pa.int64(), pa.int64(), pa.float64(), pa.float64(),
              pa.float64(), pa.float64(), pa.string(), pa.string(), pa.date32()]


# ------------------------------------------------------------------ cdc_backlog

class CdcBacklog:
    """Orders and lineitem preloaded, then a backlog of small orders envelope
    files: Zipf updates, deletes, inserts, stale out-of-order versions,
    redeliveries, and ghost orders whose delete arrives a file before their
    insert."""

    MIX = [("update", 0.78), ("delete", 0.03), ("insert", 0.07),
           ("stale", 0.05), ("redeliver", 0.05), ("ghost", 0.02)]

    def __init__(self, seed, scale):
        self.cfg = SCALES[scale]
        self.rng = random.Random(seed * 7919 + 1)

    def write(self, work):
        cfg, rng = self.cfg, self.rng
        n = cfg["cdc_rows"]
        n_cust = max(n // 10, 1)
        rows = [order_row(rng, k, n_cust) for k in range(1, n + 1)]
        self.lines = [l for o in rows[:n // 16] for l in line_rows(rng, o)]
        os.makedirs(os.path.join(work, "snapshot"))
        meta = ["__op", "__ts_ms", "__lsn", "__deleted"]
        meta_types = [pa.string(), pa.int64(), pa.int64(), pa.bool_()]
        # state: key -> (lsn, op, row); lsns step by 2 so a stale version can
        # sit just below any applied one
        self.snapshot = {r[0]: (2 * i + 2, "r", r) for i, r in enumerate(rows)}
        write_parquet(os.path.join(work, "snapshot", "orders.parquet"), ORDER_COLS + meta,
                      [r + ("r", TS0, 2 * i + 2, False) for i, r in enumerate(rows)],
                      ORDER_TYPES + meta_types)
        write_parquet(os.path.join(work, "snapshot", "lineitem.parquet"), LINE_COLS + meta,
                      [r + ("r", TS0, 1, False) for r in self.lines], LINE_TYPES + meta_types)
        write_dims(work, rng, n_cust)
        os.makedirs(os.path.join(work, "expected"))
        write_parquet(os.path.join(work, "expected", "lineitem.parquet"), LINE_COLS,
                      self.lines, LINE_TYPES)
        keys = list(range(1, n + 1))
        rng.shuffle(keys)  # hot keys spread over every bucket
        cum, acc = [], 0.0
        for r in range(1, n + 1):
            acc += 1.0 / r ** 1.1
            cum.append(acc)
        state = dict(self.snapshot)
        lsn = 2 * n + 2
        next_key = n + 1
        recent, late = [], []
        self.files = []  # per file: list of (key, lsn, op, row)
        # every file holds the same mix; only which events, keys and values
        # it holds depend on the seed
        mix = [k for k, w in self.MIX for _ in range(round(w * cfg["cdc_events"]))]
        os.makedirs(os.path.join(work, "stage"))
        for f in range(cfg["cdc_files"]):
            events, lines = [], []

            def emit(ev, line):
                apply(state, ev)
                events.append(ev)
                lines.append(line)
                recent.append((ev, line))

            for ev, line in late:  # last file's ghost inserts, behind their deletes
                emit(ev, line)
            late = []
            for kind in rng.sample(mix, len(mix)):
                if kind == "redeliver" and recent:
                    ev, line = recent[rng.randrange(len(recent))]
                    events.append(ev)
                    lines.append(line)
                elif kind in ("insert", "ghost"):
                    lsn += 2
                    row = order_row(rng, next_key if kind == "insert" else -next_key, n_cust)
                    next_key += 1
                    if kind == "insert":
                        emit((row[0], lsn, "c", row), envelope("orders", ORDER_COLS, "c", lsn, None, row))
                    else:
                        emit((row[0], lsn, "d", row), envelope("orders", ORDER_COLS, "d", lsn, row, None))
                        late.append(((row[0], lsn - 1, "c", row),
                                     envelope("orders", ORDER_COLS, "c", lsn - 1, None, row)))
                else:
                    key = keys[bisect.bisect_left(cum, rng.random() * acc)] \
                        if kind != "delete" else rng.randint(1, next_key - 1)
                    cur = state.get(key)
                    if cur is None or cur[1] == "d":
                        continue  # no change to a key that is not live
                    old = cur[2]
                    if kind == "delete":
                        lsn += 2
                        emit((key, lsn, "d", old), envelope("orders", ORDER_COLS, "d", lsn, old, None))
                    elif kind == "stale":
                        # an older version delivered late, values poisoned:
                        # it must lose to the version already applied
                        bad = (key, old[1], "X", 0.01, old[4] + datetime.timedelta(days=500), "9-POISON")
                        emit((key, cur[0] - 1, "u", bad),
                             envelope("orders", ORDER_COLS, "u", cur[0] - 1, old, bad))
                    else:
                        lsn += 2
                        new = (key, old[1], rng.choice("OFP"),
                               rng.randint(90_000, 50_000_000) / 100, old[4], rng.choice(PRIORITIES))
                        emit((key, lsn, "u", new), envelope("orders", ORDER_COLS, "u", lsn, old, new))
                if len(recent) > 4 * cfg["cdc_events"]:
                    recent = recent[-2 * cfg["cdc_events"]:]
            self.files.append(events)
            with open(os.path.join(work, "stage", f"f{f:05d}.json"), "w") as fh:
                fh.write("\n".join(lines) + "\n")

    def expected_orders(self, n_files):
        """Live orders after the first `n_files` backlog files."""
        state = dict(self.snapshot)
        for events in self.files[:n_files]:
            for ev in events:
                apply(state, ev)
        return [row for _, op, row in state.values() if op != "d"]


def apply(state, ev):
    key, lsn, op, row = ev
    cur = state.get(key)
    if cur is None or lsn > cur[0]:
        state[key] = (lsn, op, row)


def write_dims(work, rng, n_cust):
    os.makedirs(os.path.join(work, "dims"))
    customers = [(c, f"Customer#{c:09d}", rng.randrange(25),
                  rng.randint(-99_999, 999_999) / 100, rng.choice(SEGMENTS))
                 for c in range(1, n_cust + 1)]
    write_parquet(os.path.join(work, "dims", "customer.parquet"),
                  ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
                  customers, [pa.int64(), pa.string(), pa.int32(), pa.float64(), pa.string()])
    write_parquet(os.path.join(work, "dims", "nation.parquet"), ["n_nationkey", "n_name"],
                  [(i, f"NATION_{i}") for i in range(25)], [pa.int32(), pa.string()])


def report_oracle(work, orders, queries):
    """The report mix computed by DuckDB over the expected tables."""
    import duckdb
    write_parquet(os.path.join(work, "expected", "orders.parquet"), ORDER_COLS, orders,
                  ORDER_TYPES)
    con = duckdb.connect()
    for t in ("orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/expected/{t}.parquet')")
    for t in ("customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{work}/dims/{t}.parquet')")
    out = {name: [list(r) for r in con.execute(sql).fetchall()] for name, sql in queries.items()}
    con.close()
    return out


# ------------------------------------------------------------------ curate

class Curate:
    """Documents in batches with increasing ids, shaped like the sf0.1
    `documents` table (figures measured from it are in the README): 10-99
    tokens drawn uniformly from a 30-word vocabulary, a language label and a
    source that do not depend on the text (batches carry the source; the
    gate's training documents carry the label), and near-duplicates that repeat
    an earlier document with one token appended. Each batch also repeats
    one earlier document exactly, so every turn checks that no exact repeat
    is admitted."""

    # the sf0.1 vocabulary (without the `dup` marker its near-duplicates
    # append); its words occur about equally often
    VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
             "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
             "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
             "value", "vector", "window"]
    LANGS = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
    SOURCES = [f"src{i}" for i in range(20)]
    NEAR = 0.05     # sf0.1: 250 of 5,000 documents
    EXACT = 1       # per batch; sf0.1 has 8 exact pairs in 5,000

    def __init__(self, seed, scale):
        self.cfg = SCALES[scale]
        self.rng = random.Random(seed * 7919 + 3)

    def text(self):
        rng = self.rng
        return " ".join(rng.choice(self.VOCAB) for _ in range(rng.randint(10, 99)))

    def lang(self):
        return self.rng.choices(list(self.LANGS), weights=list(self.LANGS.values()))[0]

    def write(self, work):
        cfg, rng = self.cfg, self.rng
        train = [(i, self.text(), self.lang()) for i in range(cfg["train_docs"])]
        write_parquet(os.path.join(work, "train.parquet"), ["doc_id", "text", "lang"], train,
                      [pa.int64(), pa.string(), pa.string()])
        os.makedirs(os.path.join(work, "batches"))
        self.docs = {}  # id -> (source, kind, origin id)
        self.batch_sizes = []
        earlier = []  # (id, text) of fresh documents in earlier batches
        next_id = 1_000_000
        n = cfg["turn_docs"]
        planted = ["near"] * round(self.NEAR * n) + ["exact"] * self.EXACT
        for b in range(cfg["turns"]):
            # every batch holds the same mix (the first has nothing to repeat)
            kinds = planted if b > 0 else []
            kinds = kinds + ["fresh"] * (n - len(kinds))
            rows, fresh = [], []
            for kind in rng.sample(kinds, len(kinds)):
                origin = None
                if kind == "fresh":
                    text = self.text()
                    fresh.append((next_id, text))
                else:
                    origin, text = earlier[rng.randrange(len(earlier))]
                    if kind == "near":
                        text += " dup"
                source = rng.choice(self.SOURCES)
                rows.append((next_id, text, source))
                self.docs[next_id] = (source, kind, origin)
                next_id += 1
            earlier += fresh
            self.batch_sizes.append(len(rows))
            write_parquet(os.path.join(work, "batches", f"b{b:05d}.parquet"),
                          ["doc_id", "text", "source"], rows,
                          [pa.int64(), pa.string(), pa.string()])

    def check(self, admitted, turns, sources):
        """(violations, dup_recall, admit_ratio) of the admitted ids after
        `turns` turns, plus whether the per-source read agrees with them."""
        offered = {d for d in self.docs if d < 1_000_000 + sum(self.batch_sizes[:turns])}
        ids = set(admitted)
        bad = []
        if len(ids) != len(admitted):
            bad.append("admitted ids are not unique")
        if not ids <= offered:
            bad.append("admitted ids that were never offered")
        if any(self.docs[d][1] == "exact" for d in ids & offered):
            bad.append("an exact repeat was admitted")
        per_source = {}
        for d in ids:
            g = per_source.setdefault(self.docs[d][0] if d in self.docs else "?", [0, 0])
            g[0] += 1
            g[1] = max(g[1], d)
        if sorted([s, n, m] for s, (n, m) in per_source.items()) != sorted(sources):
            bad.append("the per-source read disagrees with the admitted ids")
        near = [d for d in offered if self.docs[d][1] == "near" and self.docs[d][2] in ids]
        recall = sum(1 for d in near if d not in ids) / len(near) if near else 1.0
        return bad, recall, len(ids) / len(offered)
