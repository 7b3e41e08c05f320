"""Seeded inputs and operation plans for the perfbench workloads.

Everything the JVM harness consumes is produced here from `--seed`: the
wide market CSV, the TPC-H-ish parquet tables, the lake table's initial
snapshot and each workload's plan (a tab-separated list of operations with
their expected results). The same seed gives byte-identical files.
"""
import hashlib
import os
from datetime import date, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
MARKET_DAYS = 6000
MARKET_ASSETS = 32
REPORT_WINDOWS = [200, 625, 1050, 1475, 1900]  # trading days per request
REPORT_WARM = 4  # warm-up requests, one per set-up

MIX_SF = 0.01
MIX_PASSES = 40
# the mix's operations by category (per-layer metrics group rows by these
# categories): registry rows and the reference's report request
MIX_ROWS = [
    ("q_tpch_q1", "tpc"), ("q_tpcds_cube", "tpc"), ("q_daily_returns", "finance"),
    ("q_winnow", "text"), ("q_session_windows", "streaming"), ("report", "report"),
]

LAKE_SF = 0.01
LAKE_LIVE_SHARE = 0.9
LAKE_COMMITS = 600
LAKE_COMPACT_EVERY = 10
LAKE_BATCH = 500          # rows per merge / append
LAKE_RANGE = (5, 3000)    # delete / update: every 5th key of a 3000-key range
LAKE_TIME_TRAVEL_EVERY = 4
# commit kinds rotate and batch shapes are fixed, so every run does the same
# work; the seed picks the keys, ranges and time-travel targets
LAKE_KINDS = ["merge", "append", "delete", "update"]

WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window spark a "
         "part group big sort query fast the").split()
PART_ADJ = "blue hot small old red new cold large".split()
PART_NOUN = "bolt gear anvil ring widget rod plate gizmo".split()


def rng_for(seed, stream):
    """Independent deterministic stream per (seed, purpose)."""
    h = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))


def _write(table, path):
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True)


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts_ms(days_since_epoch):
    return pa.array((np.asarray(days_since_epoch, dtype=np.int64) * 86400000)
                    .astype("datetime64[ms]"), type=pa.timestamp("ms"))


EPOCH = date(1970, 1, 1)


def _day(d):
    return (d - EPOCH).days


# ------------------------------------------------------ TPC-H-ish tables
def write_tables(seed, sf, out):
    """The registry's ten input tables (schemas of FIXTURES.md section 2)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc = 500 if sf <= 0.01 else int(50000 * sf)
    n_emb = 500 if sf <= 0.01 else int(20000 * sf)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    r = rng_for(seed, "customer")
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]}), f"{out}/customer.parquet")

    r = rng_for(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)}), f"{out}/supplier.parquet")

    r = rng_for(seed, "part")
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")

    _write(orders_table(seed, n_ord, n_cust), f"{out}/orders.parquet")

    r = rng_for(seed, "lineitem")
    d0, d1 = _day(date(1995, 1, 2)), _day(date(2001, 11, 4))
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(r, 901.0, 104999.0, n_li),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts_ms(r.integers(d0, d1 + 1, n_li))}), f"{out}/lineitem.parquet")

    r = rng_for(seed, "events")
    span_ns = 30 * 86400 * 10**9
    gaps = r.integers(1, 2 * span_ns // n_ev, n_ev)
    ts = np.cumsum(gaps)
    ts = ts * (span_ns - 10**9) // max(int(ts[-1]), 1)
    base = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)
    n_users = max(n_ev * 150 // 10000, 10)
    etypes = np.array(["click", "signup", "error", "view", "purchase"])
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array((base + ts).astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[r.integers(0, 5, n_ev)],
        "value": _cents(r, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")

    r = rng_for(seed, "documents")
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(WORDS), int(r.integers(10, 100)))]))
    langs = np.array(["en"] * 3 + ["es", "fr", "zh", "de"])
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[r.integers(0, len(langs), n_doc)],
        "source": [f"src{s}" for s in r.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    r = rng_for(seed, "embeddings")
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_emb), pa.int32())}),
        f"{out}/embeddings.parquet")


def orders_table(seed, n_ord, n_cust):
    r = rng_for(seed, "orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    d0, d1 = _day(date(1995, 1, 1)), _day(date(2001, 8, 1))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _cents(r, 1000.0, 499999.99, n_ord),
        "o_orderdate": _ts_ms(r.integers(d0, d1 + 1, n_ord)),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]})


# ------------------------------------------------------------- report
ASSET_NAMES = ["DOLAR", "S&P500", "IBOVESPA", "NASDAQ", "DOWJONES", "EURO",
               "LIBRA", "IENE", "OURO", "PETROLEO"] + \
    [f"ATIVO{i:02d}" for i in range(MARKET_ASSETS - 10)]


def market_dates():
    d, out = date(2000, 1, 3), []
    while len(out) < MARKET_DAYS:
        if d.weekday() < 5:
            out.append(d.isoformat())
        d += timedelta(days=1)
    return out


def write_market_csv(seed, path):
    """Wide market CSV: Date + 32 assets (S&P500 included), with seeded
    NULL (empty) and zero prices."""
    r = rng_for(seed, "market")
    dates = market_dates()
    n = len(dates)
    p0 = _cents(r, 5.0, 5000.0, MARKET_ASSETS)
    logret = r.normal(0.0, 0.015, (n, MARKET_ASSETS))
    prices = np.round(p0 * np.exp(np.cumsum(logret, axis=0)), 2)
    prices = np.maximum(prices, 0.01)
    cells = np.char.mod("%.2f", prices)
    cells[r.random((n, MARKET_ASSETS)) < 0.004] = ""
    cells[r.random((n, MARKET_ASSETS)) < 0.002] = "0.00"
    cells[0, r.integers(0, MARKET_ASSETS, 4)] = ""
    with open(path, "w", newline="\n") as f:
        f.write("Date," + ",".join(ASSET_NAMES) + "\n")
        for i in range(n):
            f.write(dates[i] + "," + ",".join(cells[i]) + "\n")


def report_plan(seed):
    """Report requests (initial_date, final_date, chart asset 1, chart asset
    2): REPORT_WARM for the set-ups, then one per pass. Window lengths rotate
    over REPORT_WINDOWS, so every run does the same mix of work; the seed
    picks where each window starts. Every window is unique."""
    r = rng_for(seed, "report-plan")
    dates = market_dates()
    seen, lines = set(), []
    for i in range(REPORT_WARM + MIX_PASSES):
        kind, n = ("reportwarm", i + 1) if i < REPORT_WARM else ("report", i - REPORT_WARM)
        length = REPORT_WINDOWS[i % len(REPORT_WINDOWS)]
        while True:
            start = int(r.integers(0, len(dates) - length))
            w = (dates[start], dates[start + length - 1])
            if w not in seen:
                break
        seen.add(w)
        a1, a2 = r.choice(len(ASSET_NAMES), 2, replace=False)
        lines.append([kind, n, w[0], w[1], ASSET_NAMES[a1], ASSET_NAMES[a2]])
    return lines


# --------------------------------------------------------- analytic mix
def mix_plan(seed):
    r = rng_for(seed, "mix-plan")
    lines = [["row", n, c] for n, c in MIX_ROWS]
    for p in range(MIX_PASSES):
        order = r.permutation(len(MIX_ROWS))
        lines.append(["pass", p] + [MIX_ROWS[i][0] for i in order])
    return lines


# ----------------------------------------------------------- lake churn
def merged_cents(key, commit):
    return 100000 + (key * 7919 + commit * 104729) % 49900000


class LakeModel:
    """In-memory model of the live rows: key -> (price in cents, status)."""

    def __init__(self, keys, cents, status):
        self.rows = dict(zip(keys.tolist(), zip(cents.tolist(), status)))
        self.total = int(sum(cents.tolist()))
        self.updated = sum(1 for s in status if s == "U")

    def _put(self, k, cents, st):
        old = self.rows.get(k)
        if old is not None:
            self.total -= old[0]
            self.updated -= old[1] == "U"
        self.rows[k] = (cents, st)
        self.total += cents
        self.updated += st == "U"

    def _drop(self, k):
        old = self.rows.pop(k)
        self.total -= old[0]
        self.updated -= old[1] == "U"

    def upsert(self, keys, commit, status):
        for k in keys:
            self._put(k, merged_cents(k, commit), status)

    def matching(self, m, rem, a, b):
        return [k for k in range(a, b + 1) if k % m == rem and k in self.rows]

    def delete(self, m, rem, a, b):
        for k in self.matching(m, rem, a, b):
            self._drop(k)

    def update(self, m, rem, a, b):
        for k in self.matching(m, rem, a, b):
            self._put(k, self.rows[k][0] + 100, "U")

    def state(self):
        return [len(self.rows), self.total, self.updated]


def lake_initial(seed, sf):
    n_ord = int(1500000 * sf)
    t = orders_table(seed, n_ord, int(150000 * sf))
    return t.slice(0, int(n_ord * LAKE_LIVE_SHARE)), n_ord


def lake_plan(seed, sf, commits=LAKE_COMMITS):
    """Seeded commit sequence with the model's expected (count, sum of
    o_totalprice in cents, rows with status 'U') after each commit, plus
    seeded time-travel reads of earlier commits."""
    init, n_ord = lake_initial(seed, sf)
    keys = init.column("o_orderkey").to_numpy()
    cents = np.round(init.column("o_totalprice").to_numpy() * 100).astype(np.int64)
    model = LakeModel(keys, cents, init.column("o_orderstatus").to_pylist())
    r = rng_for(seed, "lake-plan")
    history = [model.state()]
    lines = [["init"] + history[0], ["warm_cycles", len(LAKE_KINDS)]]
    next_new = n_ord
    for i in range(1, commits + 1):
        if i % LAKE_COMPACT_EVERY == 0:
            op = ["compact"]
        else:
            kind = LAKE_KINDS[(i - 1) % len(LAKE_KINDS)]
            if kind == "merge":
                n, stride = LAKE_BATCH, int(r.integers(1, 51))
                start = int(r.integers(0, next_new))
                ks = [start + j * stride for j in range(n)]
                model.upsert(ks, i, "M")
                next_new = max(next_new, ks[-1] + 1)
                op = ["merge", start, stride, n]
            elif kind == "append":
                n = LAKE_BATCH
                model.upsert(range(next_new, next_new + n), i, "O")
                op = ["append", next_new, n]
                next_new += n
            else:
                m = LAKE_RANGE[0]
                rem = int(r.integers(0, m))
                a = int(r.integers(0, max(next_new - LAKE_RANGE[1], 1)))
                b = a + LAKE_RANGE[1] - 1
                (model.delete if kind == "delete" else model.update)(m, rem, a, b)
                op = [kind, m, rem, a, b]
        history.append(model.state())
        lines.append(["commit", i] + history[-1] + op)
        if i % LAKE_TIME_TRAVEL_EVERY == 2:
            j = int(r.integers(0, i))
            lines.append(["tt", i, j] + history[j])
    return lines


def write_plan(lines, path):
    with open(path, "w", newline="\n") as f:
        for ln in lines:
            f.write("\t".join(str(x) for x in ln) + "\n")


def generate(workload, seed, out, lake_sf=LAKE_SF, lake_commits=LAKE_COMMITS):
    """Write the workload's inputs under `out`; returns the plan path."""
    os.makedirs(out, exist_ok=True)
    if workload == "analytic-mix":
        write_tables(seed, MIX_SF, f"{out}/tables")
        write_market_csv(seed, f"{out}/market.csv")
        lines = mix_plan(seed) + report_plan(seed)
    elif workload == "lake-churn":
        init, _ = lake_initial(seed, lake_sf)
        _write(init, f"{out}/lake_init.parquet")
        lines = lake_plan(seed, lake_sf, lake_commits)
    else:
        raise ValueError(f"unknown workload {workload}")
    write_plan(lines, f"{out}/plan.tsv")
    return f"{out}/plan.tsv"
