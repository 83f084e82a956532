"""Seeded input generators for the benchmark.

Two kinds of input, both a pure function of the seed:

* ``write_tables`` writes the star schema and LLM corpora the batch queries
  read (region, nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), one parquet file each, in the fixture schemas
  that ``graft.model.Tables`` reads.
* ``write_stream`` writes the clickstream as parquet part files under
  ``<dir>/events.parquet/``, the layout ``Streaming.eventsStream`` and
  ``Tables.events`` both read. With period 0 every file is written at once
  (the warm-up backlog); otherwise, run as ``gen.py stream ...``, it is its
  own single-threaded process and writes one file per period on a fixed
  wall-clock schedule (an open loop), logging each file's due time and when
  it was written.

Events are a Markov clickstream: each user walks a transition matrix over
the five event types, a tenth of the users walk a click-heavy "bot" matrix,
and activity is skewed over the user keys (a few users send most events).
A planned share of events is written out of order, always by less than the
stream's lateness; the log declares how many per file and how far back, so
that any watermark drop is an unplanned one.
"""

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
# rows: from-state, columns: to-state, in EVENT_TYPES order
HUMAN_MATRIX = np.array([
    [0.20, 0.40, 0.20, 0.05, 0.15],
    [0.20, 0.30, 0.30, 0.05, 0.15],
    [0.15, 0.45, 0.20, 0.10, 0.10],
    [0.20, 0.40, 0.20, 0.10, 0.10],
    [0.25, 0.35, 0.15, 0.05, 0.20],
])
BOT_MATRIX = np.array([
    [0.70, 0.15, 0.02, 0.03, 0.10],
    [0.60, 0.25, 0.05, 0.02, 0.08],
    [0.60, 0.20, 0.05, 0.05, 0.10],
    [0.60, 0.20, 0.05, 0.05, 0.10],
    [0.60, 0.20, 0.05, 0.05, 0.10],
])
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86400 * 1_000_000


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def table_sizes(sf):
    """Row counts per table at scale factor ``sf`` (fixture ratios)."""
    def n(base):
        return max(1, int(round(base * sf)))
    return {
        "customer": n(150_000), "orders": n(1_500_000),
        "lineitem": n(6_000_000), "part": n(200_000), "supplier": n(10_000),
        "events": n(1_000_000), "documents": max(50, n(50_000)),
        "embeddings": max(50, n(20_000)),
    }


def _write_file(path, arrays):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(pa.table(arrays), tmp)
    os.replace(tmp, path)


def _ts_us(values_us):
    return pa.array(values_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


class Clickstream:
    """Markov clickstream over ``n_users`` keys with skewed activity.

    State (each user's last event type) persists across ``events`` calls,
    so a stream cut into files is the same walk as one written at once.
    """

    def __init__(self, seed, n_users, skew=1.1):
        self.rng = _rng(seed, 1)
        self.n_users = n_users
        ranks = np.arange(1, n_users + 1, dtype=np.float64)
        weights = 1.0 / ranks ** skew
        perm = _rng(seed, 2).permutation(n_users)
        self.cdf = np.cumsum(weights[perm]) / weights.sum()
        self.is_bot = (np.arange(n_users) % 10) == 3
        self.state = _rng(seed, 3).integers(0, len(EVENT_TYPES), n_users)
        self.cum_h = np.cumsum(HUMAN_MATRIX, axis=1)
        self.cum_b = np.cumsum(BOT_MATRIX, axis=1)
        self.next_id = 0

    def events(self, n):
        """Next ``n`` events as (event_id, user_id, event_type index, value, k)."""
        rng = self.rng
        users = np.searchsorted(self.cdf, rng.random(n), side="right")
        users = np.minimum(users, self.n_users - 1)
        u = rng.random(n)
        types = np.empty(n, dtype=np.int64)
        state, is_bot, cum_h, cum_b = self.state, self.is_bot, self.cum_h, self.cum_b
        for i in range(n):
            uid = users[i]
            row = (cum_b if is_bot[uid] else cum_h)[state[uid]]
            t = int(np.searchsorted(row, u[i], side="right"))
            t = min(t, len(EVENT_TYPES) - 1)
            state[uid] = t
            types[i] = t
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        value = np.round(rng.exponential(50.0, n), 2)
        k = rng.integers(0, 100, n)
        return ids, users.astype(np.int64), types, value, k


def _events_arrays(ids, users, types, value, k, ts_us):
    return {
        "event_id": pa.array(ids, type=pa.int64()),
        "ts": _ts_us(ts_us),
        "user_id": pa.array(users, type=pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types], type=pa.string()),
        "value": pa.array(value, type=pa.float64()),
        "props": pa.array(['{"k": %d}' % x for x in k], type=pa.string()),
    }


def _documents(rng, n):
    lengths = rng.integers(10, 100, n)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            idx = rng.integers(0, len(WORDS), lengths[i])
            texts.append(" ".join(WORDS[j] for j in idx))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n,
                       p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, type=pa.string()),
        "lang": pa.array(langs, type=pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n, dim=64, n_labels=10):
    centroids = rng.normal(0, 1, (n_labels, dim))
    labels = rng.integers(0, n_labels, n)
    v = centroids[labels] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels.astype(np.int32)),
    }


def _tables(seed, sz):
    """Builders for every table; each draws from its own random stream, so
    a table's rows do not depend on which others are built."""
    nc, ns, npart, no = sz["customer"], sz["supplier"], sz["part"], sz["orders"]
    d0 = 788918400 * 1_000_000  # 1995-01-01

    def region(rng):
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}

    def nation(rng):
        return {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": ["NATION_%d" % i for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}

    def customer(rng):
        return {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": ["Customer#%09d" % i for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "FURNITURE",
                                        "HOUSEHOLD", "BUILDING"], nc)}

    def supplier(rng):
        return {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": ["Supplier#%09d" % i for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}

    def part(rng):
        adj = np.array(["large", "hot", "blue", "old", "cold", "small", "red", "new"])
        noun = np.array(["ring", "bolt", "plate", "gear", "nut", "pipe"])
        return {
            "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
            "p_name": np.char.add(np.char.add(rng.choice(adj, npart), " "),
                                  rng.choice(noun, npart)),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
            "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM",
                                  "PROMO"], npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)}

    def orders(rng):
        return {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": rng.choice(["O", "F", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts_us(d0 + rng.integers(0, 2404, no) * DAY_US),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], no)}

    def lineitem(rng):
        nl = sz["lineitem"]
        return {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], nl),
            "l_linestatus": rng.choice(["O", "F"], nl),
            "l_shipdate": _ts_us(d0 + DAY_US + rng.integers(0, 2498, nl) * DAY_US)}

    def events(rng):
        ne = sz["events"]
        cs = Clickstream(seed, n_users=max(10, nc // 10))
        ids, users, types, value, k = cs.events(ne)
        ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * DAY_US, ne))
        return _events_arrays(ids, users, types, value, k, ts)

    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": lambda rng: _documents(rng, sz["documents"]),
        "embeddings": lambda rng: _embeddings(rng, sz["embeddings"]),
    }


ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings")


def write_tables(out, seed, sf, only=ALL_TABLES):
    """Write the tables named in ``only`` at scale factor ``sf`` into
    directory ``out``, one parquet file each. Returns the row counts."""
    os.makedirs(out, exist_ok=True)
    sz = table_sizes(sf)
    builders = _tables(seed, sz)
    for i, name in enumerate(ALL_TABLES):
        if name in only:
            _write_file(os.path.join(out, name + ".parquet"),
                        builders[name](_rng(seed, 100 + i)))
    return sz


def write_stream(out, seed, n_users, files, events_per_file, period_s,
                 accel, ooo_share, ooo_max_s, log_path, t0=None):
    """Write ``files`` event files under ``out/events.parquet/``.

    File ``i`` is due at ``t0 + (i + 1) * period_s`` wall seconds and holds
    the events of that period; event time advances ``accel`` event seconds
    per wall second from 2024-01-01. ``period_s == 0`` writes all files at
    once (every file due at ``t0``). Returns the log written to
    ``log_path``: per file its due and written wall times (ms) and event
    ids, plus the declared out-of-order events.
    """
    target = os.path.join(out, "events.parquet")
    os.makedirs(target, exist_ok=True)
    cs = Clickstream(seed, n_users)
    rng = _rng(seed, 20)
    t0 = time.time() if t0 is None else t0
    # event-time span of one file; a backlog spreads files one period apart
    span_us = int((period_s if period_s > 0 else 1.0) * accel * 1_000_000)
    log = {"t0_ms": t0 * 1000.0, "period_s": period_s, "accel": accel,
           "ooo_max_s": ooo_max_s, "files": [], "ooo_events": 0,
           "ooo_max_behind_s": 0.0}
    for i in range(files):
        due = t0 + (i + 1) * period_s if period_s > 0 else t0
        ids, users, types, value, k = cs.events(events_per_file)
        ts = EPOCH_2024_US + i * span_us + np.sort(
            rng.integers(0, span_us, events_per_file))
        # planned out-of-order events: pushed back by less than the lateness
        ooo = rng.random(events_per_file) < ooo_share
        behind = (rng.random(events_per_file) * ooo_max_s * 1_000_000).astype(np.int64)
        ts = np.where(ooo & (ts - behind > EPOCH_2024_US), ts - behind, ts)
        n_ooo = int(ooo.sum())
        if period_s > 0:
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
        name = "part-%06d.parquet" % i
        _write_file(os.path.join(target, name),
                    _events_arrays(ids, users, types, value, k, ts))
        written = time.time()
        log["files"].append({
            "name": name, "due_ms": due * 1000.0, "written_ms": written * 1000.0,
            "events": int(events_per_file), "first_id": int(ids[0]),
            "ooo": n_ooo})
        log["ooo_events"] += n_ooo
        if n_ooo:
            log["ooo_max_behind_s"] = max(
                log["ooo_max_behind_s"], float(behind[ooo].max()) / 1e6)
    tmp = log_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, log_path)
    return log


def main(argv):
    ap = argparse.ArgumentParser(
        description="Write the clickstream on a fixed schedule (the open-loop generator).")
    ap.add_argument("cmd", choices=["stream"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--users", type=int, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--events-per-file", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--accel", type=float, required=True)
    ap.add_argument("--ooo-share", type=float, required=True)
    ap.add_argument("--ooo-max-s", type=float, required=True)
    ap.add_argument("--log", required=True)
    ap.add_argument("--t0", type=float, default=None)
    a = ap.parse_args(argv)
    write_stream(a.out, a.seed, a.users, a.files, a.events_per_file,
                 a.period, a.accel, a.ooo_share, a.ooo_max_s, a.log, a.t0)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
