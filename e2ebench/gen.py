"""Deterministic inputs for the benchmark.

* ``corpus(out_dir, sf)`` writes the ten corpus tables the engine reads
  (TPC-H-ish star schema plus ``events``, ``documents``, ``embeddings``) as
  one Parquet file each, in the schemas and value shapes of the engine's
  test corpus (FIXTURES.md).
  The corpus has a fixed generator seed, so the committed expected result
  fingerprints for the analytics queries hold for every benchmark seed.
* ``wire_files(out_dir, seed, ...)`` writes the lifecycle workload's
  wire-envelope files (``{"stream":..,"data":{s,t,p,q,T,m}}`` lines), with a
  stated share of replayed duplicates and late events, plus the
  ground-truth table of distinct trades the store must read back.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42
# bump when the corpus generator changes: cached corpora and the committed
# expected fingerprints are keyed by it
CORPUS_VERSION = 1

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DAY_US = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TPCH_T0_MS = 788_918_400_000  # 1995-01-01T00:00:00Z


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus(out_dir, sf):
    """Write the corpus at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(CORPUS_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n = lambda base: max(1, int(round(base * sf)))  # noqa: E731
    n_cust, n_supp, n_part = n(150_000), n(10_000), n(200_000)
    n_ord, n_line, n_ev = n(1_500_000), n(6_000_000), n(1_000_000)
    n_doc, n_emb, n_user = n(50_000), n(20_000), n(15_000)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[
            rng.integers(0, 5, n_cust)]})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    day_ms = 86_400_000
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(
            TPCH_T0_MS + rng.integers(0, 2404, n_ord) * day_ms,
            pa.timestamp("ms")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(
            TPCH_T0_MS + rng.integers(1, 2500, n_line) * day_ms,
            pa.timestamp("ms"))})
    ts_us = np.sort(EVENTS_T0_US + rng.integers(0, 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        # nanosecond timestamps, like the test corpus
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier document
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = "dup"
            texts.append(" ".join(w))
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(np.array(WORDS)[
                rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


SYMBOLS = ["BTCUSDT", "ETHUSDT", "SOLUSDT", "BNBUSDT", "XRPUSDT"]
SYMBOL_PRICES = [97000.0, 3400.0, 190.0, 700.0, 2.3]
WIRE_T0_MS = 1_735_689_600_000  # 2025-01-01T00:00:00Z


def _envelope(sym, tid, price, qty, t_ms, maker):
    return ('{"stream":"%s@trade","data":{"e":"trade","E":%d,"s":"%s",'
            '"t":%d,"p":"%.2f","q":"%.4f","T":%d,"m":%s}}'
            % (sym.lower(), t_ms + 5, sym, tid, price, qty, t_ms,
               "true" if maker else "false"))


def wire_files(out_dir, seed, sizes, dup_share, late_share):
    """Write one wire-envelope file per entry of ``sizes`` (its line count).

    Trades follow the reference demo generator: per-symbol random-walk
    prices with +-0.2 % shocks, 4-8 trades/s, qty ~ U(0.0001, 0.0101), a fair
    coin for the maker side. A ``dup_share`` of the lines replays an
    envelope sent shortly before (byte-identical, as after a reconnect),
    and a ``late_share`` carries an event time five minutes in the past,
    landing in an already closed candle minute. Event times are unique per
    trade (on-time ones are multiples of 8 ms, late ones are not), so the
    candles' open and close never hinge on a tie. Returns one
    ``{"name", "rows", "max_ts_ms"}`` per file in hand-off order and writes
    the distinct trades, tagged with the file that first carries them, to
    ``truth.parquet``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = int(sum(sizes))
    is_dup = rng.random(n) < dup_share
    is_dup[0] = False
    uniq = np.flatnonzero(~is_dup)
    u = len(uniq)
    # the trades, in event order
    sym = rng.integers(0, len(SYMBOLS), u)
    shock = 1.0 + rng.uniform(-0.002, 0.002, u)
    price = np.empty(u)
    for k, p0 in enumerate(SYMBOL_PRICES):
        m = sym == k
        price[m] = p0 * np.cumprod(shock[m])
    price = np.round(price, 2)
    qty = np.round(rng.uniform(0.0001, 0.0101, u), 4)
    step = (1000 / rng.uniform(4, 8, u)).astype(np.int64) // 8 * 8
    t_ms = WIRE_T0_MS + np.cumsum(step)
    late = rng.random(u) < late_share
    t_ms = np.where(late, t_ms - 299_996, t_ms)
    maker = rng.integers(0, 2, u)
    tid = np.arange(1, u + 1)
    env = [_envelope(SYMBOLS[s], i, p, q, t, m)
           for s, i, p, q, t, m in zip(sym, tid, price, qty, t_ms, maker)]
    # each line: its own trade, or a replay of one of the last 2000 sent
    seen = np.cumsum(~is_dup)  # trades sent up to and including this line
    src = np.where(is_dup, seen - 1 - rng.integers(0, 2000, n) % seen, seen - 1)
    bounds = np.cumsum([0] + list(sizes))
    files, first_file = [], np.zeros(u, np.int64)
    for f in range(len(sizes)):
        lo, hi = bounds[f], bounds[f + 1]
        idx = src[lo:hi]
        new = ~is_dup[lo:hi]
        first_file[idx[new]] = f
        name = f"part-{f:05d}.json"
        with open(os.path.join(out_dir, name), "w") as fh:
            fh.write("\n".join(env[i] for i in idx) + "\n")
        files.append({"name": name, "rows": int(hi - lo),
                      "max_ts_ms": int(t_ms[idx].max())})
    pq.write_table(pa.table({
        "symbol": np.array(SYMBOLS)[sym], "trade_id": pa.array(tid, pa.int64()),
        "price": price, "qty": qty,
        "ts": pa.array(t_ms * 1000, pa.timestamp("us", "UTC")),
        "is_buyer_maker": pa.array(maker, pa.int32()),
        "file": pa.array(first_file, pa.int32())}),
        os.path.join(out_dir, "truth.parquet"))
    return files


if __name__ == "__main__":
    import sys
    import time
    t = time.time()
    corpus(sys.argv[1], float(sys.argv[2]))
    print(json.dumps({"corpus_s": round(time.time() - t, 3)}))
