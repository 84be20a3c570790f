"""Seeded input generator for the benchmark.

Writes the tables a workload reads, one parquet file each, with the schemas
and physical types of the reference test data (`events`, `documents`,
`embeddings`).  The same seed gives the same bytes.

Statistics follow the sf0.1 reference tables (per 100k events: 1,500 users,
5 uniform event types; 5,000 documents over a 31-word vocabulary with 5%
near-duplicates and 8 exact-duplicate pairs; 2,000 unit 64-dim embeddings
with 10 labels).  `self_check` recomputes them on every generated directory;
`--reference DIR` also derives them from an existing data directory and
compares.

    python3 perfbench/gen.py --out DIR --seed 7 --events 100000 --docs 5000 --vecs 2000
"""
import argparse
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
DUP_WORD = "dup"  # the 31st vocabulary word: marks a near-duplicate
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00
SPAN_US = 30 * 86400 * 1_000_000
DIM, LABELS = 64, 10

# Statistics of the sf0.1 reference tables, per unit of the table's row count.
REFERENCE = {
    "users_per_event": 1500 / 100000,
    "event_types": 5,
    "event_type_share_min": 0.19,
    "vocabulary": 31,
    "near_dup_share": 250 / 5000,
    "exact_dup_pairs_per_doc": 8 / 5000,
    "embedding_dim": DIM,
    "labels": LABELS,
    "distinct_ts_share": 1.0,
}


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def events_table(seed, n):
    r = _rng(seed, 1)
    users = max(1, round(n * REFERENCE["users_per_event"]))
    # distinct microsecond stamps spread over the whole 30-day range
    ts = np.sort(r.choice(SPAN_US, size=n, replace=False)) + T0_US
    value = np.round(r.exponential(50.0, size=n), 2)
    etype = np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), size=n)]
    props = np.char.add(np.char.add('{"k": ',
                                    r.integers(0, 100, size=n).astype(str)), "}")
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, size=n, dtype=np.int64)),
        "event_type": pa.array(etype.tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array(props.tolist(), pa.string()),
    })


def documents_table(seed, n):
    r = _rng(seed, 2)
    n_dup = round(n * REFERENCE["near_dup_share"])
    n_pairs = round(n * REFERENCE["exact_dup_pairs_per_doc"])
    texts = [" ".join(np.array(WORDS)[r.integers(0, len(WORDS),
                                                 size=r.integers(10, 101))])
             for _ in range(n)]
    dup_ids = np.sort(r.choice(np.arange(n // 10, n), size=n_dup, replace=False))
    bases = r.choice(np.arange(0, n // 10), size=n_dup - n_pairs, replace=False)
    # the first n_pairs duplicates share their base with a later duplicate,
    # giving exactly n_pairs exact-duplicate pairs
    base_of = list(bases[:n_pairs]) + list(bases)
    for i, b in zip(dup_ids, base_of):
        texts[i] = texts[b] + " " + DUP_WORD
    lang = np.array(LANGS)[r.choice(len(LANGS), size=n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(seed, n):
    r = _rng(seed, 3)
    centers = r.standard_normal((LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = r.integers(0, LABELS, size=n).astype(np.int32)
    v = 0.07 * centers[label] + r.standard_normal((n, DIM)) / math.sqrt(DIM)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def generate(out, seed, events=0, docs=0, vecs=0):
    """Write the requested tables under `out`; returns the written paths."""
    os.makedirs(out, exist_ok=True)
    made = []
    for name, n, fn in (("events", events, events_table),
                        ("documents", docs, documents_table),
                        ("embeddings", vecs, embeddings_table)):
        if n:
            path = os.path.join(out, f"{name}.parquet")
            pq.write_table(fn(seed, n), path, compression="snappy")
            made.append(path)
    return made


def stats(data_dir):
    """Statistics of the tables present in `data_dir`, per unit of size."""
    out = {}
    p = os.path.join(data_dir, "events.parquet")
    if os.path.exists(p):
        t = pq.read_table(p)
        n = t.num_rows
        et = t.column("event_type").to_pylist()
        shares = [et.count(e) / n for e in set(et)]
        out["users_per_event"] = len(set(t.column("user_id").to_pylist())) / n
        out["event_types"] = len(shares)
        out["event_type_share_min"] = min(shares)
        out["distinct_ts_share"] = len(set(t.column("ts").to_pylist())) / n
    p = os.path.join(data_dir, "documents.parquet")
    if os.path.exists(p):
        texts = pq.read_table(p).column("text").to_pylist()
        n = len(texts)
        out["vocabulary"] = len({w for t in texts for w in t.split()})
        out["near_dup_share"] = sum(t.endswith(" " + DUP_WORD) for t in texts) / n
        out["exact_dup_pairs_per_doc"] = (n - len(set(texts))) / n
        out["documents"] = n
    p = os.path.join(data_dir, "embeddings.parquet")
    if os.path.exists(p):
        t = pq.read_table(p)
        out["embedding_dim"] = len(t.column("embedding")[0].as_py())
        out["labels"] = len(set(t.column("label").to_pylist()))
    return out


def self_check(data_dir, reference=None):
    """Compare generated statistics with `reference` (default: sf0.1's).

    Counts must match exactly, rates within 10% relative.
    Returns a list of mismatch descriptions (empty when all match)."""
    ref = reference or REFERENCE
    got = stats(data_dir)
    bad = []
    for k, v in got.items():
        if k not in ref:
            continue
        want = ref[k]
        if k == "exact_dup_pairs_per_doc":  # a count: exact at any size
            n = got["documents"]
            ok = round(v * n) == round(want * n)
        elif isinstance(want, int):
            ok = v == want
        elif k == "event_type_share_min":
            ok = v >= want * 0.95
        else:
            ok = abs(v - want) <= 0.1 * abs(want)
        if not ok:
            bad.append(f"{k}: generated {v:.6g}, reference {want:.6g}")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--events", type=int, default=100000)
    ap.add_argument("--docs", type=int, default=0)
    ap.add_argument("--vecs", type=int, default=0)
    ap.add_argument("--reference", help="data dir to derive the reference "
                    "statistics from, instead of the built-in sf0.1 ones")
    a = ap.parse_args()
    generate(a.out, a.seed, a.events, a.docs, a.vecs)
    ref = stats(a.reference) if a.reference else None
    if ref:
        # rates of an actual table: the users figure is a draw, not a target
        ref["users_per_event"] = REFERENCE["users_per_event"]
    bad = self_check(a.out, ref)
    for b in bad:
        print("self-check:", b)
    print("self-check", "FAILED" if bad else "ok", a.out)
    raise SystemExit(1 if bad else 0)



# ---------------------------------------------------------------- stream --
# The uba_stream workload's event streams.  Event time runs FACTOR times
# faster than wall time, so 15-minute order timers fire within a run.
FACTOR = 600
STREAM_T0_MS = 1704067200 * 1000
DISORDER_MS = 4900      # behaviour and page events: < the 5 s bound
LATE_MS = 30 * 60000    # late page events: 30 min behind, far past lateness
ORDER_DEADLINE_MS = 15 * 60000
STREAMS = ("behav", "pages", "orders", "receipts")
# shares of the offered rate; receipts follow the pays (about 0.2 more)
SHARES = {"behav": 0.3, "pages": 0.2, "orders": 0.5}


def _zipf_ids(r, n, universe, a=1.2):
    """Zipf-skewed ids from 0..universe-1, with a seeded rank->id map."""
    ranks = np.arange(1, universe + 1)
    p = ranks ** -a
    p /= p.sum()
    perm = r.permutation(universe)
    return perm[r.choice(universe, size=n, p=p)]


def _strictly_increasing(ts):
    ts = np.sort(ts)
    for i in range(1, len(ts)):  # bump ms ties; ties are rare
        if ts[i] <= ts[i - 1]:
            ts[i] = ts[i - 1] + 1
    return ts


def stream_events(seed, rate, drain_s, open_s):
    """Events of the four streams as {stream: {column: array}}.

    Event time covers `drain_s + open_s` seconds of wall time at `rate`
    events per second (all streams together).  Events before the phase
    boundary form the backlog drained as fast as possible (phase 0); the
    rest are sent open-loop (phase 1) at `due_us` after the phase starts.
    Sorted by send order within each stream.
    """
    r = _rng(seed, 4)
    span_ms = int((drain_s + open_s) * 1000 * FACTOR)
    t_open = STREAM_T0_MS + int(drain_s * 1000 * FACTOR)
    total = rate * (drain_s + open_s)
    out = {}

    def finish(name, nominal, cols):
        """Phase and due time from the send-order (nominal) event time."""
        phase = (nominal >= t_open).astype(np.int64)
        due = np.where(phase == 1, (nominal - t_open) * 1000 // FACTOR, 0)
        cols.update(phase=phase, due_us=due.astype(np.int64))
        out[name] = cols

    # behaviour (hot_items): Zipf items, bounded disorder
    n = int(total * SHARES["behav"])
    nominal = _strictly_increasing(STREAM_T0_MS + r.integers(0, span_ms, n))
    item = _zipf_ids(r, n, 2000)
    finish("behav", nominal, {
        "ts_ms": nominal - r.integers(0, DISORDER_MS, n),
        "user": r.integers(0, 5000, n), "item": item, "category": item % 50,
        "behavior": np.array(["pv", "pv", "pv", "pv", "pv", "pv", "pv",
                              "cart", "fav", "buy"])[r.integers(0, 10, n)]})

    # page views (hot_pages): Zipf urls, bounded disorder, 1% very late
    n = int(total * SHARES["pages"])
    nominal = _strictly_increasing(STREAM_T0_MS + r.integers(0, span_ms, n))
    late = (r.random(n) < 0.01) & (nominal > STREAM_T0_MS + 2 * LATE_MS)
    ts = nominal - r.integers(0, DISORDER_MS, n)
    ts = np.where(late, nominal - LATE_MS, ts)
    finish("pages", nominal, {
        "ts_ms": ts,
        "url": np.char.add("/p/", _zipf_ids(r, n, 200).astype(str))})

    # orders: create/pay pairs with every outcome; ascending event time
    n_orders = int(total * SHARES["orders"] / 1.8)
    create = STREAM_T0_MS + r.integers(0, span_ms, n_orders)
    kind = r.choice(5, size=n_orders, p=[0.55, 0.10, 0.10, 0.15, 0.10])
    # 0 paid on time, 1 paid late, 2 paid before created, 3 never paid,
    # 4 paid without a create
    pay = np.select(
        [kind == 0, kind == 1, kind == 2],
        [create + r.integers(60000, 14 * 60000, n_orders),
         create + ORDER_DEADLINE_MS + r.integers(20 * 60000, 40 * 60000,
                                                 n_orders),
         create - r.integers(10000, 5 * 60000, n_orders)],
        create + r.integers(0, 14 * 60000, n_orders))
    has_create = kind != 4
    has_pay = kind != 3
    oid = np.arange(n_orders, dtype=np.int64)
    ev_ts = np.concatenate([create[has_create], pay[has_pay]])
    ev_oid = np.concatenate([oid[has_create], oid[has_pay]])
    ev_type = np.array(["create"] * int(has_create.sum()) +
                       ["pay"] * int(has_pay.sum()))
    keep = (ev_ts >= STREAM_T0_MS) & (ev_ts < STREAM_T0_MS + span_ms)
    order = np.argsort(ev_ts[keep], kind="stable")
    o_ts = _strictly_increasing(ev_ts[keep][order])
    o_oid, o_type = ev_oid[keep][order], ev_type[keep][order]
    finish("orders", o_ts, {"ts_ms": o_ts, "order_id": o_oid, "type": o_type,
                            "tx": np.char.add("tx", o_oid.astype(str))})

    # receipts: 85% of pays matched within [-2.5 s, +4.5 s], plus receipts
    # for unknown transactions; ascending event time
    pays = o_type == "pay"
    matched = pays & (r.random(len(o_ts)) < 0.85)
    r_ts = o_ts[matched] + r.integers(-2500, 4500, int(matched.sum()))
    r_tx = np.char.add("tx", o_oid[matched].astype(str))
    n_extra = max(1, int(matched.sum() * 0.1))
    x_ts = STREAM_T0_MS + r.integers(0, span_ms, n_extra)
    r_ts = np.concatenate([r_ts, x_ts])
    r_tx = np.concatenate([r_tx, np.char.add("rx", np.arange(n_extra).astype(str))])
    keep = (r_ts >= STREAM_T0_MS) & (r_ts < STREAM_T0_MS + span_ms)
    order = np.argsort(r_ts[keep], kind="stable")
    rts = _strictly_increasing(r_ts[keep][order])
    finish("receipts", rts, {
        "ts_ms": rts, "tx": r_tx[keep][order],
        "channel": np.array(["alipay", "wechat", "card"])[
            r.integers(0, 3, len(rts))]})
    return out


def write_stream(out_dir, seed, rate, drain_s, open_s):
    """One CSV per stream (header line, then rows in send order)."""
    os.makedirs(out_dir, exist_ok=True)
    ev = stream_events(seed, rate, drain_s, open_s)
    for name, cols in ev.items():
        keys = list(cols)
        with open(os.path.join(out_dir, f"{name}.csv"), "w") as f:
            f.write(",".join(keys) + "\n")
            for row in zip(*(cols[k].tolist() for k in keys)):
                f.write(",".join(map(str, row)) + "\n")


INT_COLUMNS = {"ts_ms", "user", "item", "category", "phase", "due_us",
               "order_id"}


def read_stream(out_dir):
    """The streams written by `write_stream`, as {stream: {column: array}}."""
    ev = {}
    for name in STREAMS:
        with open(os.path.join(out_dir, f"{name}.csv")) as f:
            keys = f.readline().strip().split(",")
            cols = list(zip(*(line.rstrip("\n").split(",") for line in f)))
        ev[name] = {k: (np.array(c, dtype=np.int64) if k in INT_COLUMNS
                        else np.array(c)) for k, c in zip(keys, cols)}
    return ev


if __name__ == "__main__":
    main()
