"""Reference computation and latency for the uba_stream workload.

The streaming jobs' results depend on where micro-batch boundaries fall
(watermarks advance per batch), so the reference replays the generated
events batch by batch: each batch's input rows come from the source offsets
its progress report names, and its watermark from the same report. The
order and transaction machines are small folds restating the operators'
state transitions; windows and rankings follow the rules of their batch
twins (window assignment, ranking with its key tie-break).

Two details of Spark's stateful operators are not observable from outside:
whether late rows are filtered against the current or the previous batch's
watermark, and whether a timer fires at `expiry <= watermark` or `<`. The
folds run every combination and accept the output if it equals any.
"""
import collections
import datetime
import json

import numpy as np

DEADLINE_MS = 15 * 60000
PAY_WAIT_MS, RECEIPT_WAIT_MS = 5000, 3000
SLACK_MS = 60000
ITEM_WINDOW = (3600000, 300000)      # hot_items: 60 min / 5 min
PAGE_WINDOW = (600000, 60000)        # hot_pages: 10 min / 1 min
SOURCE_OF = (("userId", "behav"), ("tsMs", "pages"),
             ("payChannel", "receipts"), ("orderId", "orders"))


def iso_ms(s):
    d = datetime.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return int(round(d.timestamp() * 1000))


def _offset(x):
    return -1 if x is None else int(json.loads(x) if isinstance(x, str) else x)


def batches(progress, chunks):
    """Per batch of one query: id, watermark (ms), commit time (epoch us),
    input row index ranges per stream, and the raw report."""
    out = []
    for raw in progress:
        p = json.loads(raw) if isinstance(raw, str) else raw
        wm = p.get("eventTime", {}).get("watermark")
        rows = {}
        for src in p.get("sources", []):
            name = next(n for k, n in SOURCE_OF if k in src["description"])
            lo, hi = _offset(src.get("startOffset")), _offset(src.get("endOffset"))
            ch = chunks[name]
            rows[name] = [(ch[i][1], ch[i][2]) for i in range(lo + 1, hi + 1)
                          if i < len(ch)]
        commit_us = (iso_ms(p["timestamp"]) +
                     p["durationMs"].get("triggerExecution", 0)) * 1000
        out.append({"id": p["batchId"], "wm": iso_ms(wm) if wm else 0,
                    "commit_us": commit_us, "rows": rows, "p": p})
    out.sort(key=lambda b: b["id"])
    return out


def _windows(ts, size, slide):
    first = (ts // slide) * slide + slide
    return range(first, first + size, slide)


def _closes(end, wm, le):
    return end <= wm if le else end < wm


def hot_items(ev, bs, agg_le, timer_le):
    """Sliding counts closed by the watermark, ranked by the top-N
    processor once its emit timer (watermark + 1 at arrival) fires."""
    c = ev["behav"]
    open_counts = collections.Counter()
    ranked_at = {}   # window end -> (counts, emit timer)
    out = collections.Counter()
    for b in bs:
        wm = b["wm"]
        for lo, hi in b["rows"].get("behav", []):
            for i in range(lo, hi):
                if c["behavior"][i] == "pv":
                    for e in _windows(int(c["ts_ms"][i]), *ITEM_WINDOW):
                        open_counts[(e, str(int(c["item"][i])))] += 1
        for (e, k) in [x for x in open_counts if _closes(x[0], wm, agg_le)]:
            counts, timer = ranked_at.setdefault(e, ({}, max(e + 1, wm + 1)))
            counts[k] = open_counts.pop((e, k))
        for e in [e for e, (_, t) in ranked_at.items() if _closes(t, wm, timer_le)]:
            counts, _ = ranked_at.pop(e)
            top = sorted(counts.items(), key=lambda x: (-x[1], x[0]))[:3]
            for rank, (k, n) in enumerate(top):
                out[(e, rank + 1, k, n)] += 1
    return out


def hot_pages(ev, bs, le):
    """Sliding counts of the rows LateSplit tags on time, emitted when the
    watermark closes their window."""
    c = ev["pages"]
    open_counts = collections.Counter()
    out = collections.Counter()
    for b in bs:
        wm = b["wm"]
        for lo, hi in b["rows"].get("pages", []):
            for i in range(lo, hi):
                ts = int(c["ts_ms"][i])
                if ts >= wm + SLACK_MS:  # LateSplit's on-time test
                    for e in _windows(ts, *PAGE_WINDOW):
                        open_counts[(str(c["url"][i]), e)] += 1
        for (k, e) in [x for x in open_counts if _closes(x[1], wm, le)]:
            out[(k, e // 1000, open_counts.pop((k, e)))] += 1
    return out


def _fold(bs, inputs, on_rows, on_timer, timer_le, late_prev):
    """Replays a keyed state machine batch by batch.

    inputs(b) -> [(key, sort_key, event)]; on_rows(key, state, events, wm,
    timers) -> (state, emitted); on_timer(key, state) -> emitted. Emitted
    rows are (row, trigger) pairs."""
    state, timers, out = {}, collections.defaultdict(set), []
    prev_wm = 0
    for b in bs:
        wm = b["wm"]
        late_wm = prev_wm if late_prev else wm
        groups = collections.defaultdict(list)
        for key, sk, e in inputs(b):
            if e["ts"] <= late_wm:
                continue  # dropped as late
            groups[key].append((sk, e))
        for key, evs in groups.items():
            evs.sort(key=lambda x: x[0])
            s, emitted = on_rows(key, state.get(key), [e for _, e in evs], wm,
                                 timers[key])
            if s is None:
                state.pop(key, None)
            else:
                state[key] = s
            out += [(row, trig, b["id"]) for row, trig in emitted]
        for key in list(timers):
            due = [t for t in timers[key] if (t <= wm if timer_le else t < wm)]
            if not due:
                continue
            timers[key] -= set(due)
            if key in state:
                out += [(row, trig, b["id"])
                        for row, trig in on_timer(key, state.pop(key), min(due))]
            if not timers[key]:
                del timers[key]
        prev_wm = wm
    return out


def order_timeout(ev, bs, timer_le, late_prev):
    c = ev["orders"]

    def inputs(b):
        for lo, hi in b["rows"].get("orders", []):
            for i in range(lo, hi):
                e = {"ts": int(c["ts_ms"][i]), "type": c["type"][i], "i": i}
                yield int(c["order_id"][i]), e["ts"], e

    def on_rows(key, s, evs, wm, timers):
        s = dict(s or {})
        out = []
        for e in evs:
            s[e["type"]] = e
            if "create" in s and "pay" in s:
                ok = s["pay"]["ts"] <= s["create"]["ts"] + DEADLINE_MS
                out.append(((key, "payed successfully" if ok
                             else "payed but already timeout"),
                            ("event", "orders", max(s["create"]["i"],
                                                    s["pay"]["i"]))))
                s = {}
                timers.clear()
        if s:
            base = (s.get("create") or s["pay"])["ts"]
            timers.add(max(base + DEADLINE_MS, wm + 1))
            return s, out
        return None, out

    def on_timer(key, s, t):
        what = "timeout" if "create" in s else "payed but not found created"
        return [((key, what), ("timer", ("orders",), t))]

    return _fold(bs, inputs, on_rows, on_timer, timer_le, late_prev)


def tx_match(ev, bs, timer_le, late_prev):
    o, r = ev["orders"], ev["receipts"]

    def inputs(b):
        for lo, hi in b["rows"].get("orders", []):
            for i in range(lo, hi):
                if o["type"][i] == "pay":
                    e = {"ts": int(o["ts_ms"][i]), "side": "pay", "i": i,
                         "order": int(o["order_id"][i])}
                    yield str(o["tx"][i]), (e["ts"], "pay"), e
        for lo, hi in b["rows"].get("receipts", []):
            for i in range(lo, hi):
                e = {"ts": int(r["ts_ms"][i]), "side": "receipt", "i": i,
                     "channel": str(r["channel"][i])}
                yield str(r["tx"][i]), (e["ts"], "receipt"), e

    def on_rows(key, s, evs, wm, timers):
        s = dict(s or {})
        out = []
        for e in evs:
            s[e["side"]] = e
            if "pay" in s and "receipt" in s:
                p, q = s["pay"], s["receipt"]
                trig = max((("orders", p["i"]), ("receipts", q["i"])),
                           key=lambda x: ev[x[0]]["due_us"][x[1]])
                out.append(((key, "matched", p["ts"], q["ts"], p["order"],
                             q["channel"]), ("event",) + trig))
                s = {}
                timers.clear()
        if s:
            waits = []
            if "pay" in s:
                waits.append(s["pay"]["ts"] + PAY_WAIT_MS)
            if "receipt" in s:
                waits.append(s["receipt"]["ts"] + RECEIPT_WAIT_MS)
            timers.add(max(min(waits), wm + 1))
            return s, out
        return None, out

    def on_timer(key, s, t):
        out = []
        if "pay" in s:
            out.append(((key, "unmatched_pay", s["pay"]["ts"], None,
                         s["pay"]["order"], None),
                        ("timer", ("pays", "receipts"), t)))
        if "receipt" in s:
            out.append(((key, "unmatched_receipt", None, s["receipt"]["ts"],
                         None, s["receipt"]["channel"]),
                        ("timer", ("pays", "receipts"), t)))
        return out

    return _fold(bs, inputs, on_rows, on_timer, timer_le, late_prev)


def actual_rows(outputs):
    """(batch id, output row) pairs."""
    return [(o[0], tuple(o[1:])) for o in outputs]


def _diff(expected, actual):
    missing = expected - actual
    extra = actual - expected
    return (sum(missing.values()) + sum(extra.values()),
            [{"missing": list(k)} for k in list(missing)[:3]] +
            [{"extra": list(k)} for k in list(extra)[:3]])


def check(ev, r):
    """Compares every query's output with the reference replay.

    Returns ({query: {"expected", "wrong", "diffs"}}, latency samples in ms,
    {query: batches})."""
    res, lat, all_bs = {}, [], {}
    for q in ("hot_items", "hot_pages", "order_timeout", "tx_match"):
        bs = batches(r["progress"][q], r["chunks"])
        all_bs[q] = bs
        act = actual_rows(r["outputs"][q])
        got = collections.Counter(row for _, row in act)
        variants = []
        if q == "hot_items":
            variants = [(hot_items(ev, bs, a, t), None)
                        for a in (True, False) for t in (True, False)]
        elif q == "hot_pages":
            variants = [(hot_pages(ev, bs, le), None) for le in (True, False)]
        else:
            fold = order_timeout if q == "order_timeout" else tx_match
            for le in (True, False):
                for prev in (False, True):
                    rows = fold(ev, bs, le, prev)
                    variants.append((collections.Counter(x[0] for x in rows),
                                     rows))
        best = min(((_diff(c, got), c, rows) for c, rows in variants),
                   key=lambda x: x[0][0])
        (wrong, diffs), exp, rows = best
        res[q] = {"expected": sum(exp.values()), "wrong": wrong,
                  "diffs": diffs}
        if rows is not None:
            lat += latencies(ev, r, bs, rows, act)
    return res, lat, all_bs


def latencies(ev, r, bs, rows, actual):
    """Latency (ms) of each emitted result from the generator's stamp on the
    event that made it possible to the commit of the batch that emitted it.
    Only results triggered by open-loop events count."""
    commit = {b["id"]: b["commit_us"] for b in bs}
    start = r["open_start_us"]
    trig = {}
    for row, t, _ in rows:
        trig.setdefault(row, t)
    out = []
    for bid, row in actual:
        t = trig.get(row)
        if t is None or bid not in commit:
            continue
        if t[0] == "event":
            stream, i = t[1], t[2]
            if ev[stream]["phase"][i] != 1:
                continue
            stamp = start + int(ev[stream]["due_us"][i])
        else:
            # the watermark passes the timer once any input stream has sent
            # an event at or after it
            firsts = []
            for s in t[1]:
                name = "orders" if s == "pays" else s
                i = _first_index(ev, name, t[2], s == "pays")
                if i is not None:
                    firsts.append((int(ev[name]["due_us"][i]) if
                                   ev[name]["phase"][i] == 1 else None, name))
            if not firsts or any(d is None for d, _ in firsts):
                continue
            stamp = start + min(d for d, _ in firsts)
        out.append((commit[bid] - stamp) / 1000.0)
    return out


def _first_index(ev, name, ts, only_pays):
    """Index of the first event of stream `name`, in send order, with event
    time >= ts (pays only, if asked); None if there is none."""
    cache = ev.setdefault("_first", {})
    if (name, only_pays) not in cache:
        c = ev[name]
        tsa = np.asarray(c["ts_ms"])
        pos = np.nonzero(np.asarray(c["type"]) == "pay")[0] if only_pays \
            else np.arange(len(tsa))
        # running maximum in send order makes the search a bisection
        cache[(name, only_pays)] = (pos, np.maximum.accumulate(tsa[pos]))
    pos, runmax = cache[(name, only_pays)]
    j = int(np.searchsorted(runmax, ts, side="left"))
    return int(pos[j]) if j < len(pos) else None
