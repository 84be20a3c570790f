"""Turns one run's raw samples (result.json) into checked metrics and spans."""
import collections
import glob
import os
import statistics

import metrics
import oracle
import streamcheck

STREAM_QUERIES = ("hot_items", "hot_pages", "order_timeout", "tx_match")
STREAM_FIELDS = ("batch_ms_p50", "add_batch_ms_p50", "planning_ms_p50",
                 "wal_commit_ms_p50", "state_rows", "state_mb",
                 "state_commit_ms_p50", "late_dropped", "backlog_end")
CHECKPOINT_CALLS = ("localCheckpoint", "checkpoint")

END_TO_END = {"setup_s": "s", "pass_s": "s", "latency_p50_ms": "ms",
              "latency_tail_ms": "ms", "retained_heap_mb": "MB"}
PER_LAYER = dict(
    [("jobs.construct_s", "s"), ("jobs.construct_jobs", "count"),
     ("jobs.construct_share", "ratio"), ("exec.job_gap_s", "s"),
     ("exec.sched_delay_s", "s"), ("ops.checkpoints", "count"),
     ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.core_use", "ratio"),
     ("exec.jobs", "count"), ("exec.stages", "count"),
     ("exec.tasks_per_stage", "count"), ("exec.shuffle_write_mb", "MB"),
     ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
     ("exec.task_skew", "ratio"), ("io.input_mb", "MB"),
     ("io.scan_tasks", "count"), ("io.scan_s", "s"), ("io.canary_s", "s"),
     ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
     ("catalyst.planning_ms", "ms"), ("ops.cached_peak_mb", "MB"),
     ("ops.cold_warm_ratio", "ratio"), ("ops.cf_memo_hit_ratio", "ratio")] +
    [(f"streaming.{q}.{f}", u) for q in STREAM_QUERIES for f, u in zip(
        STREAM_FIELDS, ("ms", "ms", "ms", "ms", "count", "MB", "ms", "count",
                        "count"))] +
    [("streaming.capacity_eps", "1/s"), ("streaming.capacity_eps_1core", "1/s"),
     ("bench.gen_late_ms_p99", "ms"), ("bench.offered_eps", "1/s"),
     ("trace.overhead", "ratio")] +
    [(f"self.{layer}_s", "s") for layer in
     ("bench", "io", "jobs", "catalyst", "exec", "streaming")])


def module_map(root):
    """Source file name -> module (io, jobs, ops, streaming, ...)."""
    out = {}
    base = os.path.join(root, "src", "main", "scala", "graft")
    for f in glob.glob(os.path.join(base, "**", "*.scala"), recursive=True):
        rel = os.path.relpath(f, base).split(os.sep)
        out[rel[-1]] = rel[0] if len(rel) > 1 else "graft"
    return out


def caller(call_site, modules):
    """Module of a job's call site, e.g. 'count at Eager.scala:30' -> ops."""
    f = call_site.rsplit(" at ", 1)[-1].split(":")[0]
    return modules.get(f, "bench" if f else "")


# ------------------------------------------------------------ spans --

def build_spans(tr, modules, stream_batches=None, query_ids=None):
    """Span tree of a traced run: the benchmark's own spans, Spark jobs and
    stages (parented by job group and time), Catalyst phases (parented by
    time) and streaming micro-batches with their phases."""
    spans = [dict(s) for s in tr["spans"]]
    bench = [s for s in spans if s["name"] in ("construct", "action")]
    by_trace = collections.defaultdict(list)
    for s in bench:
        by_trace[s["trace"]].append(s)

    def containing(t_us, cands):
        best = None
        for s in cands:
            if s["start_us"] <= t_us <= s["end_us"]:
                if best is None or s["start_us"] > best["start_us"]:
                    best = s
        return best

    # streaming micro-batches from progress reports
    batch_phase = {}
    for q, bs in (stream_batches or {}).items():
        for b in bs:
            p = b["p"]
            d = p["durationMs"]
            end = b["commit_us"]
            start = end - d.get("triggerExecution", 0) * 1000
            sid = f"batch:{q}:{b['id']}"
            spans.append({"id": sid, "parent": 0, "trace": sid,
                          "name": "micro_batch", "layer": "streaming",
                          "start_us": start, "end_us": end, "query": q})
            t = start
            for phase, layer in (("latestOffset", "io"), ("walCommit", "streaming"),
                                 ("getBatch", "io"), ("queryPlanning", "catalyst"),
                                 ("addBatch", "streaming"),
                                 ("commitOffsets", "streaming")):
                dur = d.get(phase, 0) * 1000
                pid = f"{sid}:{phase}"
                spans.append({"id": pid, "parent": sid, "trace": sid,
                              "name": phase, "layer": layer,
                              "start_us": t, "end_us": min(t + dur, end)})
                if phase == "addBatch":
                    batch_phase[(query_ids[q], str(b["id"]))] = spans[-1]
                t += dur
    qid_trace = {}
    for j in tr["jobs"]:
        if not j.get("end_ms"):
            continue
        start, end = j["start_ms"] * 1000, j["end_ms"] * 1000
        parent = containing(start, by_trace.get(j["group"], []))
        if parent is None and j.get("stream_query"):
            parent = batch_phase.get((j["stream_query"], j["stream_batch"]))
        jid = f"job:{j['id']}"
        spans.append({"id": jid, "parent": parent["id"] if parent else 0,
                      "trace": parent["trace"] if parent else jid,
                      "name": "job", "layer": "exec", "start_us": start,
                      "end_us": end, "call_site": j["call_site"],
                      "caller": caller(j["call_site"], modules),
                      "in": parent["name"] if parent else ""})
        qid_trace[j["id"]] = spans[-1]
    stage_job = {}
    for j in tr["jobs"]:
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    for st in tr["stages"]:
        job = qid_trace.get(stage_job.get(st["id"]))
        if not st["complete_ms"] or job is None:
            continue
        spans.append({"id": f"stage:{st['id']}", "parent": job["id"],
                      "trace": job["trace"], "name": "stage", "layer": "exec",
                      "start_us": st["submit_ms"] * 1000,
                      "end_us": st["complete_ms"] * 1000,
                      "tasks": len(st["tasks"])})
    for i, ph in enumerate(tr["phases"]):
        start = ph["start_ms"] * 1000
        parent = containing(start, bench)
        spans.append({"id": f"phase:{i}", "parent": parent["id"] if parent else 0,
                      "trace": parent["trace"] if parent else f"phase:{i}",
                      "name": ph["phase"], "layer": "catalyst",
                      "start_us": start, "end_us": max(ph["end_ms"] * 1000, start)})
    st = metrics.self_times(spans)
    for s in spans:
        s["self_us"] = st[s["id"]]
    return spans


# ------------------------------------------------------- exec layer --

def exec_metrics(tr, windows, cores):
    """Job, stage and task figures over the given (start_us, end_us)
    windows, per window."""
    n = max(1, len(windows))
    inside = lambda t_us: any(a <= t_us <= b for a, b in windows)  # noqa: E731
    jobs = [j for j in tr["jobs"] if j.get("end_ms") and inside(j["start_ms"] * 1000)]
    job_iv = [metrics.clip((j["start_ms"] * 1000, j["end_ms"] * 1000), w)
              for j in jobs for w in windows]
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["id"] in stage_ids and s["tasks"]]
    tasks = [t for s in stages for t in s["tasks"]]
    task_iv = [metrics.clip((t[0] * 1000, t[1] * 1000), w)
               for t in tasks for w in windows]
    wall = sum(b - a for a, b in windows) / 1e6
    busy = metrics.union_length(job_iv) / 1e6
    skews = []
    for s in stages:
        d = [t[1] - t[0] for t in s["tasks"]]
        if len(d) >= 2 and statistics.median(d) > 0:
            skews.append(max(d) / statistics.median(d))
    run_s = sum(t[2] for t in tasks) / 1000
    mb = 1048576
    return {
        "exec.job_gap_s": (wall - busy) / n,
        "exec.sched_delay_s": (busy - metrics.union_length(task_iv) / 1e6) / n,
        "ops.checkpoints": sum(j["call_site"].startswith(CHECKPOINT_CALLS)
                               for j in jobs) / n,
        "exec.run_s": run_s / n,
        "exec.cpu_s": sum(t[3] for t in tasks) / 1e9 / n,
        "exec.core_use": run_s / (wall * cores) if wall else 0.0,
        "exec.jobs": len(jobs) / n,
        "exec.stages": len(stages) / n,
        "exec.tasks_per_stage": len(tasks) / len(stages) if stages else 0.0,
        "exec.shuffle_write_mb": sum(t[4] for t in tasks) / mb / n,
        "exec.shuffle_read_mb": sum(t[5] for t in tasks) / mb / n,
        "exec.spill_mb": sum(t[6] for t in tasks) / mb / n,
        "exec.task_skew": statistics.median(skews) if skews else 1.0,
        "io.input_mb": sum(t[7] for t in tasks) / mb / n,
        "io.scan_tasks": sum(1 for t in tasks if t[7] > 0) / n,
    }, jobs


def phase_ms(tr, windows, name):
    n = max(1, len(windows))
    return sum(p["end_ms"] - p["start_ms"] for p in tr["phases"]
               if p["phase"] == name and
               any(a <= p["start_ms"] * 1000 <= b for a, b in windows)) / n


def layer_self(spans, n):
    out = {f"self.{layer}_s": 0.0 for layer in
           ("bench", "io", "jobs", "catalyst", "exec", "streaming")}
    for s in spans:
        k = f"self.{s['layer']}_s"
        if k in out:
            out[k] += s["self_us"] / 1e6 / n
    return out


# ------------------------------------------------------------ batch --

def evaluate_batch(workload, w, r, data, run_dir, root, cores, traced):
    queries = w["queries"]
    gate = oracle.check(root, run_dir, data, queries)
    lines = []
    for q, g in gate.items():
        if not g["ok"]:
            lines.append(f"FAIL {q}: {g.get('why')}")
            for d in g.get("diffs", []):
                lines.append(f"  spark:  {d['spark']}")
                lines.append(f"  oracle: {d['oracle']}")
    for q, e in r["errors"].items():
        lines.append(f"ERROR {q}: {e}")
    attempted = failed = 0
    for p in r["passes"]:
        for x in p["queries"]:
            attempted += 1
            g = gate.get(x["query"], {})
            if not g.get("ok") or x["rows"] != g.get("rows"):
                failed += 1
    plain = [p for p in r["passes"] if not p["traced"]]
    lat = [(x["construct_s"] + x["action_s"]) * 1000
           for p in plain for x in p["queries"]]
    t = metrics.timing(lat, 0.9)
    e2e = {"setup_s": r["setup_s"],
           "pass_s": statistics.median(p["pass_s"] for p in plain),
           "latency_p50_ms": t["p50"], "latency_tail_ms": t["tail"],
           "retained_heap_mb": r["retained_heap_mb"]}
    lines.append(f"{workload}: {len(plain)} timed pass(es) of {len(queries)} "
                 f"queries; latency n={t['n']}, tail = p{round(t['tail_q'] * 100)}")
    for q in queries:
        times = [x["construct_s"] + x["action_s"] for p in plain
                 for x in p["queries"] if x["query"] == q]
        lines.append(f"  {q}: cold {r['cold_s'][q]:.3f} s, timed median "
                     f"{statistics.median(times):.3f} s, {gate[q].get('rows')} rows")
    layer, spans = {}, None
    if traced:
        modules = module_map(root)
        tp = [p for p in r["passes"] if p["traced"]]
        tr = r["trace"]
        windows = [(p["start_us"], p["end_us"]) for p in tp]
        n = len(tp)
        ex, jobs = exec_metrics(tr, windows, cores)
        layer.update(ex)
        construct = {(f"p{p['index']}:{x['query']}"):
                     (x["start_us"], x["start_us"] + x["construct_s"] * 1e6)
                     for p in tp for x in p["queries"]}
        cjobs = [j for j in jobs if j["group"] in construct and
                 construct[j["group"]][0] <= j["start_ms"] * 1000 <=
                 construct[j["group"]][1]]
        pass_traced = statistics.median(p["pass_s"] for p in tp)
        cs = sum(x["construct_s"] for p in tp for x in p["queries"]) / n
        layer.update({
            "jobs.construct_s": cs,
            "jobs.construct_jobs": len(cjobs) / n,
            "jobs.construct_share": cs / (sum(p["pass_s"] for p in tp) / n),
            "catalyst.analysis_ms": phase_ms(tr, windows, "analysis"),
            "catalyst.optimization_ms": phase_ms(tr, windows, "optimization"),
            "catalyst.planning_ms": phase_ms(tr, windows, "planning"),
            "ops.cached_peak_mb": max(p["cached_peak_mb"] for p in tp),
            "io.canary_s": statistics.median(p["canary_s"] for p in r["passes"]),
            "io.scan_s": statistics.median(sum(p["scan_s"].values())
                                           for p in r["passes"]),
            "trace.overhead": pass_traced / e2e["pass_s"] - 1,
        })
        per_q = collections.defaultdict(list)
        for p in plain:
            for x in p["queries"]:
                per_q[x["query"]].append(x["construct_s"] + x["action_s"])
        layer["ops.cold_warm_ratio"] = statistics.median(
            r["cold_s"][q] / statistics.median(v) for q, v in per_q.items())
        hit, miss = (int(x) for x in r["cf_memo"].split("/"))
        layer["ops.cf_memo_hit_ratio"] = hit / (hit + miss) if hit + miss else 0.0
        spans = build_spans(tr, modules)
        layer.update(layer_self([s for s in spans if _in_windows(s, windows)], n))
    return attempted, failed, e2e, layer, spans, lines


def _in_windows(s, windows):
    # table scans run just before their pass, so they count with it
    return any(a <= s["start_us"] <= b for a, b in windows) or \
        s["name"].startswith("scan:")


# ----------------------------------------------------------- stream --

def drain(r):
    """The backlog's drain time, as the median slice round times the number
    of slices (robust to one round a stall lengthened); the backlog's
    events; the untraced round times."""
    rounds = [x for d in r["drain"] if not d["traced"] for x in d["rounds_s"]]
    return (statistics.median(rounds) * r["slices"],
            sum(d["events"] for d in r["drain"]), rounds)


def evaluate_stream(r, ev, cores, traced, single_core, root):
    res, lat, bs = streamcheck.check(ev, r)
    lines = []
    attempted = sum(v["expected"] for v in res.values())
    failed = min(attempted, sum(v["wrong"] for v in res.values()))
    for q, v in res.items():
        if v["wrong"]:
            lines.append(f"FAIL {q}: {v['wrong']} of {v['expected']} rows differ")
            lines += [f"  {d}" for d in v["diffs"]]
    drain_s, events, rounds = drain(r)
    t = metrics.timing(lat or [float("nan")], 0.99)
    e2e = {"setup_s": r["setup_s"], "pass_s": drain_s,
           "latency_p50_ms": t["p50"], "latency_tail_ms": t["tail"],
           "retained_heap_mb": r["retained_heap_mb"]}
    lines.append(f"uba_stream: drained {events} events in {drain_s:.3f} s; "
                 f"latency n={t['n']}, tail = p{round(t['tail_q'] * 100)}")
    layer, spans = {}, None
    if traced:
        start, end = r["open_start_us"], r["open_end_us"]
        for q in STREAM_QUERIES:
            layer.update(stream_query_metrics(q, bs[q], r, start, end))
        layer["streaming.capacity_eps"] = events / drain_s
        if single_core:
            one_s, one_events, _ = drain(single_core)
            layer["streaming.capacity_eps_1core"] = one_events / one_s
        late = []
        for name, chunks in r["chunks"].items():
            due = ev[name]["due_us"]
            for _, lo, hi, sent in chunks:
                late += [(sent - start - due[i]) / 1000 for i in range(lo, hi)
                         if ev[name]["phase"][i] == 1]
        layer["bench.gen_late_ms_p99"] = metrics.percentile(late, 0.99) if late else 0.0
        layer["bench.offered_eps"] = len(late) / ((end - start) / 1e6)
        traced_drain = [d for d in r["drain"] if d["traced"]]
        traced_rounds = [x for d in traced_drain for x in d["rounds_s"]]
        layer["trace.overhead"] = (statistics.median(traced_rounds) /
                                   statistics.median(rounds) - 1)
        tr = r["trace"]
        windows = [(traced_drain[0]["start_us"], end)]
        ex, _ = exec_metrics(tr, windows, cores)
        layer.update(ex)
        for k in ("analysis", "optimization", "planning"):
            layer[f"catalyst.{k}_ms"] = phase_ms(tr, windows, k)
        spans = build_spans(tr, module_map(root), bs, r["query_ids"])
        layer.update(layer_self([s for s in spans if _in_windows(s, windows)], 1))
    return attempted, failed, e2e, layer, spans, lines


def stream_query_metrics(q, bs, r, start, end):
    """Per-query streaming figures from progress reports: medians over the
    batches committed during the open loop; state at its end."""
    open_bs = [b for b in bs if start <= b["commit_us"] <= end] or bs
    med = lambda f: statistics.median(f(b["p"]) for b in open_bs)  # noqa: E731
    last = open_bs[-1]["p"]
    ops = last.get("stateOperators", [])
    dropped = sum(o.get("numRowsDroppedByWatermark", 0)
                  for b in bs for o in b["p"].get("stateOperators", []))
    backlog = 0
    for entry in r["committed_at_open_end"].get(q, []):
        desc, off = entry.rsplit("=", 1)
        name = next(n for k, n in streamcheck.SOURCE_OF if k in desc)
        done = -1 if off in ("null", "") else int(off)
        sent = [c for c in r["chunks"][name] if c[3] <= end]
        backlog += sum(c[2] - c[1] for c in sent if c[0] > done)
    k = f"streaming.{q}."
    return {
        k + "batch_ms_p50": med(lambda p: p["durationMs"].get("triggerExecution", 0)),
        k + "add_batch_ms_p50": med(lambda p: p["durationMs"].get("addBatch", 0)),
        k + "planning_ms_p50": med(lambda p: p["durationMs"].get("queryPlanning", 0)),
        k + "wal_commit_ms_p50": med(lambda p: p["durationMs"].get("walCommit", 0)),
        k + "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        k + "state_mb": sum(o.get("memoryUsedBytes", 0) for o in ops) / 1048576,
        k + "state_commit_ms_p50": med(lambda p: sum(
            o.get("commitTimeMs", 0) for o in p.get("stateOperators", []))),
        k + "late_dropped": dropped,
        k + "backlog_end": backlog,
    }


def evaluate(workload, w, r, data, run_dir, root, cores, traced=False,
             single_core=None):
    if w["kind"] == "batch":
        attempted, failed, e2e, layer, spans, lines = evaluate_batch(
            workload, w, r, data, run_dir, root, cores, traced)
    else:
        import gen
        ev = gen.read_stream(data)
        attempted, failed, e2e, layer, spans, lines = evaluate_stream(
            r, ev, cores, traced, single_core, root)
    lines.append(f"error_rate = {failed}/{attempted} = "
                 f"{failed / max(1, attempted):.6f}")
    chosen = {k: layer.get(k, 0.0) for k in PER_LAYER} if traced else e2e
    units = PER_LAYER if traced else END_TO_END
    for k, v in chosen.items():
        lines.append(f"  {k} = {v:.6g} {units[k]}")
    return {"correct": failed == 0, "attempted": max(1, attempted),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in chosen.items()},
            "lines": lines, "spans": spans}
