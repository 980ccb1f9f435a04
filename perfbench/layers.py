"""Per-layer metrics and spans of a traced run.

The harness records raw listener events (jobs, stages with their task
sums, plan phases, streaming progress) and the wall-clock span of every
query call. Here each event is attributed to the call that was running
when it started: the loop has one client, so exactly one call runs at a
time. Layers are named by the repo module they measure.

Span tree: call -> build | materialize -> [micro-batch ->] job -> stage.
A call's driver gap is its wall time not covered by the union of its
jobs, so job time plus driver gap is the call's wall time; per round,
build plus materialize time is the traced round time.
Jobs whose description is a fold step label (``cfold:*`` / ``mfold:*``)
belong to the ``state`` layer, other jobs and stages to ``spark``.
"""
import statistics
from datetime import datetime

FOLD_PREFIXES = ("cfold:", "mfold:")
MB = 1e6

# (name, unit, better) of every per-layer metric, in print order
METRICS = [
    ("queries.build_s", "s", "lower"), ("queries.materialize_s", "s", "lower"),
    ("queries.self_s", "s", "lower"),
    ("plans.analysis_ms", "ms", "lower"), ("plans.optimizer_ms", "ms", "lower"),
    ("plans.planning_ms", "ms", "lower"), ("plans.graft_rules_ms", "ms", "lower"),
    ("spark.jobs", "count", "lower"), ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"), ("spark.task_failures", "count", "lower"),
    ("spark.job_s", "s", "lower"), ("spark.driver_gap_s", "s", "lower"),
    ("spark.task_run_s", "s", "lower"), ("spark.task_cpu_s", "s", "lower"),
    ("spark.task_gc_s", "s", "lower"), ("spark.task_wait_s", "s", "lower"),
    ("spark.slot_busy_frac", "fraction", "higher"), ("spark.task_skew", "ratio", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"), ("spark.shuffle_read_mb", "MB", "lower"),
    ("spark.shuffle_fetch_wait_s", "s", "lower"), ("spark.spill_mb", "MB", "lower"),
    ("spark.job_self_s", "s", "lower"), ("spark.stage_self_s", "s", "lower"),
    ("sources.input_mb", "MB", "lower"), ("sources.input_rows", "count", "lower"),
    ("sources.output_mb", "MB", "lower"),
    ("streaming.batches", "count", "lower"), ("streaming.empty_batch_frac", "fraction", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"), ("streaming.batch_ms_p90", "ms", "lower"),
    ("streaming.add_batch_ms", "ms", "lower"), ("streaming.query_planning_ms", "ms", "lower"),
    ("streaming.wal_commit_ms", "ms", "lower"), ("streaming.commit_offsets_ms", "ms", "lower"),
    ("streaming.latest_offset_ms", "ms", "lower"), ("streaming.other_ms", "ms", "lower"),
    ("streaming.state_rows", "count", "lower"), ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_mem_mb", "MB", "lower"), ("streaming.drain_overhead_s", "s", "lower"),
    ("streaming.self_s", "s", "lower"),
    ("state.fold_jobs", "count", "lower"), ("state.cfold_s", "s", "lower"),
    ("state.mfold_s", "s", "lower"), ("state.fold_driver_s", "s", "lower"),
    ("state.write_mb", "MB", "lower"), ("state.write_amp", "ratio", "lower"),
    ("state.serve_read_mb", "MB", "lower"), ("state.left_mb", "MB", "lower"),
    ("state.self_s", "s", "lower"),
    ("host.steal_frac", "fraction", "lower"), ("host.process_cpu_s", "s", "lower"),
    ("host.jvm_gc_s", "s", "lower"),
    ("host.disk_write_mb", "MB", "lower"), ("host.peak_rss_mb", "MB", "lower"),
    ("host.calibration_s", "s", "lower"),
    ("trace.round_s", "s", "lower"), ("trace.untraced_round_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
]


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [a, b) intervals, clipped to [lo, hi)."""
    spans = sorted((max(a, lo) if lo is not None else a, min(b, hi) if hi is not None else b)
                   for a, b in intervals)
    total, cur_a, cur_b = 0, None, None
    for a, b in spans:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _epoch_ms(iso):
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _pct(values, q):
    if not values:
        return 0.0
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))]


class Call:
    def __init__(self, rec):
        self.rec = rec
        self.start = float(rec["start_ms"])
        self.mid = self.start + rec["build_s"] * 1000.0
        self.end = self.mid + rec["materialize_s"] * 1000.0
        self.jobs, self.plans, self.batches = [], [], []


def _attribute(calls, items, start_of):
    """Pairs (call, item), each item given to the call running when it
    started, and the number of items that started outside every call."""
    pairs = []
    for it in items:
        t = start_of(it)
        owner = [c for c in calls if c.start <= t + 1 and t <= c.end + 1]
        if owner:
            pairs.append((owner[-1], it))
    return pairs, len(items) - len(pairs)


def analyze(res):
    """(metrics {name: value}, per-round values, spans, checks)."""
    tr = res["trace"]
    cores = res["cores"]
    calls = [Call(c) for c in res["calls"] if c["traced"]]
    calls.sort(key=lambda c: c.start)
    stages = {}
    for s in tr["stages"]:
        stages.setdefault(s["job"], []).append(s)
    jobs, lost_jobs = _attribute(calls, tr["jobs"], lambda j: j["start"])
    for c, j in jobs:
        j["phase"] = "build" if j["start"] < c.mid else "materialize"
        j["fold"] = j["desc"].startswith(FOLD_PREFIXES)
        c.jobs.append(j)
    plans, lost_plans = _attribute(calls, tr["plans"], lambda p: p["start"])
    for c, p in plans:
        c.plans.append(p)
    progress = [dict(p, _t=_epoch_ms(p["timestamp"])) for p in tr["progress"]]
    batches, lost_batches = _attribute(calls, progress, lambda p: p["_t"])
    for c, p in batches:
        c.batches.append(p)

    spans, self_ms = [], {}
    per_call = []
    for c in calls:
        per_call.append(_call_values(c, stages))
        _spans(c, stages, spans, self_ms)

    rounds = sorted({c.rec["round"] for c in calls})
    per_round = []
    for r in rounds:
        vals = [v for c, v in zip(calls, per_call) if c.rec["round"] == r]
        row = {}
        for k in vals[0]:
            if k.startswith("_"):
                continue
            row[k] = sum(v[k] for v in vals)
        row["spark.task_skew"] = max(v["spark.task_skew"] for v in vals)
        row["streaming.state_mem_mb"] = max(v["streaming.state_mem_mb"] for v in vals)
        job_s = row["spark.job_s"]
        row["spark.slot_busy_frac"] = row["spark.task_run_s"] / (cores * job_s) if job_s else 0.0
        n_batches = row["streaming.batches"]
        row["streaming.empty_batch_frac"] = (
            sum(v["_empty"] for v in vals) / n_batches if n_batches else 0.0)
        trig = [t for v in vals for t in v["_trigger_ms"]]
        row["streaming.batch_ms_p50"] = _pct(trig, 0.5)
        row["streaming.batch_ms_p90"] = _pct(trig, 0.9)
        fold_in = sum(v["_fold_in_mb"] for v in vals)
        row["state.write_amp"] = row["state.write_mb"] / fold_in if fold_in else 0.0
        for layer, ms in self_ms.get(r, {}).items():
            row[layer] = ms / 1000.0
        rmeta = next(x for x in res["rounds"] if x["round"] == r)
        row["host.jvm_gc_s"] = rmeta["gc_s"]
        row["host.disk_write_mb"] = rmeta["disk_write_bytes"] / MB
        # bytes the round leaves under the run's private tmpdir
        row["state.left_mb"] = (rmeta["tmp_bytes_after"] - rmeta["tmp_bytes_before"]) / MB
        row["trace.round_s"] = row["queries.build_s"] + row["queries.materialize_s"]
        per_round.append(row)

    def med(k):
        return statistics.median(r.get(k, 0.0) for r in per_round) if per_round else 0.0

    untraced = {}
    for c in res["calls"]:
        if not c["traced"]:
            untraced.setdefault(c["round"], 0.0)
            untraced[c["round"]] += c["build_s"] + c["materialize_s"]
    metrics = {name: med(name) for name, _, _ in METRICS}
    metrics["host.steal_frac"] = res["host"]["steal_frac"]
    metrics["host.peak_rss_mb"] = res["host"]["vm_hwm_kb"] / 1024.0
    metrics["host.calibration_s"] = res["host"]["calibration_s"]
    metrics["trace.untraced_round_s"] = (
        statistics.median(untraced.values()) if untraced else 0.0)
    metrics["trace.overhead_s"] = metrics["trace.round_s"] - metrics["trace.untraced_round_s"]
    checks = {"calls": len(calls), "unattributed_events": lost_jobs + lost_plans + lost_batches}
    return metrics, per_round, spans, checks


def _call_values(c, stages):
    wall_ms = c.end - c.start
    v = {}
    jst = [s for j in c.jobs for s in stages.get(j["id"], [])]
    job_ms = union_ms([(j["start"], j["end"]) for j in c.jobs], c.start, c.end)
    v["queries.build_s"] = c.rec["build_s"]
    v["queries.materialize_s"] = c.rec["materialize_s"]
    v["host.process_cpu_s"] = c.rec["cpu_s"]
    v["plans.analysis_ms"] = sum(p["analysis_ms"] for p in c.plans)
    v["plans.optimizer_ms"] = sum(p["optimizer_ms"] for p in c.plans)
    v["plans.planning_ms"] = sum(p["planning_ms"] for p in c.plans)
    v["plans.graft_rules_ms"] = sum(p["graft_rules_ns"] for p in c.plans) / 1e6
    v["spark.jobs"] = len(c.jobs)
    v["spark.stages"] = len(jst)
    v["spark.tasks"] = sum(s["tasks"] for s in jst)
    v["spark.task_failures"] = sum(s["failures"] for s in jst)
    v["spark.job_s"] = job_ms / 1000.0
    v["spark.driver_gap_s"] = (wall_ms - job_ms) / 1000.0
    v["spark.task_run_s"] = sum(s["run_ms"] for s in jst) / 1000.0
    v["spark.task_cpu_s"] = sum(s["cpu_ns"] for s in jst) / 1e9
    v["spark.task_gc_s"] = sum(s["gc_ms"] for s in jst) / 1000.0
    v["spark.task_wait_s"] = sum(s["wait_ms"] for s in jst) / 1000.0
    v["spark.task_skew"] = max((s["skew"] for s in jst if s["tasks"] > 1), default=1.0)
    v["spark.shuffle_write_mb"] = sum(s["shuffle_write"] for s in jst) / MB
    v["spark.shuffle_read_mb"] = sum(s["shuffle_read"] for s in jst) / MB
    v["spark.shuffle_fetch_wait_s"] = sum(s["fetch_wait_ms"] for s in jst) / 1000.0
    v["spark.spill_mb"] = sum(s["spill"] for s in jst) / MB
    v["sources.input_mb"] = sum(s["in_bytes"] for s in jst) / MB
    v["sources.input_rows"] = sum(s["in_rows"] for s in jst)
    v["sources.output_mb"] = sum(s["out_bytes"] for s in jst) / MB

    dur = [b.get("durationMs", {}) for b in c.batches]
    trig = [d.get("triggerExecution", 0) for d in dur]
    v["_trigger_ms"] = trig
    v["_empty"] = sum(1 for b in c.batches if b.get("numInputRows", 0) == 0)
    v["streaming.batches"] = len(c.batches)
    v["streaming.add_batch_ms"] = sum(d.get("addBatch", 0) for d in dur)
    v["streaming.query_planning_ms"] = sum(d.get("queryPlanning", 0) for d in dur)
    v["streaming.wal_commit_ms"] = sum(d.get("walCommit", 0) for d in dur)
    v["streaming.commit_offsets_ms"] = sum(d.get("commitOffsets", 0) for d in dur)
    v["streaming.latest_offset_ms"] = sum(d.get("latestOffset", 0) for d in dur)
    v["streaming.other_ms"] = sum(
        d.get("triggerExecution", 0) - sum(x for k, x in d.items() if k != "triggerExecution")
        for d in dur)
    ops = [b.get("stateOperators", []) for b in c.batches]
    v["streaming.state_rows"] = max((sum(o.get("numRowsTotal", 0) for o in op) for op in ops),
                                    default=0)
    v["streaming.state_commit_ms"] = sum(o.get("commitTimeMs", 0) for op in ops for o in op)
    v["streaming.state_mem_mb"] = max(
        (sum(o.get("memoryUsedBytes", 0) for o in op) for op in ops), default=0) / MB
    v["streaming.drain_overhead_s"] = (
        c.rec["build_s"] - sum(trig) / 1000.0 if c.batches else 0.0)

    fold = [j for j in c.jobs if j["fold"]]
    fst = [s for j in fold for s in stages.get(j["id"], [])]
    fold_ms = union_ms([(j["start"], j["end"]) for j in fold], c.start, c.end)
    v["state.fold_jobs"] = len(fold)
    v["state.cfold_s"] = union_ms([(j["start"], j["end"]) for j in fold
                                   if j["desc"].startswith("cfold:")], c.start, c.end) / 1000.0
    v["state.mfold_s"] = union_ms([(j["start"], j["end"]) for j in fold
                                   if j["desc"].startswith("mfold:")], c.start, c.end) / 1000.0
    v["state.fold_driver_s"] = (
        (v["streaming.add_batch_ms"] - fold_ms) / 1000.0 if fold else 0.0)
    v["state.write_mb"] = sum(s["out_bytes"] for s in fst) / MB
    v["_fold_in_mb"] = sum(s["in_bytes"] for s in fst) / MB
    v["state.serve_read_mb"] = (sum(
        s["in_bytes"] for j in c.jobs if j["phase"] == "materialize"
        for s in stages.get(j["id"], [])) / MB if fold else 0.0)
    return v


def _spans(c, stages, spans, self_ms):
    """Append the call's span tree and add each layer's self time."""
    rnd = c.rec["round"]
    tid = f"{c.rec['query']}#{rnd}"

    def span(name, layer, a, b, parent):
        spans.append({"trace": tid, "id": len(spans), "parent": parent, "name": name,
                      "layer": layer, "start_ms": a, "end_ms": b})
        return len(spans) - 1

    root = span(c.rec["query"], "queries", c.start, c.end, None)
    phases = {"build": span("build", "queries", c.start, c.mid, root),
              "materialize": span("materialize", "queries", c.mid, c.end, root)}
    batch_ids = []
    for b in c.batches:
        a = b["_t"]
        e = a + b.get("durationMs", {}).get("triggerExecution", 0)
        batch_ids.append((a, e, span(f"batch {b.get('batchId')}", "streaming", a, e,
                                     phases["build"])))
    for j in c.jobs:
        parent = phases[j["phase"]]
        for a, e, sid in batch_ids:
            if a <= j["start"] <= e:
                parent = sid
        name = j["desc"] if j["fold"] else f"job {j['id']}"
        jid = span(name, "state" if j["fold"] else "spark.job", j["start"], j["end"], parent)
        for s in stages.get(j["id"], []):
            span(f"stage {s['id']}", "spark.stage", s["submit"], s["complete"], jid)

    mine = [s for s in spans if s["trace"] == tid]
    children = {}
    for s in mine:
        children.setdefault(s["parent"], []).append(s)
    key = {"queries": "queries.self_s", "streaming": "streaming.self_s", "state": "state.self_s",
           "spark.job": "spark.job_self_s", "spark.stage": "spark.stage_self_s"}
    acc = self_ms.setdefault(rnd, {})
    for s in mine:
        kids = [(k["start_ms"], k["end_ms"]) for k in children.get(s["id"], [])]
        own = (s["end_ms"] - s["start_ms"]) - union_ms(kids, s["start_ms"], s["end_ms"])
        acc[key[s["layer"]]] = acc.get(key[s["layer"]], 0.0) + max(0.0, own)
    for k in key.values():
        acc.setdefault(k, 0.0)
