"""Turns the JVM's raw measurements into the benchmark's metrics.

End-to-end metrics mean the same thing on every workload, in that
workload's unit of work: a pass is all ops once for the batch workloads,
and one event's trip from generator to sink commit for dwd_stream.
Per-layer metrics a workload does not exercise read 0."""
import collections

import os

import numpy as np
import pyarrow.parquet as pq

import stats

LATENCY_LIMIT_MS = 10000

# The dws_batch jobs (Batch.dwsOps).
APPS = sorted([
    "DwsTrafficSourceKeywordPageViewWindow",
    "DwsTrafficVcChArIsNewPageViewWindow", "DwsTrafficHomeDetailPageViewWindow",
    "DwsUserUserLoginWindow", "DwsUserUserRegisterWindow",
    "DwsTradeCartAddUuWindow", "DwsTradeSkuOrderWindow",
    "DwsTradeProvinceOrderWindow", "DwsTradeOrderWindow",
    "DwsTradePaymentSucWindow", "DwsTradeTrademarkCategoryUserRefundWindow"])

# name -> unit, in the order BENCHMARK.json lists them.
PER_LAYER = {
    "engine.plan_s": "s", "engine.exec_s": "s", "engine.jobs": "count",
    "engine.stages": "count", "engine.tasks": "count",
    "engine.exchanges": "count", "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes", "engine.spill_bytes": "bytes",
    "engine.gc_s": "s", "engine.task_skew": "ratio",
    "tables.scan_s": "s", "tables.rows_read": "count",
    "etl.self_s": "s", "etl.rows_in": "count", "etl.rows_out": "count",
    "etl.reject_ratio": "ratio",
    "splits.self_s": "s", "splits.rows_out": "count",
    "joins.self_s": "s", "joins.broadcasts": "count",
    "aggs.self_s": "s", "aggs.rows_out": "count",
    **{f"apps.{a}.s": "s" for a in APPS},
    "stream.trigger_ms": "ms", "stream.plan_ms": "ms",
    "stream.getbatch_ms": "ms", "stream.walcommit_ms": "ms",
    "stream.addbatch_ms": "ms", "stream.state_rows": "count",
    "stream.state_mb": "MB", "stream.rows_per_batch": "count",
    "stream.late_dropped": "count", "stream.backlog_rows": "count",
    "gen.lag_ms_max": "ms",
    "stream.lat_ms_p99.base": "ms", "stream.lat_ms_p50.peak": "ms",
    "stream.lat_ms_p99.peak": "ms",
    "sink.rows_written": "count", "sink.files_written": "count",
    "memo.builds.cold": "count", "memo.build_s.cold": "s",
    "memo.builds.warm": "count", "memo.cached_mb": "MB",
    "curation.dedup_s": "s", "curation.similarity_s": "s",
    "curation.clustering_s": "s", "curation.pipeline_s": "s",
    "trace.overhead_s": "s",
}

# A stream run is invalid, not slow, when the generator handed an event
# over this much later than it was due.
GEN_LAG_LIMIT_MS = 1000


class Summary:
    def __init__(self, end_to_end, layers, attempted, failed, valid=True,
                 ladder=None):
        self.end_to_end = end_to_end  # name -> (value, unit)
        self.per_layer = {k: (float(layers.get(k, 0.0)), u)
                          for k, u in PER_LAYER.items()}
        self.attempted, self.failed, self.valid = attempted, failed, valid
        self.ladder = ladder  # dwd_stream: latency and backlog per rung


def _descendants(spans, root_ids):
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out, todo = [], list(root_ids)
    while todo:
        for s in kids[todo.pop()]:
            out.append(s)
            todo.append(s["id"])
    return out


def _engine(spans, passes):
    """Engine counts per pass, summed over `spans`."""
    tot = collections.Counter()
    skews = []
    for s in spans:
        e = s["engine"]
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                  "shuffle_read_bytes", "spill_bytes", "gc_ms"):
            tot[k] += e.get(k, 0)
        skews += e.get("stage_skew", [])
    out = {f"engine.{k}": v / passes for k, v in tot.items() if k != "gc_ms"}
    out["engine.gc_s"] = tot["gc_ms"] / 1000.0 / passes
    out["engine.task_skew"] = float(np.mean(skews)) if skews else 1.0
    return out


def batch(result, traced):
    passes = result["passes"]
    cold_s = [p["s"] for p in passes if p["phase"] == "cold"]
    warm_s = [p["s"] for p in passes if p["phase"] == "warm"]
    execs = [o for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in execs)
    warm_pass_s = stats.median(warm_s)
    e2e = {
        "cold_pass_s": (stats.median(cold_s), "s"),
        "warm_pass_s": (warm_pass_s, "s"),
        "ops_per_s": (len(result["ops"]) / warm_pass_s, "1/s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
    }
    layers = {}
    if traced:
        layers = _batch_layers(result, warm_s)
    return Summary(e2e, layers, len(execs), failed)


def _batch_layers(result, warm_s):
    spans = result["spans"]
    own = stats.self_times(spans)
    by_name = collections.defaultdict(list)
    for s in spans:
        by_name[s["name"]].append(s)
    traced_roots = [s["id"] for s in by_name["pass.traced"]]
    n = max(1, len(traced_roots))
    in_traced = _descendants(spans, traced_roots)
    plans = [s for s in in_traced if s["name"] == "engine.plan"]
    ops = [s for s in in_traced if s["layer"] in ("apps", "curation")]
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9  # noqa: E731
    plan_s = sum(dur(s) for s in plans)
    out = _engine(in_traced, n)
    out["engine.plan_s"] = plan_s / n
    out["engine.exec_s"] = (sum(dur(s) for s in ops) - plan_s) / n
    out["engine.exchanges"] = sum(s["attrs"].get("exchanges", 0) for s in plans) / n
    if result["workload"] == "dws_batch":
        for a in APPS:
            xs = [dur(s) for s in ops if s["name"] == f"apps.{a}"]
            out[f"apps.{a}.s"] = stats.median(xs) if xs else 0.0
    # Per cold pass, the time of the queries entering each curation
    # module; the median over the cold passes.
    fam = result.get("families", {})
    per_fam = collections.defaultdict(list)
    for root in by_name["pass.cold"]:
        tot = collections.Counter()
        for s in _descendants(spans, [root["id"]]):
            f = fam.get(s["name"].split(".", 1)[-1])
            if f and s["layer"] == "curation":
                tot[f] += dur(s)
        for f, v in tot.items():
            per_fam[f].append(v)
    for f, vs in per_fam.items():
        out[f"curation.{f}_s"] = stats.median(vs)
    ladder = _descendants(spans, [s["id"] for s in by_name["pass.ladder"]])
    for lay in ("tables", "etl", "splits", "joins", "aggs"):
        mine = [s for s in ladder if s["layer"] == lay]
        if not mine:
            continue
        out[f"{lay}.self_s"] = sum(own[s["id"]] for s in mine) / 1e9
        out[f"{lay}.rows_out"] = sum(s["attrs"].get("rows_out", 0) for s in mine)
    tables = [s for s in ladder if s["layer"] == "tables"]
    out["tables.scan_s"] = sum(dur(s) for s in tables)
    out["tables.rows_read"] = sum(s["engine"].get("records_read", 0) for s in tables)
    rej = [s for s in ladder if s["name"] == "etl.rejects"]
    if rej:
        rows_in = rej[0]["attrs"]["rows_in"]
        out["etl.rows_in"] = rows_in
        out["etl.reject_ratio"] = rej[0]["attrs"]["rejects"] / max(1, rows_in)
    out["joins.broadcasts"] = sum(
        c["attrs"].get("broadcasts", 0) for c in ladder
        if c["name"] == "engine.plan"
        and any(p["id"] == c["parent"] and p["layer"] == "joins" for p in ladder))
    cold = [p for p in result["passes"] if p["phase"] == "cold"]
    out["memo.builds.cold"] = stats.median([len(p["memo"]) for p in cold])
    out["memo.build_s.cold"] = stats.median(
        [sum(b["s"] for b in p["memo"]) for p in cold])
    out["memo.builds.warm"] = sum(len(p["memo"]) for p in result["passes"]
                                  if p["phase"] in ("warmup", "warm", "traced"))
    out["memo.cached_mb"] = result["cached_mb"]
    traced_s = [p["s"] for p in result["passes"] if p["phase"] == "traced"]
    out["trace.overhead_s"] = sum(traced_s) / len(traced_s) - sum(warm_s) / len(warm_s)
    return out


def _latencies(result):
    """Per rung: (due times ms, completion times ms) of its events; an event
    completes when the last of the queries has committed the micro-batch
    that consumed it."""
    commits = collections.defaultdict(list)
    for p in result["progress"]:
        if p["end_offset"] >= 0:
            commits[p["query"]].append((p["batch"], p["end_offset"], p["commit_ms"]))
    arrays = []
    for q in result["queries"]:
        c = sorted(commits[q])
        arrays.append((np.array([x[1] for x in c]), np.array([x[2] for x in c], float)))
    rungs = {r["name"]: r for r in result["rungs"]}
    per = collections.defaultdict(lambda: ([], []))
    for ch in result["chunks"]:
        r = rungs[ch["rung"]]
        done = max(cm[min(np.searchsorted(off, ch["offset"]), len(cm) - 1)]
                   for off, cm in arrays)
        idx = np.arange(ch["first"], ch["first"] + ch["count"])
        per[ch["rung"]][0].append(r["start_ms"] + idx * 1000.0 / r["rate"])
        per[ch["rung"]][1].append(np.full(len(idx), done))
    return {k: (np.concatenate(d), np.concatenate(c)) for k, (d, c) in per.items()}


def _rung_stats(rung, due, done):
    order = np.argsort(due, kind="stable")
    lat = (done - due)[order]

    def pct(q):
        try:
            return float(stats.percentile(lat, q))
        except ValueError:
            return None
    # events due but not yet committed, sampled every 50 ms of the rung
    start = rung["start_ms"]
    grid = np.arange(start, start + rung["emit_s"] * 1000.0, 50.0)
    backlog = (np.searchsorted(np.sort(due), grid, side="right")
               - np.searchsorted(np.sort(done), grid, side="right"))
    return {"rate": rung["rate"], "p50_ms": pct(0.5), "p99_ms": pct(0.99),
            "grows": bool(stats.backlog_grows(list(lat))),
            "backlog_max": int(backlog.max()) if len(backlog) else 0,
            "events": len(due)}


def stream(result, traced):
    lat = _latencies(result)
    rungs = {r["name"]: r for r in result["rungs"]}
    ladder = [n for n in rungs if n not in ("warmup", "base_untraced")]
    rs = {n: _rung_stats(rungs[n], *lat[n]) for n in ladder}
    best = stats.sustained([rs[n] for n in ladder], LATENCY_LIMIT_MS)
    best_name = next((n for n in ladder if rs[n] is best), None)
    # the rate the generator actually held on the highest sustained rung
    sustained_eps = 0.0 if best_name is None else \
        rs[best_name]["events"] / rungs[best_name]["emit_s"]
    first_commit = max(min(p["commit_ms"] for p in result["progress"]
                           if p["query"] == q and p["end_offset"] >= 0)
                       for q in result["queries"])
    base_lat = lat["base"][1] - lat["base"][0]
    e2e = {
        "cold_pass_s": ((first_commit - result["start_ms"]) / 1000.0, "s"),
        "warm_pass_s": (float(np.median(base_lat)) / 1000.0, "s"),
        "ops_per_s": (sustained_eps, "1/s"),
        "heap_peak_mb": (result["heap_peak_mb"], "MB"),
    }
    lag = _gen_lag_ms_max(result, ladder)
    valid = lag <= GEN_LAG_LIMIT_MS
    layers = _stream_layers(result, rs, rungs) if traced else {}
    layers["gen.lag_ms_max"] = lag
    return Summary(e2e, layers, result["delivered"], 0, valid, rs)


def sink_tables(result):
    """The committed contents of the three stream sinks."""
    check = result["outputs"]["check"]
    return {s: pq.read_table(os.path.join(check, s)) for s in ("window", "dim", "uu")}


def final_watermark_ms(result):
    """The watermark of the window query's last micro-batch."""
    last = max((p for p in result["progress"] if p["query"] == "dws_window"),
               key=lambda p: p["batch"])
    return last["watermark_ms"]


def _gen_lag_ms_max(result, rungs):
    """How late the generator handed over the most overdue event of the
    measured rungs (the warm-up's first hand-overs pay class loading)."""
    return max(c["lag_ms"] for c in result["chunks"] if c["rung"] in rungs)


def _in_rung(p, rung):
    start = rung["start_ms"]
    return start <= p["start_ms"] < start + rung["emit_s"] * 1000.0


def _stream_layers(result, rs, rungs):
    prog = result["progress"]
    base = [p for p in prog if _in_rung(p, rungs["base"])]
    peak = [p for p in prog if _in_rung(p, rungs["peak"])]
    med = lambda xs: float(np.median(xs)) if xs else 0.0  # noqa: E731
    dur = lambda ps, k: med([p["durations"].get(k, 0) for p in ps])  # noqa: E731
    out = {
        "stream.trigger_ms": dur(base, "triggerExecution"),
        "stream.plan_ms": dur(base, "queryPlanning"),
        "stream.getbatch_ms": dur(base, "getBatch"),
        "stream.walcommit_ms": dur(base, "walCommit"),
        "stream.addbatch_ms": dur(peak, "addBatch"),
        "stream.rows_per_batch": med([p["rows"] for p in peak]),
        "stream.late_dropped": sum(p["late_dropped"] for p in prog),
        "stream.backlog_rows": rs["peak"]["backlog_max"],
        "stream.lat_ms_p99.base": rs["base"]["p99_ms"] or 0.0,
        "stream.lat_ms_p50.peak": rs["peak"]["p50_ms"] or 0.0,
        "stream.lat_ms_p99.peak": rs["peak"]["p99_ms"] or 0.0,
        "sink.files_written": result["sink_files"],
        "sink.rows_written": sum(t.num_rows for t in sink_tables(result).values()),
    }
    per_q = collections.defaultdict(lambda: (0, 0))
    for p in prog:
        r, b = per_q[p["query"]]
        per_q[p["query"]] = (max(r, p["state_rows"]), max(b, p["state_bytes"]))
    out["stream.state_rows"] = sum(r for r, _ in per_q.values())
    out["stream.state_mb"] = sum(b for _, b in per_q.values()) / 2**20
    batches = max(1, len(prog))
    e = result["engine_unattributed"]
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes"):
        out[f"engine.{k}"] = e.get(k, 0) / batches
    out["engine.gc_s"] = e.get("gc_ms", 0) / 1000.0 / batches
    out["engine.task_skew"] = float(np.mean(e["stage_skew"])) if e.get("stage_skew") else 1.0
    out["engine.plan_s"] = med([p["durations"].get("queryPlanning", 0) for p in prog]) / 1000.0
    out["engine.exec_s"] = med([p["durations"].get("addBatch", 0) for p in prog]) / 1000.0
    if "base_untraced" in rungs:
        un = [p for p in prog if _in_rung(p, rungs["base_untraced"])]
        out["trace.overhead_s"] = (dur(base, "triggerExecution")
                                   - dur(un, "triggerExecution")) / 1000.0
    return out
