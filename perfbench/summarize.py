"""Turns one run's raw.json (written by graftbench.Main) into the
benchmark's end-to-end and per-layer metrics, the correctness verdict,
and the layer split that goes into the run's artifact.
"""
import json
import math
import os

import stats
from paths import ROOT

STREAM_LIMIT_MS = 1000.0   # half the dashboard's 2 s poll
SERVE_LIMIT_MS = 100.0
REPLAY_ROWS = 146626
SETUPS = 3
# The tail percentile each part aims for; stats.latency falls back to
# the highest one with at least 10 samples beyond it and says which.
TAIL_P = {"catalog": 95.0, "stream": 95.0, "serve": 99.0}

# What BENCHMARK.json bounds: the same three figures for every workload.
#   latency_p50_ms  catalog: one query (build + plan + materialize);
#                   live: a message at 1,100 msg/s, from its due time to
#                   the end of the foreachBatch call that counted it.
#   bulk_s          catalog: one pass over the query set (median over
#                   the measured passes); live: the epoch-0 replay
#                   trigger (median of three).
# The recommender part of live is reported through `named` figures.
# Names and units come from BENCHMARK.json itself.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}

PROGRESS_PHASES = {
    "latestOffset": "stream.phase.latest_offset_ms",
    "getBatch": "stream.phase.get_batch_ms",
    "queryPlanning": "stream.phase.query_planning_ms",
    "addBatch": "stream.phase.add_batch_ms",
    "walCommit": "stream.phase.wal_commit_ms",
    "commitOffsets": "stream.phase.commit_offsets_ms",
}


def _val(value, unit, n, percentile=None):
    out = {"value": value, "unit": unit, "n": n}
    if percentile is not None:
        out["percentile"] = percentile
    return out


def _tail(summary):
    """The tail a latency summary allowed, named by its percentile."""
    return _val(summary["tail"], "ms", summary["n"], summary["tail_p"])


def _med(values, default=0.0):
    return stats.median(values) if values else default


def _setup(raw, e2e, layer):
    setups = raw["setups"]
    e2e["setup_s"] = stats.median([s["total_ms"] for s in setups]) / 1000.0
    for key in ("session_ms", "warmup_ms", "layout_ms", "model_ms", "stream_start_ms"):
        layer["setup." + key] = stats.median([s.get(key, 0.0) for s in setups])


class Spark:
    """Job and task records of a traced run, indexed for attribution by
    time window."""

    def __init__(self, raw):
        self.jobs = [dict(id=j[0], start=j[1], end=j[2], site=j[3], streaming=j[4],
                          ok=j[5], stages=j[6]) for j in raw.get("jobs", [])]
        self.tasks = [dict(stage=t[0], launch=t[1], finish=t[2], run=t[3],
                           cpu=t[4] / 1e6, sread=t[5], swrite=t[6], spill=t[7],
                           peak=t[8], gc=t[9]) for t in raw.get("tasks", [])]
        self.stage_job = {s: j["id"] for j in self.jobs for s in j["stages"]}

    def jobs_in(self, lo, hi):
        return [j for j in self.jobs if lo <= j["start"] < hi]

    def tasks_of(self, jobs):
        ids = {j["id"] for j in jobs}
        return [t for t in self.tasks if self.stage_job.get(t["stage"]) in ids]


def _trace_overhead(raw, measured_ms):
    return 100.0 * raw.get("trace_overhead_ms", 0.0) / max(measured_ms, 1e-9)


def catalog(raw, result):
    e2e, layer, split, detail = {}, {}, {}, {}
    _setup(raw, e2e, layer)
    # Passes of the warm-in are checked but not measured.
    passes = [p for p in raw["passes"] if p["measured"]]
    measured_passes = {p["pass"] for p in passes}
    all_execs = raw["execs"]
    execs = [dict(pass_=x[0], name=x[1], start=x[2], built=x[3], planned=x[4],
                  end=x[5], rows=x[6], ok=x[7]) for x in all_execs if x[0] in measured_passes]
    lat = [x["end"] - x["start"] for x in execs]
    summary = stats.latency(lat, TAIL_P["catalog"])
    e2e["latency_p50_ms"] = summary["p50"]
    per_query = {}
    for x in execs:
        per_query.setdefault(x["name"], []).append(x["end"] - x["start"])
    # One pass over the query set: the median wall time of the measured
    # passes, each of which runs every query once.
    pass_ms = [p["end"] - p["start"] for p in passes]
    e2e["bulk_s"] = stats.median(pass_ms) / 1000.0 if pass_ms else None
    named = {"catalog.pass_s": _val(e2e["bulk_s"], "s", len(passes)),
             "catalog.query_p50_ms": _val(summary["p50"], "ms", summary["n"], 50.0),
             "catalog.query_tail_ms": _tail(summary)}
    detail.update({"catalog.measured_passes": len(passes),
                   "catalog.warm_in_pass_ms": [p["end"] - p["start"] for p in raw["passes"]
                                               if not p["measured"]],
                   "catalog.pass_ms": pass_ms,
                   "catalog.query_median_ms": {q: stats.median(v) for q, v in per_query.items()}})

    # Per-pass sums of each layer, median over the measured passes.
    def per_pass(fn):
        vals = []
        for p in passes:
            xs = [x for x in execs if x["pass_"] == p["pass"]]
            vals.append(fn(p, xs))
        return _med(vals)

    layer["catalog.build_ms"] = per_pass(lambda p, xs: sum(x["built"] - x["start"] for x in xs))
    layer["catalog.plan_ms"] = per_pass(lambda p, xs: sum(x["planned"] - x["built"] for x in xs))
    layer["catalog.exec_ms"] = per_pass(lambda p, xs: sum(x["end"] - x["planned"] for x in xs))
    layer["catalog.result_rows"] = per_pass(lambda p, xs: sum(x["rows"] for x in xs))
    split = {
        "pass_ms": _med(pass_ms),
        "build_ms": layer["catalog.build_ms"], "plan_ms": layer["catalog.plan_ms"],
        "exec_ms": layer["catalog.exec_ms"],
    }
    split["unattributed_ms"] = split["pass_ms"] - split["build_ms"] - split["plan_ms"] - split["exec_ms"]
    if raw["trace"]:
        sp = Spark(raw)
        cores = result["nproc"]

        def spark_layer(p, xs, key):
            build_jobs = [j for x in xs for j in sp.jobs_in(x["start"], x["built"])]
            plan_jobs = [j for x in xs for j in sp.jobs_in(x["built"], x["planned"])]
            exec_jobs = [j for x in xs for j in sp.jobs_in(x["planned"], x["end"] + 1)]
            all_jobs = build_jobs + plan_jobs + exec_jobs
            tasks = sp.tasks_of(all_jobs)
            if key == "eager_jobs":
                return len(build_jobs) + len(plan_jobs)
            if key == "final_jobs":
                return len(exec_jobs)
            if key == "stages":
                return sum(len(j["stages"]) for j in all_jobs)
            if key == "tasks":
                return len(tasks)
            if key == "driver_only_ms":
                return sum((x["end"] - x["start"]) - stats.union_ms(
                    [(t["launch"], t["finish"]) for t in tasks], x["start"], x["end"])
                    for x in xs)
            if key == "peak_exec_mem_bytes":
                return max([t["peak"] for t in tasks], default=0)
            field = {"task_run_ms": "run", "task_cpu_ms": "cpu", "gc_ms": "gc",
                     "shuffle_read_bytes": "sread", "shuffle_write_bytes": "swrite",
                     "spill_bytes": "spill"}[key]
            return sum(t[field] for t in tasks)

        for key in ("eager_jobs", "final_jobs", "stages", "tasks", "driver_only_ms",
                    "task_run_ms", "task_cpu_ms", "gc_ms", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes", "peak_exec_mem_bytes"):
            layer["catalog." + key] = per_pass(lambda p, xs, k=key: spark_layer(p, xs, k))
        wall = split["pass_ms"]
        layer["catalog.core_util"] = layer["catalog.task_run_ms"] / (wall * cores) if wall else 0.0
        before, after = raw["jvm_before"], raw["jvm_after"]
        n_pass = max(1, len(passes))
        layer["catalog.codegen_compiles"] = (after["codegen_compiles"] - before["codegen_compiles"]) / n_pass
        layer["catalog.codegen_ms"] = layer["catalog.codegen_compiles"] * after["codegen_mean_ms"]
        split["driver_only_ms"] = layer["catalog.driver_only_ms"]
        # Self time of the per-query span: what build, plan and collect
        # leave unexplained (result hashing, dropping cached blocks).
        spans = [tuple(x[:5]) for x in raw["spans"]]
        self_ms = stats.self_times(spans)
        req_pass = {i + 1: x[0] for i, x in enumerate(all_execs)}
        measured = [x for x in raw["spans"] if x[2] == "catalog.query" and x[5] > 0
                    and req_pass.get(x[5]) in measured_passes]
        split["query_self_ms_per_pass"] = sum(self_ms[x[0]] for x in measured) / n_pass
        window = raw["window"]["end"] - raw["window"]["warm_start"]
        layer["trace.overhead_pct"] = _trace_overhead(raw, window)
        layer["trace.unattributed_pct"] = 100.0 * split["unattributed_ms"] / wall if wall else 0.0
    return e2e, layer, split, named, detail, len(all_execs)


def stream(raw, result):
    e2e, layer, detail = {}, {}, {}
    _setup(raw, e2e, layer)
    warm = raw["warm_rows"]
    dues = raw["dues"]
    # Message m (0-based after the warm-up row) was counted by the
    # trigger whose cumulative count first exceeds warm + m.
    sink = {s[0]: s for s in raw["sink_calls"]}
    bounds = []
    cum = 0
    for epoch, count, _ms in raw["triggers"]:
        cum += count
        if epoch in sink:
            bounds.append((cum, sink[epoch][2], epoch))
    ends, k = [], 0
    for m in range(len(dues)):
        while k < len(bounds) and bounds[k][0] <= warm + m:
            k += 1
        ends.append(bounds[k][1] if k < len(bounds) else None)
    windows = raw["windows"]

    def phase_of(t):
        for w in windows:
            if w["start"] <= t < w["end"]:
                return w["phase"]
        return None

    # A message no trigger counted misses every latency limit.
    by_phase = {}
    for d, e in zip(dues, ends):
        by_phase.setdefault(phase_of(d), []).append(e - d if e is not None else math.inf)
    base = by_phase.get("base", [])
    summary = stats.latency(base, TAIL_P["stream"])
    e2e["latency_p50_ms"] = summary["p50"]

    live_q = raw["query_id"]
    prog = [p for p in raw["progress"] if p["query"] == live_q]
    replay_qs = {r["query"] for r in raw["replays"]}
    rp = [p for p in raw["progress"] if p["query"] in replay_qs and p["batch"] == 0]
    trig = [p["durations"]["triggerExecution"] for p in rp if "triggerExecution" in p["durations"]]
    e2e["bulk_s"] = stats.median(trig) / 1000.0 if len(trig) == len(replay_qs) else None
    layer["stream.replay_add_batch_ms"] = _med([p["durations"].get("addBatch", 0) for p in rp])
    layer["stream.replay_rows_per_s"] = _med([p["rows"] / (p["durations"]["triggerExecution"] / 1000.0)
                                              for p in rp if p["durations"].get("triggerExecution")])

    # Sustainable rate: every step with its tail within the limit and
    # no growing backlog, up to the first that fails.
    steps = []
    detail["stream.steps"] = []
    for w in windows:
        if w["phase"] == "warm":
            continue
        lat = by_phase.get(w["phase"], [])
        s = stats.latency(lat, 95.0)
        samples = [(b[1], b[2]) for b in raw["backlog"] if b[0] == w["phase"]]
        growing = stats.backlog_growing(samples, w["rate"], STREAM_LIMIT_MS)
        ok = stats.sustainable(stats.decision_tail(lat, 95.0), STREAM_LIMIT_MS, growing)
        steps.append((w["rate"], ok))
        detail["stream.steps"].append(dict(phase=w["phase"], rate=w["rate"], latency=s,
                                           growing=growing, ok=ok))

    base_w = next(w for w in windows if w["phase"] == "base")
    base_prog = [p for p in prog if base_w["start"] <= p["received"] < base_w["end"]]
    layer["stream.trigger_ms"] = _med([p["durations"].get("triggerExecution", 0) for p in base_prog])
    for key, name in PROGRESS_PHASES.items():
        layer[name] = _med([p["durations"].get(key, 0) for p in base_prog])
    layer["stream.rows_per_trigger"] = _med([p["rows"] for p in base_prog])
    layer["stream.backlog_max_msgs"] = max(
        [b[2] for b in raw["backlog"] if b[0] == "base"], default=0)
    layer["stream.generator_lag_ms"] = stats.percentile(raw["generator_lag"], 99) \
        if raw["generator_lag"] else 0.0
    polls = raw["polls"]
    poll_lat = [p[5] - p[2] for p in polls if p[6] == 200]
    counts = stats.latency(poll_lat)
    named = {"stream.latency_p50_ms": _val(summary["p50"], "ms", summary["n"], 50.0),
             "stream.latency_tail_ms": _tail(summary),
             "stream.max_rate_msgs": _val(stats.max_sustainable(steps), "1/s", len(steps)),
             "stream.replay_s": _val(e2e["bulk_s"], "s", len(rp)),
             "stream.counts_p50_ms": _val(counts["p50"], "ms", counts["n"], 50.0)}

    split = {"latency_p50_ms": summary["p50"], "trigger_ms": layer["stream.trigger_ms"]}
    if raw["trace"]:
        sp = Spark(raw)
        spans = raw["spans"]
        sink_ms = [s[4] - s[3] for s in spans if s[2] == "stream.sink"
                   and base_w["start"] <= s[3] < base_w["end"]]
        layer["stream.sink_ms"] = _med(sink_ms)
        base_jobs = sp.jobs_in(base_w["start"], base_w["end"])
        sites = {}
        for j in base_jobs:
            key = f'{j["site"] or "(none)"}{" [stream]" if j["streaming"] else ""}'
            sites[key] = sites.get(key, 0) + 1
        detail["stream.job_call_sites"] = sites
        # Only LiveCountsService runs jobs outside the stream here.
        counts_jobs = [j for j in base_jobs if not j["streaming"]]
        stream_jobs = [j for j in base_jobs if j["streaming"]]
        layer["stream.jobs_per_trigger"] = len(stream_jobs) / max(1, len(base_prog))
        tasks = sp.tasks_of(stream_jobs)
        layer["stream.task_cpu_ms"] = sum(t["cpu"] for t in tasks) / max(1, len(base_prog))
        counts_ms = [j["end"] - j["start"] for j in counts_jobs if j["end"] > 0]
        layer["stream.counts_job_ms"] = _med(counts_ms)
        # HTTP and JSON: a poll's time on its connection minus the
        # LiveCountsService jobs that ran inside it.
        layer["stream.counts_http_ms"] = _med([
            (p[5] - p[4]) - sum(j["end"] - j["start"] for j in counts_jobs
                                if p[4] <= j["start"] and j["end"] <= p[5] + 1)
            for p in polls if p[6] == 200])
        before, after = raw["jvm_before"], raw["jvm_after"]
        layer["stream.gc_ms"] = after["gc_ms"] - before["gc_ms"]
        measured = raw["ingest_end"] - windows[0]["start"]
        layer["trace.overhead_pct"] = _trace_overhead(raw, measured)
        # A message waits for the trigger that picks it up, then for
        # that trigger's phases; the rest is unattributed.
        phases = sum(layer[n] for n in PROGRESS_PHASES.values())
        split.update({"phases_ms": {k: layer[v] for k, v in PROGRESS_PHASES.items()},
                      "sink_ms": layer["stream.sink_ms"],
                      "wait_for_trigger_ms": max(0.0, summary["p50"] - layer["stream.trigger_ms"])})
        unattributed = layer["stream.trigger_ms"] - phases
        split["unattributed_ms"] = unattributed
        layer["trace.unattributed_pct"] = 100.0 * unattributed / layer["stream.trigger_ms"] \
            if layer["stream.trigger_ms"] else 0.0
    attempted = raw["messages"] + len(polls) + len(replay_qs) * REPLAY_ROWS
    return e2e, layer, split, named, detail, attempted


def serve(raw, result):
    e2e, layer, detail = {}, {}, {}
    _setup(raw, e2e, layer)
    reqs = [dict(id=r[0], phase=r[1], due=r[2], released=r[3], started=r[4], end=r[5],
                 status=r[6], inflight=r[7]) for r in raw["requests"]]
    by_phase = {}
    for r in reqs:
        by_phase.setdefault(r["phase"], []).append(r)

    def lat(rs):
        """A failed request misses every latency limit."""
        return stats.open_loop([r["due"] for r in rs],
                               [r["end"] if r["status"] == 200 else math.inf for r in rs],
                               [r["released"] for r in rs])

    ml_lat, _ = lat(by_phase.get("ml", []))
    ml = stats.latency(ml_lat, TAIL_P["serve"])
    big_lat, _ = lat(by_phase.get("big", []))
    big = stats.latency(big_lat, 95.0)

    steps, detail["serve.steps"] = [], []
    queue = raw["queue"]
    for ph in raw["phases"]:
        if not ph["phase"].startswith("step"):
            continue
        rs = by_phase.get(ph["phase"], [])
        step_lat = lat(rs)[0]
        s = stats.latency(step_lat, 99.0)
        tail = stats.decision_tail(step_lat, 99.0)
        samples = [(q[1], q[2]) for q in queue if q[0] == ph["phase"]]
        growing = stats.backlog_growing(samples, ph["rate"], SERVE_LIMIT_MS)
        aborted = ph["phase"] in raw["aborted"] or raw["skipped"].get(ph["phase"], 0) > 0
        ok = stats.sustainable(tail, SERVE_LIMIT_MS, growing, aborted)
        steps.append((ph["rate"], ok))
        detail["serve.steps"].append(dict(phase=ph["phase"], rate=ph["rate"], latency=s,
                                          growing=growing, aborted=aborted, ok=ok))
    named = {"serve.ml.latency_p50_ms": _val(ml["p50"], "ms", ml["n"], 50.0),
             "serve.ml.latency_tail_ms": _tail(ml),
             "serve.big.latency_p50_ms": _val(big["p50"], "ms", big["n"], 50.0),
             "serve.big.latency_tail_ms": _tail(big),
             "serve.max_rate_rps": _val(stats.max_sustainable(steps), "1/s", len(steps))}
    all_lat, late = lat(reqs)
    layer["serve.generator_lag_ms"] = stats.percentile(late, 99) if late else 0.0
    layer["serve.inflight_p99"] = stats.percentile([r["inflight"] for r in reqs], 99) if reqs else 0
    split = {"ml_latency_p50_ms": ml["p50"]}
    if raw["trace"]:
        sp = Spark(raw)
        w = raw["window"]
        layer["serve.request_jobs"] = len(sp.jobs_in(w["start"], w["end"]))
        direct = {d[0]: d for d in raw["direct"]}
        ml_ids = [r for r in by_phase.get("ml", []) if r["id"] in direct]
        big_ids = [r for r in by_phase.get("big", []) if r["id"] in direct]
        layer["serve.fold_in_ms"] = _med([direct[r["id"]][1] for r in ml_ids])
        layer["serve.rank_ms"] = _med([direct[r["id"]][2] - direct[r["id"]][1] for r in big_ids])
        layer["serve.alloc_bytes_per_req"] = _med([direct[r["id"]][3] for r in big_ids])
        # HTTP, Jackson and view registration: service time on the
        # connection minus the direct recommend() of the same request.
        http = [(r["end"] - r["started"]) - direct[r["id"]][2] for r in ml_ids]
        layer["serve.http_ms"] = _med(http)
        before, after = raw["jvm_before"], raw["jvm_after"]
        layer["serve.gc_ms"] = after["gc_ms"] - before["gc_ms"]
        layer["trace.overhead_pct"] = _trace_overhead(raw, w["end"] - w["start"])
        queue_wait = _med([r["started"] - r["due"] for r in ml_ids])
        rec = _med([direct[r["id"]][2] for r in ml_ids])
        split.update({"queue_wait_ms": queue_wait, "http_ms": layer["serve.http_ms"],
                      "fold_in_ms": layer["serve.fold_in_ms"],
                      "rank_ms": max(0.0, rec - layer["serve.fold_in_ms"])})
        unattributed = ml["p50"] - queue_wait - layer["serve.http_ms"] - rec
        split["unattributed_ms"] = unattributed
        layer["trace.unattributed_pct"] = 100.0 * unattributed / ml["p50"] if ml["p50"] else 0.0
    attempted = len(reqs)
    return e2e, layer, split, named, detail, attempted


def live(raw, result):
    """The stream part, then the recommender part, of one live run. The
    bounded figures are the stream's; set-up is bringing up both."""
    common = {k: v for k, v in raw.items() if k not in ("stream", "serve")}
    s_e2e, s_layer, s_split, s_named, s_detail, s_n = stream({**common, **raw["stream"]}, result)
    v_e2e, v_layer, v_split, v_named, v_detail, v_n = serve({**common, **raw["serve"]}, result)
    e2e = dict(s_e2e, setup_s=s_e2e["setup_s"] + v_e2e["setup_s"])
    layer = {**v_layer, **s_layer}
    for key in ("setup.session_ms", "setup.warmup_ms"):
        layer[key] = s_layer[key] + v_layer[key]
    for key in ("setup.model_ms",):
        layer[key] = v_layer[key]
    if raw["trace"]:
        stream_ms = raw["stream"]["ingest_end"] - raw["stream"]["windows"][0]["start"]
        serve_ms = raw["serve"]["window"]["end"] - raw["serve"]["window"]["start"]
        layer["trace.overhead_pct"] = _trace_overhead(raw, stream_ms + serve_ms)
    named = {**s_named, **v_named}
    named.pop("setup_s", None)
    return (e2e, layer, {"stream": s_split, "serve": v_split}, named,
            {**s_detail, **v_detail}, s_n + v_n)


WORKLOADS = {"catalog": catalog, "live": live}


def summarize(raw, result):
    """-> (end_to_end, per_layer, split, named, detail, attempted) of one
    run. `named` holds the workload's end-to-end figures with their
    sample counts and percentiles. Per-layer metrics that do not apply
    to the workload read 0."""
    e2e, layer, split, named, detail, attempted = WORKLOADS[raw["workload"]](raw, result)
    full = {name: 0.0 for name in PER_LAYER}
    full.update(layer)
    named["setup_s"] = _val(e2e["setup_s"], "s", SETUPS)
    # From process start to the first operation after the set-ups (the
    # warm-in's first pass or message).
    first = raw["stream"]["windows"][0]["start"] if "stream" in raw else raw["window"]["warm_start"]
    detail["process_start_to_warm_in_s"] = (first - raw["process_start"]) / 1000.0
    return e2e, full, split, named, detail, attempted
