"""Turns one benchmark process's raw measurements into metrics.

End-to-end metrics (untraced run) are defined for every workload:
  setup_s        process start -> first timed operation, with the repeated
                 input generation counted once, at its median
  pass_s         median wall time of the workload's unit pass:
                 reference_batch  one round of every reference query
                 corpus_dag       one cold DAG pass (memo layer reset)
                 event_stream     one micro-batch, trigger to commit, at the
                                  fixed rate: each query's median over the
                                  6 micro-batches that consumed the
                                  fixed-rate phase, averaged over queries
  latency_mean_s mean request latency, due time to checked result (a mean:
                 a median of the 6-9 queries of a cold pass moves with the
                 seed-shuffled order):
                 reference_batch  one reference query
                 corpus_dag       one DAG query with its memos in place
                 event_stream     one input file, scheduled send to the commit
                                  of the last query that consumed it
The workload-specific figures the issue names (batch_round_s, dag_cold_s,
dag_steady_s, stream_latency_p95_s, stream_sustained_eps, scratch_peak_mb,
failed_frac) are printed as notes.

Per-layer metrics come from the traced run; layers a workload does not
exercise report 0. LAYERS maps each to the end-to-end metric and workload it
should move.
"""
import statistics

import oracle
import stats

MB = 1024.0 * 1024.0
KERNELS = ["minhash_sig", "simhash_sig", "hash60_array", "jaccard_sorted", "vec_dot", "lev_within"]
PAIR_QUERIES = ["dedup_minhash_lsh", "dedup_simhash", "similarity_topk_lsh"]
# The feeder is too late to publish the run when it misses by more than this.
FEEDER_MAX_LATE_MS = 250.0
FEEDER_P50_LATE_MS = 10.0
# No-growing-backlog tolerance, in seconds of input at the step's rate.
BACKLOG_TOLERANCE_S = 1.0

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_mean_s", "s")]

# (name, unit, better, moves: end-to-end metric on workload)
LAYERS = [
    ("jvm.gc_s", "s", "lower", "setup_s, pass_s on reference_batch"),
    ("jvm.jit_s", "s", "lower", "setup_s, pass_s on reference_batch"),
    ("jvm.heap_peak_mb", "MB", "lower", "setup_s, pass_s on reference_batch"),
    ("tables.input_mb", "MB", "lower", "pass_s on reference_batch"),
    ("tables.scan_s", "s", "lower", "pass_s on reference_batch"),
    ("catalyst.plan_s", "s", "lower", "pass_s on reference_batch (little on corpus_dag)"),
    ("catalyst.codegen_compile_s", "s", "lower", "pass_s on reference_batch (little on corpus_dag)"),
    ("operators.q1_s", "s", "lower", "pass_s on reference_batch"),
    ("operators.q2_s", "s", "lower", "pass_s on reference_batch"),
    ("operators.q3_s", "s", "lower", "pass_s on reference_batch"),
    ("operators.bonus_s", "s", "lower", "pass_s on reference_batch"),
    ("operators.busy_s", "s", "lower", "pass_s on reference_batch"),
    ("operators.shuffle_mb", "MB", "lower", "pass_s on reference_batch"),
    ("operators.spill_mb", "MB", "lower", "pass_s on reference_batch"),
    ("operators.tasks", "count", "lower", "pass_s on reference_batch"),
    ("pipeline.dedup_cold_s", "s", "lower", "pass_s on corpus_dag"),
    ("pipeline.dedup_steady_s", "s", "lower", "latency_mean_s on corpus_dag"),
    ("pipeline.components_cold_s", "s", "lower", "pass_s on corpus_dag"),
    ("pipeline.components_steady_s", "s", "lower", "latency_mean_s on corpus_dag"),
    ("pipeline.similarity_cold_s", "s", "lower", "pass_s on corpus_dag"),
    ("pipeline.similarity_steady_s", "s", "lower", "latency_mean_s on corpus_dag"),
    ("pipeline.text_cold_s", "s", "lower", "pass_s on corpus_dag"),
    ("pipeline.text_steady_s", "s", "lower", "latency_mean_s on corpus_dag"),
    ("pipeline.shuffle_mb", "MB", "lower", "pass_s on corpus_dag"),
    ("pipeline.pair_rows", "count", "lower", "pass_s on corpus_dag"),
] + [(f"functions.{k}.rows_per_s", "1/s", "higher", "pass_s on corpus_dag (not reference_batch)")
     for k in KERNELS] + [
    ("scratch.builds_cold", "count", "lower", "pass_s on corpus_dag"),
    ("scratch.builds_steady", "count", "lower", "latency_mean_s on corpus_dag"),
    ("scratch.reuse_ratio", "ratio", "higher", "latency_mean_s on corpus_dag"),
    ("scratch.write_mb", "MB", "lower", "pass_s on corpus_dag"),
    ("scratch.peak_mb", "MB", "lower", "pass_s on corpus_dag"),
    ("streaming.batch_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.add_batch_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.latest_offset_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.query_planning_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.wal_commit_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.sink_write_s_p50", "s", "lower", "pass_s, latency_mean_s on event_stream"),
    ("streaming.rows_per_batch", "count", "higher", "latency_mean_s on event_stream"),
    ("streaming.state_rows", "count", "lower", "pass_s on event_stream"),
    ("streaming.state_mb", "MB", "lower", "pass_s on event_stream"),
    ("streaming.late_dropped_rows", "count", "lower", "latency_mean_s on event_stream"),
    ("streaming.backlog_files_end", "count", "lower", "latency_mean_s on event_stream"),
    ("streaming.sustained_eps", "1/s", "higher", "latency_mean_s on event_stream"),
    ("feeder.late_ms_p50", "ms", "lower", "none: load-generator health"),
    ("feeder.late_ms_max", "ms", "lower", "none: load-generator health"),
] + [(f"self.{layer}_s", "s", "lower", "the layer's own end-to-end metric")
     for layer in ["harness", "tables", "catalyst", "operators", "pipeline", "functions",
                   "scratch", "streaming", "feeder"]] + [
    ("trace.overhead_s", "s", "lower", "none: recorder cost of the traced run"),
    ("trace.pass_s", "s", "lower", "none: pass_s measured with tracing on"),
    ("trace.latency_mean_s", "s", "lower", "none: latency_mean_s measured with tracing on"),
    ("trace.spans", "count", "lower", "none: spans recorded"),
]


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _task_delta(p, layer, key):
    after = p["tasks_after"].get(layer, {}).get(key, 0)
    before = p["tasks_before"].get(layer, {}).get(key, 0)
    return after - before


def setup_s(raw):
    """Process start to the first timed operation, with the repeated input
    generation counted once, at its median."""
    return (raw["first_op_ms"] - raw["t0_ms"]) / 1000.0 - (sum(raw["gen_s"]) - statistics.median(raw["gen_s"]))


def _batch_correctness(raw, data_dir, results_dir):
    reqs = raw["requests"]
    first = {}
    for r in reqs:
        if r["error"] is None:
            first.setdefault(r["name"], r["digest"])
    verdict = oracle.check(data_dir, results_dir, raw["oracle_sql"], sorted(first))
    bad = {q: why for q, why in verdict.items() if why}
    failed = [r for r in reqs if r["error"] is not None or r["name"] in bad
              or r["digest"] != first.get(r["name"])]
    notes = [f"oracle mismatch: {q}: {why}" for q, why in sorted(bad.items())]
    notes += [f"query failed: {r['name']} (pass {r['pass']}): {r['error'] or 'digest differs from its first result'}"
              for r in failed if r["name"] not in bad][:10]
    return len(reqs), len(failed), notes


def _stream_view(raw):
    """File latencies and per-phase backlog of the open-loop stream."""
    s = raw["stream"]
    queries = s["queries"]
    by_query = {q: sorted((b for b in s["batches"] if b["query"] == q), key=lambda b: b["batch_id"])
                for q in queries}
    cum = {}
    for q, bs in by_query.items():
        acc, out = 0, []
        for b in bs:
            acc += b["input_rows"]
            out.append((acc, b["commit_ms"]))
        cum[q] = out

    def committed_at(q, need):
        for acc, commit in cum[q]:
            if acc >= need:
                return commit
        return None

    lat = []
    for f in s["sent"]:
        commits = [committed_at(q, f["cum_events"]) for q in queries]
        per_query = [None if c is None else (c - f["due_ms"]) / 1000.0 for c in commits]
        lat.append((f, per_query))
    phases = {}
    for f, _ in lat:
        phases.setdefault(f["phase"], []).append(f)
    sent = s["sent"]

    def lag_s(f):
        # seconds of input unconsumed when f was sent: from the oldest file
        # not yet committed by every query to f
        committed = f["cum_events"] - f["backlog_events"]
        oldest = next((g for g in sent if g["cum_events"] > committed), f)
        return max(0.0, f["due_ms"] - oldest["due_ms"]) / 1000.0

    # A step's backlog is compared in seconds of input, given as events at
    # the step's rate: the step before it ran at a lower rate, so the same
    # lag holds fewer events at its end.
    steps = []
    for name in sorted(p for p in phases if p.startswith("ladder")):
        fs = phases[name]
        rate = fs[0]["rate"]
        prev = [f for f in sent if f["seq"] == fs[0]["seq"] - 1]
        start = lag_s(prev[0]) * rate if prev else 0
        steps.append((rate, start, lag_s(fs[-1]) * rate))
    return lat, phases, steps


def _stream_correctness(raw):
    s = raw["stream"]
    lat, _, _ = _stream_view(raw)
    bad_checks = [c["name"] for c in s["checks"] if not c["ok"]]
    lost = sum(1 for _, xs in lat if None in xs)
    attempted = len(lat) + len(s["checks"])
    failed = len(bad_checks) + lost
    notes = [f"stream output differs from its batch twin: {c}" for c in bad_checks]
    if lost:
        notes.append(f"{lost} input files never committed by every query")
    return attempted, failed, notes


def _feeder(raw):
    late = [f["sent_ms"] - f["due_ms"] for f in raw["stream"]["sent"]]
    return stats.median(late), max(late)


def _latency_phase_batches(raw, lat):
    phase = [f for f, _ in lat if f["phase"] == "latency"]
    lo, hi = phase[0]["due_ms"], phase[-1]["due_ms"]
    # the micro-batches whose trigger fell after the phase's first file and
    # by one trigger after its last: those that consumed the phase
    return [b for b in raw["stream"]["batches"] if lo < b["start_ms"] <= hi + raw["stream"]["trigger_ms"]]


def end_to_end(raw):
    w = raw["workload"]
    out = {"setup_s": setup_s(raw)}
    notes = []
    if w == "reference_batch":
        rounds = [p["wall_s"] for p in raw["passes"] if p["kind"] == "round"]
        out["pass_s"] = _median(rounds)
        out["latency_mean_s"] = statistics.fmean(r["latency_s"] for r in raw["requests"])
        notes.append(f"batch_round_s = {out['pass_s']:.6g} s (median of {len(rounds)} rounds)")
    elif w == "corpus_dag":
        cold = [p["wall_s"] for p in raw["passes"] if p["kind"] == "cold"]
        steady = [p["wall_s"] for p in raw["passes"] if p["kind"] == "steady"]
        out["pass_s"] = _median(cold)
        out["latency_mean_s"] = statistics.fmean(r["latency_s"] for r in raw["requests"] if r["kind"] == "steady")
        notes.append(f"dag_cold_s = {out['pass_s']:.6g} s (median of {len(cold)} cold passes)")
        notes.append(f"dag_steady_s = {_median(steady):.6g} s (median of {len(steady)} steady passes)")
        notes.append(f"scratch_peak_mb = {raw['scratch_peak_bytes'] / MB:.6g} MB")
    else:
        lat, phases, steps = _stream_view(raw)
        fixed = [x for f, xs in lat if f["phase"] == "latency" for x in xs if x is not None]
        batches = _latency_phase_batches(raw, lat)
        # each query's median micro-batch, averaged over the four queries:
        # their micro-batches cost 0.9-1.5 s apart, so the median of all of
        # them falls between two queries and jumps with the gap
        per_query = {}
        for b in batches:
            per_query.setdefault(b["query"], []).append(b["durations"]["triggerExecution"] / 1000.0)
        out["pass_s"] = statistics.fmean(_median(v) for v in per_query.values())
        out["latency_mean_s"] = statistics.fmean(fixed)
        p95, beyond = stats.percentile(fixed, 95)
        notes.append(f"stream_latency_p50_s = {_median(fixed):.6g} s at {phases['latency'][0]['rate']} events/s "
                     f"({len(fixed)} file x query commits)")
        notes.append(f"stream_latency_p95_s = {p95:.6g} s ({beyond} samples beyond"
                     f"{'' if stats.tail_ok(fixed, 95) else '; fewer than 10, not a valid tail'})")
        notes.append(f"stream_sustained_eps = {stats.sustained_rate(steps, BACKLOG_TOLERANCE_S)} events/s "
                     f"(ladder {[r for r, _, _ in steps]})")
    return out, notes


def per_layer(raw):
    w = raw["workload"]
    m = {name: 0.0 for name, *_ in LAYERS}
    passes = raw["passes"]
    jvm = raw["jvm"]
    m["jvm.gc_s"], m["jvm.jit_s"] = jvm["gc_s"], jvm["jit_s"]
    m["jvm.heap_peak_mb"] = jvm["heap_peak_bytes"] / MB
    m["tables.input_mb"] = sum(t["bytes"] for t in raw["tables"]) / MB
    m["tables.scan_s"] = sum(t["scan_s"] for t in raw["tables"])
    spans = raw["spans"]
    # the traced first pass: the figures comparable with an untraced run
    first = [p for p in passes if p["idx"] == 1]
    first_reqs = [r for r in raw["requests"] if r["pass"] == 1]
    m["catalyst.plan_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in spans
                               if s["layer"] == "catalyst" and s["req"] == 1)
    m["catalyst.codegen_compile_s"] = sum(p["codegen_s"] for p in first)
    if w == "reference_batch":
        for fam in ["q1", "q2", "q3", "bonus"]:
            m[f"operators.{fam}_s"] = sum(r["latency_s"] for r in first_reqs if r["family"] == fam)
        for p in first:
            m["operators.busy_s"] += _task_delta(p, "operators", "run_ms") / 1000.0
            m["operators.shuffle_mb"] += _task_delta(p, "operators", "shuffle_write_bytes") / MB
            m["operators.spill_mb"] += _task_delta(p, "operators", "spill_bytes") / MB
            m["operators.tasks"] += _task_delta(p, "operators", "tasks")
    if w == "corpus_dag":
        for fam in ["dedup", "components", "similarity", "text"]:
            for kind in ["cold", "steady"]:
                m[f"pipeline.{fam}_{kind}_s"] = sum(r["latency_s"] for r in first_reqs
                                                    if r["family"] == fam and r["kind"] == kind)
        cold = [p for p in first if p["kind"] == "cold"]
        steady = [p for p in first if p["kind"] == "steady"]
        m["pipeline.shuffle_mb"] = sum(_task_delta(p, "pipeline", "shuffle_write_bytes") for p in cold) / MB
        m["pipeline.pair_rows"] = sum(r["rows"] for r in first_reqs if r["kind"] == "cold" and r["name"] in PAIR_QUERIES)
        m["scratch.builds_cold"] = sum(p["builds"] for p in cold)
        m["scratch.builds_steady"] = sum(p["builds"] for p in steady)
        if m["scratch.builds_cold"]:
            m["scratch.reuse_ratio"] = 1.0 - m["scratch.builds_steady"] / m["scratch.builds_cold"]
        m["scratch.write_mb"] = sum(p["scratch_bytes"] for p in cold) / MB
        m["scratch.peak_mb"] = raw["scratch_peak_bytes"] / MB
        for k, v in raw.get("kernels", {}).items():
            m[f"functions.{k}.rows_per_s"] = v["rows"] / v["median_s"]
    if w == "event_stream":
        lat, _, steps = _stream_view(raw)
        batches = _latency_phase_batches(raw, lat)

        def p50(key, query=None):
            return _median([b["durations"].get(key, 0) / 1000.0 for b in batches
                            if query is None or b["query"] == query])
        m["streaming.batch_s_p50"] = p50("triggerExecution")
        m["streaming.add_batch_s_p50"] = p50("addBatch")
        m["streaming.latest_offset_s_p50"] = p50("latestOffset")
        m["streaming.query_planning_s_p50"] = p50("queryPlanning")
        m["streaming.wal_commit_s_p50"] = p50("walCommit")
        m["streaming.sink_write_s_p50"] = p50("addBatch", "durable_sink")
        m["streaming.rows_per_batch"] = _median([b["input_rows"] for b in batches])
        last = {}
        for b in raw["stream"]["batches"]:
            if b["batch_id"] >= last.get(b["query"], {"batch_id": -1})["batch_id"]:
                last[b["query"]] = b
        m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
        m["streaming.state_mb"] = sum(b["state_bytes"] for b in last.values()) / MB
        m["streaming.late_dropped_rows"] = max(
            sum(b["dropped"] for b in raw["stream"]["batches"] if b["query"] == q) for q in raw["stream"]["queries"])
        end = lat[-1][0]
        m["streaming.backlog_files_end"] = end["backlog_events"] / max(1, end["events"])
        m["streaming.sustained_eps"] = stats.sustained_rate(steps, BACKLOG_TOLERANCE_S)
        m["feeder.late_ms_p50"], m["feeder.late_ms_max"] = _feeder(raw)
    for layer, secs in stats.self_times(spans).items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = secs
    m["trace.spans"] = len(spans)
    m["trace.overhead_s"] = trace_overhead(raw)
    traced, _ = end_to_end(raw)
    m["trace.pass_s"], m["trace.latency_mean_s"] = traced["pass_s"], traced["latency_mean_s"]
    return m


def trace_overhead(raw):
    """Recorder cost of the traced run: spans recorded times the measured
    cost of one span. steady.py reports the end-to-end difference between
    traced and untraced runs beside it."""
    return len(raw["spans"]) * raw["span_cost_ns"] / 1e9


def compute(raw, data_dir, results_dir, trace):
    if raw["workload"] == "event_stream":
        attempted, failed, notes = _stream_correctness(raw)
        p50, mx = _feeder(raw)
        if p50 > FEEDER_P50_LATE_MS or mx > FEEDER_MAX_LATE_MS:
            raise SystemExit(f"perfbench: INVALID run: the feeder fell behind its schedule "
                             f"(late p50 {p50:.1f} ms, max {mx:.1f} ms); not publishing generator lag "
                             f"as system latency")
    else:
        attempted, failed, notes = _batch_correctness(raw, data_dir, results_dir)
    if trace:
        values = per_layer(raw)
        units = {name: unit for name, unit, *_ in LAYERS}
    else:
        values, more = end_to_end(raw)
        notes = more + notes
        units = dict(END_TO_END)
    notes.append(f"failed_frac = {failed / max(1, attempted):.6g} ({failed} of {attempted})")
    return {
        "correct": failed == 0, "attempted": attempted, "failed": failed, "notes": notes,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }
