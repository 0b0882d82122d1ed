"""Metrics and output checks computed from one run's record.

The JVM side (`perfbench.Main`) writes what it measured and what the
program returned; this module turns that into the end-to-end metrics
(untraced run) or the per-layer metrics (traced run), and checks the
program's outputs against the generator's manifest.
"""

import hashlib
import math

LAYERS = ("logs", "sql", "functions", "operators", "streaming")
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
            "spill_bytes", "input_bytes", "executor_cpu_s", "gc_s", "task_wait_s")
# the typed columns `read_httpd_log` must return for the combined format
COMBINED_SCHEMA = [
    ["client_host", "string"], ["ident", "string"], ["auth_user", "string"],
    ["timestamp", "timestamp"], ["method", "string"], ["path", "string"],
    ["query_string", "string"], ["protocol", "string"], ["status", "int"],
    ["bytes", "bigint"], ["referer", "string"], ["user_agent", "string"],
]
TOP_PATHS = 10


def percentile(values, q):
    """The q-th percentile (0-100), interpolating linearly between ranks."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no values")
    pos = (len(s) - 1) * q / 100.0
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def covered(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of the given intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo))
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def self_times(spans):
    """Each span's duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["startMs"], s["endMs"]))
    return {s["id"]: (s["endMs"] - s["startMs"])
            - covered(children.get(s["id"], []), s["startMs"], s["endMs"])
            for s in spans}


def layer_self_ms(spans):
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


def stream_spans(spans, progress):
    """The stream's batches as spans: each batch that starts inside a traced
    file's span becomes its child (layer `streaming`), with the batch's
    query planning as a child of the batch (layer `sql`)."""
    files = [s for s in spans if s["name"] == "file"]
    out = []
    next_id = max((s["id"] for s in spans), default=0) + 1
    for p in progress:
        start = p["start_ms"]
        d = p["duration_ms"]
        owner = next((f for f in files if f["startMs"] <= start <= f["endMs"]), None)
        if owner is None:
            continue
        batch = {"id": next_id, "parent": owner["id"], "name": f"batch {p['batch']}",
                 "layer": "streaming", "iter": owner["iter"],
                 "startMs": start, "endMs": start + d.get("triggerExecution", 0)}
        # micro-batch order: offsets, WAL, getBatch, then planning
        p0 = start + d.get("latestOffset", 0) + d.get("walCommit", 0) + d.get("getBatch", 0)
        plan = {"id": next_id + 1, "parent": next_id, "name": "queryPlanning", "layer": "sql",
                "iter": owner["iter"], "startMs": p0, "endMs": p0 + d.get("queryPlanning", 0)}
        out += [batch, plan]
        next_id += 2
    return out


# ---- output checks: each returns a list of failure messages ----

def check_logscan(out, m):
    errs = []
    if out.get("total_rows") != m["lines"]:
        errs.append(f"total_rows {out.get('total_rows')} != {m['lines']}")
    if out.get("parse_errors") != m["malformed"]:
        errs.append(f"parse_errors {out.get('parse_errors')} != planted {m['malformed']}")
    missing = [c for c in COMBINED_SCHEMA if c not in out.get("schema", [])]
    if missing:
        errs.append(f"typed columns missing: {missing}")
    sh = out.get("status_hour_counts", {})
    by_status = {}
    for key, n in sh.items():
        st = key.split("|")[0]
        by_status[st] = by_status.get(st, 0) + n
    if by_status != m["status_counts"]:
        errs.append("per-status totals differ from the generator's tallies")
    if sh != m["status_hour_counts"]:
        errs.append("status x hour counts differ from the generator's tallies")
    top = sorted(out.get("path_counts", {}).items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_PATHS]
    if [list(t) for t in top] != m["top_paths"]:
        errs.append("top paths differ from the generator's tallies")
    return errs


def digest(ids):
    return hashlib.sha256(",".join(map(str, ids)).encode()).hexdigest()


def check_dedup(out, m, first_digest):
    survivors = set(out.get("survivors", []))
    errs = []
    lost = [i for i in m["singletons"] if i not in survivors]
    if lost:
        errs.append(f"{len(lost)} planted singletons dropped")
    if first_digest is not None and digest(out.get("survivors", [])) != first_digest:
        errs.append("survivor digest differs from the first operation's")
    return errs


def dup_recall(out, m):
    survivors = set(out.get("survivors", []))
    dups = m["planted_dups"]
    return sum(1 for i in dups if i not in survivors) / len(dups)


def check_stream_end(end, m):
    files = end.get("files", [])
    want = sum(m["valid_per_file"][int(f[5:9])] for f in files)
    if end.get("session_events") != want:
        return [f"sessions count {end.get('session_events')} lines, the fed files hold {want} valid lines"]
    return []


def evaluate(workload, record, manifest, trace, gen_s):
    """Returns (result dict for the last stdout line, per-run details)."""
    ops = record["ops"]
    failures = []
    first_digest = None
    failed = 0
    for op in ops:
        out = op["out"]
        if "error" in out:
            errs = [out["error"]]
        elif workload == "logscan":
            errs = check_logscan(out, manifest)
        elif workload == "dedup":
            if first_digest is None:
                first_digest = digest(out.get("survivors", []))
            errs = check_dedup(out, manifest, first_digest)
        else:
            errs = []
        if errs:
            failed += 1
            failures.append((op["iter"], errs))
    if workload == "stream":
        errs = check_stream_end(record["end"], manifest)
        if errs:
            failures.append(("run", errs))
            failed = len(ops)
    records = {"logscan": manifest.get("lines"), "dedup": manifest.get("docs"),
               "stream": manifest.get("lines_per_file")}[workload]

    plain = [op for op in ops if not op["traced"]]
    traced = [op for op in ops if op["traced"]]
    if trace:
        metrics = layer_metrics(workload, record, manifest, plain, traced, records, gen_s)
    else:
        metrics = end_to_end(record, plain, records)
    result = {"correct": failed == 0 and not failures, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, failures


def end_to_end(record, ops, records):
    """The end-to-end metrics of an untraced run. An operation is one
    iteration (logscan, dedup) or one file from rename to commit (stream);
    `records` is the input lines or documents one operation takes in.

    setup_s         median of the run's set-ups (the first counts from JVM start)
    run_s           median operation wall time
    records_per_s   records / run_s
    cpu_s_per_mrec  median process CPU seconds of an operation, per million records
    live_heap_mb    heap left after a full collection once the timed operations end
    latency_*_ms    percentiles of the operation wall times
    """
    walls_ms = [op["wall_s"] * 1e3 for op in ops]
    run_s = median(walls_ms) / 1e3

    def m(v, unit):
        return {"value": v, "unit": unit}
    return {
        "setup_s": m(median(record["setup_s"]), "s"),
        "run_s": m(run_s, "s"),
        "records_per_s": m(records / run_s, "1/s"),
        "cpu_s_per_mrec": m(median([op["cpu_s"] for op in ops]) / records * 1e6, "s"),
        "live_heap_mb": m(record["live_heap_mb"], "MB"),
        "latency_p50_ms": m(percentile(walls_ms, 50), "ms"),
        "latency_p75_ms": m(percentile(walls_ms, 75), "ms"),
    }


def _span_median(spans, name, scale=1e-3):
    ds = [(s["endMs"] - s["startMs"]) * scale for s in spans if s["name"] == name]
    return median(ds) if ds else 0.0


def _out_median(ops, key):
    vs = [op["out"][key] for op in ops if key in op["out"]]
    return median(vs) if vs else 0.0


def layer_metrics(workload, record, manifest, plain, traced, records, gen_s):
    spans = list(record["spans"])
    progress = record["end"].get("progress", [])
    loop0 = min(op["start_ms"] for op in plain + traced)
    timed_batches = [p for p in progress if p["start_ms"] >= loop0]
    data_batches = [p for p in timed_batches if p["rows"] > 0]
    spans += stream_spans(spans, timed_batches)
    n_tr = max(1, len(traced))
    v = {}

    parse_s = _span_median(spans, "HttpdLog.read")
    v["logs.parse_s"] = (parse_s, "s")
    v["logs.lines_per_s"] = (records / parse_s if parse_s and workload != "dedup" else 0.0, "1/s")
    v["logs.format_resolve_ms"] = (median(record["format_resolve_ms"]), "ms")
    if workload == "logscan":
        ratio = median([op["out"]["parse_errors"] / op["out"]["total_rows"] for op in traced])
    else:
        ratio = 0.0
    v["logs.parse_error_ratio"] = (ratio, "ratio")

    narrow_s = _span_median(spans, "read_httpd_log")
    v["sql.narrow_s"] = (narrow_s, "s")
    v["sql.narrow_to_wide"] = (narrow_s / parse_s if parse_s and narrow_s else 0.0, "ratio")
    if workload == "stream":  # every micro-batch plans its query again
        plan_ms = median([p["duration_ms"].get("queryPlanning", 0) for p in data_batches]) if data_batches else 0.0
    else:
        plan_ms = _span_median(spans, "read_httpd_log.plan", scale=1.0)
    v["sql.plan_ms"] = (plan_ms, "ms")

    sig_s = _span_median(spans, "MinHashSig")
    v["functions.sig_s"] = (sig_s, "s")
    v["functions.sig_docs_per_s"] = (records / sig_s if sig_s else 0.0, "1/s")

    cands = _out_median(traced, "candidate_pairs")
    verified = _out_median(traced, "verified_pairs")
    v["operators.candidates_s"] = (_span_median(spans, "Dedup.minhashCandidates"), "s")
    v["operators.verify_s"] = (_span_median(spans, "Dedup.verifyJaccard"), "s")
    v["operators.drop_s"] = (_span_median(spans, "Dedup.dropNearDuplicates"), "s")
    v["operators.candidate_pairs"] = (cands, "count")
    v["operators.verified_pairs"] = (verified, "count")
    v["operators.verify_yield"] = (verified / cands if cands else 0.0, "ratio")
    v["operators.plan_scans"] = (_out_median(traced, "plan_scans"), "count")
    v["operators.sig_evals"] = (_out_median(traced, "sig_evals"), "count")
    v["operators.dup_recall"] = (
        median([dup_recall(op["out"], manifest) for op in plain + traced]) if workload == "dedup" else 0.0,
        "ratio")

    def dur_p50(key):
        return median([p["duration_ms"].get(key, 0) for p in data_batches]) if data_batches else 0.0
    v["streaming.trigger_ms_p50"] = (dur_p50("triggerExecution"), "ms")
    v["streaming.add_batch_ms_p50"] = (dur_p50("addBatch"), "ms")
    v["streaming.planning_ms_p50"] = (dur_p50("queryPlanning"), "ms")
    v["streaming.wal_commit_ms_p50"] = (dur_p50("walCommit"), "ms")
    v["streaming.commit_offsets_ms_p50"] = (dur_p50("commitOffsets"), "ms")
    v["streaming.state_commit_ms_p50"] = (
        median([p["state_commit_ms"] for p in data_batches]) if data_batches else 0.0, "ms")
    v["streaming.state_memory_bytes"] = (
        max((p["state_memory_bytes"] for p in timed_batches), default=0), "bytes")
    files = [op for op in plain + traced if "rename_ms" in op["out"]]
    v["streaming.batches_per_file"] = (len(timed_batches) / len(files) if files else 0.0, "count")
    idle = []
    for op in files:
        lo, hi = op["out"]["rename_ms"], op["out"]["done_ms"]
        busy = sum(p["duration_ms"].get("triggerExecution", 0)
                   for p in timed_batches if lo <= p["start_ms"] <= hi)
        idle.append(hi - lo - busy)
    v["streaming.idle_ms_p50"] = (median(idle) if idle else 0.0, "ms")

    own = layer_self_ms(spans)
    counters = record["counters"]
    for layer in LAYERS:
        v[f"{layer}.self_s"] = (own.get(layer, 0.0) / 1e3 / n_tr, "s")
        c = counters.get(layer, {})
        for name in COUNTERS:
            unit = "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"
            v[f"{layer}.{name}"] = (c.get(name, 0.0) / n_tr, unit)
    v["bench.self_s"] = (own.get("bench", 0.0) / 1e3 / n_tr, "s")

    untraced_s = median([op["wall_s"] for op in plain])
    v["trace.overhead_ratio"] = (median([op["wall_s"] for op in traced]) / untraced_s, "ratio")
    v["trace.spans_per_op"] = (len(spans) / n_tr, "count")
    v["host.cpu_probe_s"] = (record["probes"]["cpu_probe_s"], "s")
    v["host.empty_job_ms"] = (record["probes"]["empty_job_ms"], "ms")
    v["setup.cold_s"] = (record["setup_s"][0], "s")
    v["bench.gen_s"] = (gen_s, "s")
    record["spans"] = spans  # with the stream's batches, for spans.json
    return {k: {"value": val, "unit": unit} for k, (val, unit) in v.items()}
