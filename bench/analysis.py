"""Reduce one run's raw observations (written by graftbench.Main) to the benchmark's
metrics, and apply the correctness gates. Pure functions over plain data, so the rules
are unit-tested in bench/tests without Spark."""

import json
import math
import os
import statistics

MIN_BEYOND = 10  # a percentile is reported only with this many samples above it


def samples_beyond(n, q):
    """Samples strictly above the nearest-rank q-percentile of n samples."""
    return n - math.ceil(q * n)


def percentile(values, q):
    """Nearest-rank q-percentile, or None when fewer than MIN_BEYOND samples lie beyond
    it (a p90 needs at least 100 samples, a median 20)."""
    if not values or samples_beyond(len(values), q) < MIN_BEYOND:
        return None
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * len(ordered)) - 1)]


# --- correctness gates --------------------------------------------------------------

def gate_backfill(p, reference):
    """Manifest rows == rows read back through MatchSink.read == reference matches."""
    return "error" not in p and p["manifest_rows"] == p["read_rows"] == reference


def gate_stream(raw):
    """The stream's observed match count == the batch count on the same events."""
    return raw.get("error") is None and raw["stream_matches"] == raw["reference"]


BATCH_GATES = {"batch_backfill": gate_backfill}


# --- file-source log -> batches -> latency ------------------------------------------

def parse_source_log(log_dir):
    """File name -> id of the micro-batch that consumed it, from Spark's file-source
    metadata log (one file per batch, compacted every few batches; each entry line is a
    JSON object carrying the file's path and batchId, after a version header line)."""
    consumed = {}
    if not os.path.isdir(log_dir):
        return consumed
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                base = entry["path"].rstrip("/").rsplit("/", 1)[-1]
                batch = entry["batchId"]
                consumed[base] = min(batch, consumed.get(base, batch))
    return consumed


def batch_ends(batches):
    """Batch id -> end time (ms): the trigger's start plus its whole execution time."""
    return {b["batch"]: b["start_ms"] + b["duration_ms"].get("triggerExecution", 0)
            for b in batches}


def file_latencies(files, batches, consumed):
    """Per released file: seconds from its scheduled release to the end of the batch
    that consumed it (None when no batch consumed it)."""
    ends = batch_ends(batches)
    out = []
    for f in files:
        batch = consumed.get(f["name"])
        end = ends.get(batch) if batch is not None else None
        out.append(None if end is None else (end - f["scheduled_ms"]) / 1000.0)
    return out


def drain_rates(files, batches, consumed):
    """Per burst, in burst order: the rows of the batches from the first that read one of
    its files to the last, over the seconds from the first one's start to the last one's
    end; None if a burst file was never consumed. Those batches also read the paced files
    that arrived meanwhile, so their rows, not the burst's turns, are what they drained.
    Timing from the burst's release instead would add the rest of the batch in flight when
    it landed, a wait uniform over one batch time that detect latency already counts."""
    by_id = {b["batch"]: b for b in batches}
    ends = batch_ends(batches)
    groups = {}
    for f in files:
        if f["phase"] == "burst":
            groups.setdefault(f["group"], []).append(consumed.get(f["name"]))
    if not groups or any(None in ids for ids in groups.values()):
        return None
    rates = []
    for _, ids in sorted(groups.items()):
        lo, hi = min(ids), max(ids)
        rows = sum(b["input_rows"] for b in batches if lo <= b["batch"] <= hi)
        rates.append(rows * 1000.0 / (ends[hi] - by_id[lo]["start_ms"]))
    return rates


def backlog_max(files, batches, consumed):
    """Most paced (non-burst) files released but not yet consumed when a batch started."""
    paced = [f for f in files if f["phase"] != "burst"]
    worst = 0
    for b in batches:
        waiting = sum(1 for f in paced
                      if f["released_ms"] <= b["start_ms"]
                      and consumed.get(f["name"], math.inf) >= b["batch"])
        worst = max(worst, waiting)
    return worst


# --- end-to-end metrics ---------------------------------------------------------------

def stream_view(raw):
    consumed = parse_source_log(raw["source_log"])
    lat = file_latencies(raw["files"], raw["batches"], consumed)
    steady = [x for x, f in zip(lat, raw["files"]) if f["phase"] == "steady" and x is not None]
    return consumed, lat, steady


def end_to_end(raw):
    """(metrics, attempted, failed, correct, summary-only extras) for one run."""
    setup_s = statistics.median(s["total_s"] for s in raw["setups"])
    w = raw["workload"]
    if w in BATCH_GATES:
        gate = BATCH_GATES[w]
        ok = [p for p in raw["passes"] if gate(p, raw["reference"])]
        attempted = len(raw["passes"])
        failed = attempted - len(ok)
        walls = [p["wall_s"] for p in (ok or [p for p in raw["passes"] if "wall_s" in p])]
        pass_s = statistics.median(walls)
        metrics = {"setup_s": setup_s, "turns_per_s": raw["turns"] / pass_s,
                   "detect_p50_s": pass_s}
        return metrics, attempted, failed, failed == 0, {}

    consumed, lat, steady = stream_view(raw)
    attempted = len(raw["files"])
    failed = attempted if not gate_stream(raw) else sum(1 for x in lat if x is None)
    rates = drain_rates(raw["files"], raw["batches"], consumed)
    p50 = percentile(steady, 0.5)
    p90 = percentile(steady, 0.9)
    if p50 is None or rates is None:
        raise ValueError("stream run too short to report detect latency or drain time")
    drain = statistics.median(rates)
    metrics = {"setup_s": setup_s, "turns_per_s": drain, "detect_p50_s": p50}
    extra = {"drain_turns_per_s": drain, "detect_p90_s": p90}
    return metrics, attempted, failed, failed == 0, extra


# --- per-layer metrics (traced run) ---------------------------------------------------

PER_LAYER = [
    ("setup.session_s", "s"), ("setup.warm_pass_s", "s"), ("compile.s", "s"),
    ("jvm.gc_s", "s"), ("cpu.busy_share", "share"),
    ("scan.rows", "count"), ("scan.bytes", "bytes"), ("scan.s", "s"),
    ("exchange.bytes", "bytes"), ("exchange.records", "count"), ("exchange.write_s", "s"),
    ("sort.s", "s"), ("sort.spill_bytes", "bytes"),
    ("eval_stage.run_s", "s"), ("eval_stage.task_skew", "ratio"),
    ("engine.s", "s"), ("engine.single_thread_s", "s"), ("engine.ns_per_turn", "ns"),
    ("engine.matches", "count"),
    ("rip.detect_s", "s"), ("rip.replication", "ratio"),
    ("sink.s", "s"), ("sink.bytes", "bytes"), ("sink.files", "count"), ("sink.rows", "count"),
    ("stream.batches", "count"), ("stream.batch_s_p50", "s"), ("stream.batch_s_max", "s"),
    ("stream.rows_per_batch_p50", "count"), ("stream.add_batch_s", "s"),
    ("stream.wal_commit_s", "s"), ("stream.state_update_s", "s"),
    ("stream.state_commit_s", "s"), ("stream.state_removal_s", "s"),
    ("stream.state_rows_max", "count"), ("stream.state_bytes_max", "bytes"),
    ("stream.detect_p90_s", "s"), ("gen.late_s_max", "s"), ("stream.backlog_files_max", "count"),
    ("trace.coverage", "share"), ("trace.overhead", "share"),
]


def _stage_role(stages):
    """Splits one action's stages into the map side (scan, filter, projection, exchange
    write) and the eval stage (the one reading most shuffled rows: sort + engine + output)."""
    reads = [s for s in stages if s["shuffle_read_records"] > 0]
    maps = [s for s in stages if s["shuffle_read_records"] == 0]
    ev = max(reads, key=lambda s: s["shuffle_read_records"]) if reads else None
    return maps, ev


def _sql_s(stage, metric):
    """A stage's SQL timing metric (Spark reports "sort time" and "scan time" in ms)."""
    return stage["accumulables"].get(metric, 0) / 1e3 if stage else 0.0


def _span_children(spans, parent):
    return {s["name"]: s for s in spans if s["parent"] == parent}


def _union_ms(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _batch_pass_layers(raw, p):
    spans = raw["spans"]
    kids = _span_children(spans, p["span"])
    by_span = {}
    for s in raw["stages"]:
        by_span.setdefault(s["span"], []).append(s)
    action = by_span.get(kids["output"]["id"], [])
    detect = by_span.get(kids["evaluate_call"]["id"], [])
    maps, ev = _stage_role(action)
    wall = p["wall_s"]
    m = {
        "scan.rows": sum(s["input_records"] for s in action),
        "scan.bytes": raw["input_bytes"],
        "scan.s": sum(_sql_s(s, "scan time") for s in maps),
        "exchange.bytes": sum(s["shuffle_write_bytes"] for s in maps),
        "exchange.records": sum(s["shuffle_write_records"] for s in maps),
        "exchange.write_s": sum(s["shuffle_write_ns"] for s in maps) / 1e9,
        "sort.s": _sql_s(ev, "sort time"),
        "sort.spill_bytes": ev["spill_disk_bytes"] if ev else 0,
        "eval_stage.run_s": (ev["complete_ms"] - ev["submit_ms"]) / 1e3 if ev else 0.0,
        "eval_stage.task_skew": (max(ev["task_run_ms"]) / max(1, statistics.median(ev["task_run_ms"]))
                                 if ev else 0.0),
        "rip.detect_s": (kids["evaluate_call"]["end_ms"] - kids["evaluate_call"]["start_ms"]) / 1e3,
        "rip.replication": sum(s["shuffle_write_records"] for s in maps) / raw["relevant_events"],
        "cpu.busy_share": sum(s["cpu_ns"] for s in action + detect) / 1e9 / (wall * raw["cores"]),
        "trace.coverage": _union_ms([(s["submit_ms"], s["complete_ms"]) for s in action + detect])
                          / (wall * 1e3),
    }
    # engine time: the eval stage's task time less what other layers account for; the
    # backfill's eval stage also writes parquet, so its count-only replay is used there
    engine_stage = ev
    if "count_only_s" in p:
        count_span = next((s for s in spans if s["name"] == "count_only"
                           and s["start_ms"] >= kids["output"]["end_ms"]), None)
        if count_span is not None:
            _, engine_stage = _stage_role(by_span.get(count_span["id"], []))
        m["sink.s"] = wall - p["count_only_s"]
        m["sink.bytes"] = p["sink_bytes"]
        m["sink.files"] = p["sink_files"]
        m["sink.rows"] = p["manifest_rows"]
    if engine_stage:
        m["engine.s"] = (engine_stage["run_ms"] / 1e3 - _sql_s(engine_stage, "sort time")
                         - engine_stage["fetch_wait_ms"] / 1e3)
    return m


def _stream_layers(raw):
    consumed, lat, steady = stream_view(raw)
    batches = raw["batches"]
    data = [b for b in batches if b["input_rows"] > 0]
    dur = lambda b, k: b["duration_ms"].get(k, 0) / 1e3
    stream_span = next(s for s in raw["spans"] if s["name"] == "stream")
    stages = [s for s in raw["stages"] if s["span"] is not None]
    maps = [s for s in stages if s["shuffle_read_records"] == 0 and s["shuffle_write_records"] > 0]
    evals = [s for s in stages if s["shuffle_read_records"] > 0]
    wall = (stream_span["end_ms"] - stream_span["start_ms"]) / 1e3
    skews = [max(s["task_run_ms"]) / max(1, statistics.median(s["task_run_ms"])) for s in evals
             if s["task_run_ms"]]
    state_commit_s = sum(b["state_commit_ms"] for b in batches) / 1e3
    return {
        "scan.rows": sum(s["input_records"] for s in stages),
        "scan.bytes": raw["input_bytes"],
        "scan.s": sum(_sql_s(s, "scan time") for s in maps),
        "exchange.bytes": sum(s["shuffle_write_bytes"] for s in maps),
        "exchange.records": sum(s["shuffle_write_records"] for s in maps),
        "exchange.write_s": sum(s["shuffle_write_ns"] for s in maps) / 1e9,
        "sort.s": sum(_sql_s(s, "sort time") for s in evals),
        "sort.spill_bytes": sum(s["spill_disk_bytes"] for s in evals),
        "eval_stage.run_s": sum(s["complete_ms"] - s["submit_ms"] for s in evals) / 1e3,
        "eval_stage.task_skew": statistics.median(skews) if skews else 0.0,
        "engine.s": sum(s["run_ms"] / 1e3 - _sql_s(s, "sort time") - s["fetch_wait_ms"] / 1e3 for s in evals)
                    - state_commit_s,
        "rip.detect_s": next((s["end_ms"] - s["start_ms"]) / 1e3 for s in raw["spans"]
                             if s["name"] == "start"),
        "rip.replication": sum(s["shuffle_write_records"] for s in maps) / raw["relevant_events"],
        "cpu.busy_share": sum(s["cpu_ns"] for s in stages) / 1e9 / (wall * raw["cores"]),
        "stream.batches": len(data),
        "stream.batch_s_p50": statistics.median(dur(b, "triggerExecution") for b in data),
        "stream.batch_s_max": max(dur(b, "triggerExecution") for b in data),
        "stream.rows_per_batch_p50": statistics.median(b["input_rows"] for b in data),
        "stream.add_batch_s": sum(dur(b, "addBatch") for b in batches),
        "stream.wal_commit_s": sum(dur(b, "walCommit") + dur(b, "commitOffsets") for b in batches),
        "stream.state_update_s": sum(b["state_update_ms"] for b in batches) / 1e3,
        "stream.state_commit_s": state_commit_s,
        "stream.state_removal_s": sum(b["state_removal_ms"] for b in batches) / 1e3,
        "stream.state_rows_max": max(b["state_rows"] for b in batches),
        "stream.state_bytes_max": max(b["state_bytes"] for b in batches),
        "stream.detect_p90_s": percentile(steady, 0.9),
        "gen.late_s_max": max(f["released_ms"] - f["scheduled_ms"] for f in raw["files"]) / 1e3,
        "stream.backlog_files_max": backlog_max(raw["files"], batches, consumed),
        "trace.coverage": _union_ms([(s["submit_ms"], s["complete_ms"]) for s in stages])
                          / (wall * 1e3),
    }


def per_layer(raw):
    """Every per-layer metric for one traced run; a layer the workload does not pass
    through reads 0."""
    m = {name: 0 for name, _ in PER_LAYER}
    setups = raw["setups"]
    m["setup.session_s"] = statistics.median(s["session_s"] for s in setups)
    m["setup.warm_pass_s"] = statistics.median(s["warm_pass_s"] for s in setups)
    m["compile.s"] = statistics.median(s["compile_s"] for s in setups)
    m["jvm.gc_s"] = raw["gc_s"]
    if "single_thread_s" in raw:
        m["engine.single_thread_s"] = raw["single_thread_s"]
        m["engine.ns_per_turn"] = raw["single_thread_s"] * 1e9 / max(1, raw["single_thread_events"])
        m["engine.matches"] = raw["single_thread_matches"]
    if raw["workload"] in BATCH_GATES:
        traced = [p for p in raw["passes"] if p["traced"] and "wall_s" in p]
        plain = [p["wall_s"] for p in raw["passes"] if not p["traced"] and "wall_s" in p]
        layers = [_batch_pass_layers(raw, p) for p in traced]
        for name in {k for l in layers for k in l}:
            m[name] = statistics.median(l.get(name, 0) for l in layers)
        if traced and plain:
            m["trace.overhead"] = (statistics.median(p["wall_s"] for p in traced)
                                   / statistics.median(plain) - 1)
    else:
        m.update(_stream_layers(raw))
    if m["stream.detect_p90_s"] is None:
        raise ValueError("too few steady-phase files to report a p90")
    return m, {name: unit for name, unit in PER_LAYER}
