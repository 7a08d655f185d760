"""Per-layer metrics of one traced run, named after the program's modules.

Layers: `sources` (GraftShardsSource, RecordAdmission), `streaming` (the
micro-batch engine, state store and IdempotentSink), `ops` (the query
families), `functions` (the SQL kernels), `setup`, `jvm`, and the
benchmark's own `generator`. `layer.<name>.self_s` is the self time of the
spans of that layer along the run's main thread; `idle` is time the
consumer waited for the producer, `generator` the backlog the main thread
writes before the catch-up phase, and `harness` the benchmark's own work.
"""
import json
import os

import metrics as M

FAMILIES = ("events", "corpus", "gates")
OPS_FIELDS = ("build_ms", "execute_ms", "driver_ms", "jobs", "stages", "tasks",
              "task_run_ms", "task_cpu_ms", "task_gc_ms", "scan_bytes", "shuffle_bytes",
              "shuffle_fetch_wait_ms", "spill_bytes")
FUNCTIONS = ("minhash_signature_ns_per_row", "chargram_minhash_ns_per_row",
             "ngram_jaccard_ns_per_pair", "cosine_sim_ns_per_pair", "winnow_md5_ns_per_row")
LAYERS = ("setup", "harness", "ops", "streaming", "sources", "functions", "generator", "idle")
# the order in which a micro-batch runs the phases its progress report times
BATCH_PHASES = (("latestOffset", "sources.latest_offset"), ("walCommit", "streaming.wal_commit"),
                ("getBatch", "sources.get_batch"), ("queryPlanning", "streaming.planning"),
                ("addBatch", "streaming.add_batch"), ("commitOffsets", "streaming.commit_offsets"))


def _unit(name):
    base = name.rsplit(".", 1)[0] if name.endswith((".p50", ".p90", ".p99", ".max")) else name
    for suffix, unit in (("_ns_per_row", "ns"), ("_ns_per_pair", "ns"), ("_bytes", "bytes"),
                         ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"), ("_ratio", "ratio"),
                         ("error_rate", "ratio")):
        if base.endswith(suffix):
            return unit
    return "count"


UNITS = {n: _unit(n) for n in (
    ["sources.latest_offset_ms.p50", "sources.latest_offset_ms.p90", "sources.get_batch_ms.p50",
     "sources.catchup_latest_offset_ms.p50",
     "sources.rows_per_batch.p50", "sources.lag_records.max",
     "streaming.batches", "streaming.trigger_ms.p50", "streaming.trigger_ms.p90",
     "streaming.planning_ms.p50", "streaming.wal_commit_ms.p50",
     "streaming.commit_offsets_ms.p50", "streaming.checkpoint_files",
     "streaming.add_batch_ms.p50", "streaming.state_commit_ms", "streaming.state_update_ms",
     "streaming.state_removal_ms", "streaming.state_rows", "streaming.state_bytes",
     "streaming.dedup_drop_ratio", "streaming.sink_write_ms.p50",
     "streaming.burst_p50_ms", "streaming.burst_p90_ms",
     "streaming.flood_p50_ms", "streaming.flood_p90_ms",
     "streaming.gates.batches", "streaming.gates.planning_ms",
     "streaming.gates.wal_commit_ms", "streaming.gates.state_commit_ms"]
    + [f"ops.{f}.{k}" for f in FAMILIES for k in OPS_FIELDS]
    + [f"functions.{k}" for k in FUNCTIONS]
    + ["setup.session_s", "jvm.gc_ms", "jvm.cpu_s", "jvm.heap_used_peak_mb",
       "generator.late_ms.p99", "generator.files", "error_rate"]
    + [f"layer.{x}.self_s" for x in LAYERS]
    + ["trace.unattributed_s", "trace.spans"])}


def read_jsonl(path):
    """The records of a JSON-lines file the harness wrote; none if it is absent."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def _read(out, name):
    return read_jsonl(os.path.join(out, name))


def _layer(name):
    head = name.split(".", 1)[0]
    return {"suite": "harness", "ingest": "idle"}.get(head, head)


def span_tree(spans, progress):
    """The run's spans plus one span per micro-batch and per batch phase
    (from progress reports), each attached under the innermost main-thread
    span that encloses it; sink writes go under their batch's add_batch.
    Returns id -> (parent, start, end, name, thread)."""
    tree = {s["id"]: (s["parent"], s["start_ms"], s["end_ms"], s["name"], s["thread"])
            for s in spans}
    main = [(sid, a, b) for sid, (p, a, b, n, t) in tree.items() if t == "main"]

    def innermost(t0, candidates):
        best = None
        for sid, a, b in candidates:
            if a <= t0 <= b and (best is None or b - a < best[2] - best[1]):
                best = (sid, a, b)
        return best[0] if best else 0

    next_id = max(tree, default=0) + 1
    add_batch = []
    for p in progress:
        dur = p["duration_ms"]
        start = p["timestamp_ms"]
        end = start + dur.get("triggerExecution", 0)
        bid = next_id
        next_id += 1
        tree[bid] = (innermost(start, main), start, end, "streaming.batch", "stream")
        t = start
        for key, name in BATCH_PHASES:
            if key in dur:
                tree[next_id] = (bid, t, t + dur[key], name, "stream")
                if key == "addBatch":
                    add_batch.append((next_id, t, t + dur[key]))
                t += dur[key]
                next_id += 1
    for sid, (p, a, b, n, t) in list(tree.items()):
        if n == "streaming.sink_write" and p == 0:
            tree[sid] = (innermost(a, add_batch), a, b, n, t)
    return tree


def per_layer(out, ing, queries, jvm, attempted, failed, jvm_wall_s):
    """Every per-layer metric of a traced run, by name."""
    v = {}
    progress = _read(out, "progress.jsonl")
    spans = _read(out, "spans.jsonl")
    live_run = ing["phases"].get("burst", {}).get("run_id")
    catch_run = ing["phases"].get("catchup", {}).get("run_id")
    live = [p for p in progress if p["run_id"] == live_run]
    live_data = [p for p in live if p["input_rows"] > 0]
    catch = [p for p in progress if p["run_id"] == catch_run and p["input_rows"] > 0]

    def d(batches, key):
        return [p["duration_ms"].get(key, 0) for p in batches]

    v["sources.latest_offset_ms.p50"] = M.percentile(d(live_data, "latestOffset"), 50)
    v["sources.latest_offset_ms.p90"] = M.percentile(d(live_data, "latestOffset"), 90)
    v["sources.get_batch_ms.p50"] = M.percentile(d(live_data, "getBatch"), 50)
    v["sources.catchup_latest_offset_ms.p50"] = M.percentile(d(catch, "latestOffset"), 50)
    files = ing["phases"].get("live_files", {})
    v["sources.rows_per_batch.p50"] = M.percentile([p["input_rows"] for p in live_data], 50)
    appends, commits = [], []
    for ph in ("burst", "flood"):
        if ph in ing:
            appends += [at for _, _, _, at in ing[ph]["recs"]]
            commits += [ing[ph]["first"][e] for e, _, _, _ in ing[ph]["recs"] if e in ing[ph]["first"]]
    v["sources.lag_records.max"] = M.max_lag(appends, commits)

    v["streaming.batches"] = len(live)
    v["streaming.trigger_ms.p50"] = M.percentile(d(live_data, "triggerExecution"), 50)
    v["streaming.trigger_ms.p90"] = M.percentile(d(live_data, "triggerExecution"), 90)
    v["streaming.planning_ms.p50"] = M.percentile(d(live_data, "queryPlanning"), 50)
    v["streaming.wal_commit_ms.p50"] = M.percentile(d(live_data, "walCommit"), 50)
    v["streaming.commit_offsets_ms.p50"] = M.percentile(d(live_data, "commitOffsets"), 50)
    v["streaming.add_batch_ms.p50"] = M.percentile(d(live_data, "addBatch"), 50)
    v["streaming.checkpoint_files"] = files.get("checkpoint_files")
    for k in ("state_commit_ms", "state_update_ms", "state_removal_ms"):
        v[f"streaming.{k}"] = sum(p[k] for p in live)
    v["streaming.state_rows"] = max((p["state_rows"] for p in live), default=0)
    v["streaming.state_bytes"] = max((p["state_bytes"] for p in live), default=0)
    read = sum(p["input_rows"] for p in live)
    dropped = sum(p["dedup_dropped"] + p["state_dropped_late"] for p in live)
    v["streaming.dedup_drop_ratio"] = (read - dropped) / read if read else None
    for ph in ("burst", "flood"):
        lat = ing[ph]["lat"] if ph in ing else []
        v[f"streaming.{ph}_p50_ms"] = M.percentile(lat, 50)
        v[f"streaming.{ph}_p90_ms"] = M.percentile(lat, 90)
    sink = [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == "streaming.sink_write"]
    v["streaming.sink_write_ms.p50"] = M.percentile(sink, 50)

    warm = [q for q in queries if q["pass"] == "warm"]
    n_warm = len({q["index"] for q in warm}) or 1
    gates = [p for p in progress if p["tag"] == "gates.warm"]
    n_gate_runs = max(1, sum(1 for q in warm if q["family"] == "gates"))
    v["streaming.gates.batches"] = len(gates) / n_gate_runs
    v["streaming.gates.planning_ms"] = sum(d(gates, "queryPlanning")) / n_gate_runs
    v["streaming.gates.wal_commit_ms"] = sum(d(gates, "walCommit")) / n_gate_runs
    v["streaming.gates.state_commit_ms"] = sum(p["state_commit_ms"] for p in gates) / n_gate_runs

    counters = (_read(out, "jobs.json") or [{}])[0]
    intervals = _read(out, "job_intervals.jsonl")
    for fam in FAMILIES:
        qs = [q for q in warm if q["family"] == fam]
        c = counters.get(f"{fam}.warm", {})
        v[f"ops.{fam}.build_ms"] = sum(q["build_ms"] for q in qs) / n_warm
        v[f"ops.{fam}.execute_ms"] = sum(q["execute_ms"] for q in qs) / n_warm
        jobs = [(j["start_ms"], j["end_ms"]) for j in intervals if j["tag"] == f"{fam}.warm"]
        driver = 0.0
        for q in qs:
            a = q["start_ms"]
            b = a + q["build_ms"] + q["execute_ms"]
            driver += (b - a) - M.covered(jobs, a, b)
        v[f"ops.{fam}.driver_ms"] = driver / n_warm
        for k in OPS_FIELDS[3:]:
            v[f"ops.{fam}.{k}"] = c.get(k, 0.0) / n_warm

    for f in _read(out, "functions.jsonl"):
        v[f"functions.{f['metric']}"] = f["ns_per_row"]
    session = [s for s in spans if s["name"] == "setup.session"]
    v["setup.session_s"] = (session[0]["end_ms"] - session[0]["start_ms"]) / 1000 if session else None
    v["jvm.gc_ms"] = jvm["gc_ms"]
    v["jvm.cpu_s"] = jvm["cpu_s"]
    v["jvm.heap_used_peak_mb"] = jvm["heap_used_peak_mb"]
    late = [at - due for ph in ("burst", "flood") if ph in ing for _, _, due, at in ing[ph]["recs"]]
    v["generator.late_ms.p99"] = M.percentile(late, 99)
    v["generator.files"] = files.get("files")
    v["error_rate"] = failed / attempted

    tree = span_tree(spans, progress)
    self_t = M.self_times({sid: (p, a, b) for sid, (p, a, b, n, t) in tree.items()})
    main_ids = set()
    for sid, (p, a, b, n, t) in tree.items():
        cur = sid
        while cur in tree and tree[cur][0] != 0:
            cur = tree[cur][0]
        if cur in tree and tree[cur][4] == "main":
            main_ids.add(sid)
    for x in LAYERS:
        v[f"layer.{x}.self_s"] = sum(self_t[s] for s in main_ids if _layer(tree[s][3]) == x) / 1000
    roots = sum(b - a for sid, (p, a, b, n, t) in tree.items() if p == 0 and t == "main")
    v["trace.unattributed_s"] = jvm_wall_s - roots / 1000
    v["trace.spans"] = len(tree)
    return v
