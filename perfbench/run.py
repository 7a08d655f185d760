#!/usr/bin/env python3
"""The repository benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload suite --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. It builds the program and the harness from
source (first run only), generates the seeded inputs, runs the workload in
one JVM at local[nproc], checks every output, and prints as its last stdout
line one JSON object: `correct`, `attempted`, `failed` and `metrics`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import layers  # noqa: E402
import metrics as M  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
JVM_DEADLINE_S = 140  # with input generation and the oracle check, a run ends within 180 s

# Each workload's data scale: the tables are replicated this many times by
# tools/gen_scale.py, and the harness scales its ingest load by it.
REPLICAS = {"suite": 1, "scaled": 2}
FAMILIES = ("events", "corpus", "gates")

# Append-to-commit latency is not here but in the per-layer
# `streaming.{burst,flood}_p{50,90}_ms`: across ten seeds on a 4-core box its
# spread (IQR / median) reached 0.26, more than the largest bound allowed.
END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"),
    ("catchup_rps", "1/s"),
    ("events_s", "s"), ("corpus_s", "s"), ("gates_s", "s"), ("first_pass_s", "s"),
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HARNESS, "src", "**", "*"), recursive=True)
                   + [os.path.join(HARNESS, "build.sbt"),
                      os.path.join(HARNESS, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program's sources and the harness; returns the classpath."""
    stamp = os.path.join(WORK, "build.json")
    digest = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("hash") == digest and all(os.path.exists(e) for e in s["classpath"].split(os.pathsep)):
            return s["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} -Xmx2g")
    log("perfbench: building the program and harness")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        log(p.stdout[-4000:], p.stderr[-2000:])
        fail("build failed")
    cp = p.stdout.strip().splitlines()[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"hash": digest, "classpath": cp}, f)
    return cp


# ---------------------------------------------------------------- JVM

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def java_cmd(cp, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap keeps peak RSS from depending on when the heap grew
    return (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", cp, "perfbench.Main"] + args)


def run_jvm(cp, args, out_prefix, timeout):
    """Run the harness; returns (spawn epoch ms, READY epoch ms)."""
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(out_prefix + ".out", "w") as so, open(out_prefix + ".err", "w") as se:
        t0 = time.time() * 1000
        p = subprocess.Popen(java_cmd(cp, args), stdout=so, stderr=se, cwd=ROOT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness timed out: {' '.join(args[:1])}")
    if rc != 0:
        with open(out_prefix + ".err") as f:
            log(f.read()[-3000:])
        fail(f"harness exited with {rc}")
    with open(out_prefix + ".out") as f:
        ready = [float(line.split()[1]) for line in f if line.startswith("READY ")]
    if not ready:
        fail("harness never became ready")
    return t0, ready[0]


# ---------------------------------------------------------------- checks

def check_queries(data, check_dir, names):
    """Compare each checked query's output with its DuckDB oracle using the
    repository's own comparison (tools/check_local.py). Returns name -> reason."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_local.py"),
                        data, check_dir], capture_output=True, text=True, timeout=20)
    ok = {line.split()[1].rstrip(":") for line in p.stdout.splitlines() if line.startswith("OK ")}
    bad = {}
    for line in p.stdout.splitlines():
        if line.startswith("FAIL "):
            bad[line.split()[1].rstrip(":")] = line[5:].strip()
    for n in names:
        if n not in ok and n not in bad:
            bad[n] = "no output or no oracle"
    return bad


def read_sink(path):
    """(event_id, user_id, batch_id) rows an IdempotentSink committed."""
    import pyarrow.dataset as ds
    if not os.path.isdir(path):
        return []
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["event_id", "user_id", "batch_id"])
    return list(zip(t.column("event_id").to_pylist(), t.column("user_id").to_pylist(),
                    t.column("batch_id").to_pylist()))


def ingest_results(out):
    """Latency, throughput and correctness of the three ingest phases."""
    d = os.path.join(out, "ingest")
    phases = {p["phase"]: p for p in layers.read_jsonl(os.path.join(d, "phases.jsonl"))}
    progress = [p for p in layers.read_jsonl(os.path.join(out, "progress.jsonl"))
                if p["query"].startswith("perfbench_")]
    sent = {}
    with open(os.path.join(d, "sent.tsv")) as f:
        for line in f:
            ph, eid, key, shard, due, at, redo = line.rstrip("\n").split("\t")
            if redo == "0":
                sent.setdefault(ph, []).append((int(eid), int(key), float(due), float(at)))
    res = {"failed": 0, "attempted": 0, "failures": [], "phases": phases}
    for ph, query in (("burst", "live"), ("flood", "live"), ("catchup", "catchup")):
        info = phases.get(ph)
        recs = sent.get(ph, [])
        res["attempted"] += len(recs)
        if info is None:
            res["failed"] += len(recs)
            res["failures"].append(f"ingest {ph}: phase did not run")
            continue
        batches = [p for p in progress if p["run_id"] == info["run_id"]]
        commit = {p["batch"]: p["timestamp_ms"] + p["duration_ms"].get("triggerExecution", 0)
                  for p in batches}
        rows = read_sink(os.path.join(d, f"sink_{query}"))
        first = M.first_commits([(e, b) for e, _, b in rows], commit)
        ids = {r[0] for r in recs}
        on_time = {e for e, t in first.items() if e in ids and t <= info["end_ms"]}
        late = len(ids) - len(on_time)
        # the reference's oracle: dedupAndGroupByKey(received) == groupByKey(sent)
        received = [(k, e) for e, k, b in sorted(rows, key=lambda r: (r[2], r[0])) if e in ids]
        # records missing by the deadline count as late; the order check
        # runs on what was delivered
        bad = M.ingest_mismatches(received, [(k, e) for e, k, _, _ in recs if e in first])
        mism = sum(1 for e, k, _, _ in recs if k in bad and e in on_time)
        res["failed"] += late + mism
        if info.get("error"):
            res["failures"].append(f"ingest {ph}: {info['error']}")
        if late:
            res["failures"].append(f"ingest {ph}: {late} records not committed before the drain deadline")
        for k, why in sorted(bad.items())[:5]:
            res["failures"].append(f"ingest {ph}: key {k}: {why}")
        lat = M.latencies([(e, due) for e, _, due, _ in recs], first)
        in_phase = [p for p in batches if p["timestamp_ms"] >= info["start_ms"] - 1
                    and p["timestamp_ms"] <= info["end_ms"]]
        res[ph] = {"lat": lat, "batches": len([p for p in in_phase if p["input_rows"] > 0]),
                   "first": first, "recs": recs}
        if ph == "catchup":
            last = max((first[e] for e in ids if e in first), default=None)
            res[ph]["rps"] = len(ids) / ((last - info["start_ms"]) / 1000) if last else None
    return res


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(REPLICAS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "tools", "check_local.py"))):
        fail("run from the root of a checkout of the program")
    replicas = REPLICAS[a.workload]
    cp = build()
    start = time.time()
    cpus = os.cpu_count() or 1

    tag = f"{a.workload}-{a.seed}-{a.trace}"
    out = os.path.join(WORK, "runs", tag)
    data = os.path.join(WORK, "data", tag)
    for p in (out, data):
        shutil.rmtree(p, ignore_errors=True)
    os.makedirs(out)
    steps = {}
    try:
        t_gen = time.time()
        if replicas == 1:
            gendata.generate(data, a.seed)
        else:
            gendata.generate(data + "-base", a.seed)
            subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_scale.py"),
                            data + "-base", data, str(replicas)],
                           check=True, capture_output=True, timeout=20)
            shutil.rmtree(data + "-base")

        steps["generate_s"] = time.time() - t_gen
        args = [f"out={out}", f"data={data}", f"cpus={cpus}", f"seconds={a.seconds}",
                f"trace={a.trace}", f"seed={a.seed}", f"replicas={replicas}"]
        t_jvm = time.time()
        t0, ready = run_jvm(cp, args, os.path.join(out, "jvm"), JVM_DEADLINE_S)
        steps["jvm_s"] = time.time() - t_jvm
        setup = (ready - t0) / 1000
        result = report(a, out, data, setup, steps, start)
    finally:
        shutil.rmtree(data, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    print(json.dumps(result))


def report(a, out, data, setup, steps, start):
    jvm = layers.read_jsonl(os.path.join(out, "jvm.json"))[0]
    queries = layers.read_jsonl(os.path.join(out, "queries.jsonl"))
    names = [q["query"] for q in queries if q["pass"] == "first"]
    failures = list(jvm["failures"])
    t_check = time.time()
    bad = check_queries(data, os.path.join(out, "check"), names)
    steps["oracle_check_s"] = time.time() - t_check
    failures += [f"query {n}: {why}" for n, why in sorted(bad.items())]
    q_failed = sum(1 for q in queries if not q["ok"]) + len(bad)
    ing = ingest_results(out)
    failures += ing["failures"]
    attempted = len(queries) + len(names) + ing["attempted"]
    failed = q_failed + ing["failed"]

    def fam_walls(fam):
        """The family's wall in each scored warm pass, in seconds."""
        per_pass = {}
        for q in queries:
            if q["family"] == fam and q["pass"] == "warm":
                per_pass[q["index"]] = per_pass.get(q["index"], 0) + (q["build_ms"] + q["execute_ms"]) / 1000
        return list(per_pass.values())

    e2e = {
        "setup_s": setup,
        "peak_rss_mb": jvm["vm_hwm_mb"],
        "catchup_rps": ing["catchup"]["rps"] if "catchup" in ing else None,
        "first_pass_s": sum((q["build_ms"] + q["execute_ms"]) / 1000 for q in queries if q["pass"] == "first"),
    }
    counts = {}
    for ph in ("burst", "flood"):
        s = M.summarize(ing[ph]["lat"]) if ph in ing else {"n": 0, "p50": None, "p90": None}
        e2e[f"{ph}_p50_ms"], e2e[f"{ph}_p90_ms"] = s["p50"], s["p90"]
        counts[ph] = (s["n"], ing[ph]["batches"] if ph in ing else 0)
    for fam in FAMILIES:
        e2e[f"{fam}_s"] = M.percentile(fam_walls(fam), 50)

    diag = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "parallelism": jvm["cpus"],
            "steal_s": jvm["steal_s"], "spin_floor_ms": jvm["spin_floor_ms"],
            "warm_passes": {fam: [round(x, 3) for x in fam_walls(fam)] for fam in FAMILIES},
            "steps_s": steps, "wall_s": time.time() - start, "measured": e2e,
            "failures": failures}
    log("perfbench diagnostics " + json.dumps(diag))
    for ph in ("burst", "flood"):
        n, b = counts[ph]
        log(f"perfbench {ph}: p50 {e2e[ph + '_p50_ms']} ms, p90 {e2e[ph + '_p90_ms']} ms "
            f"over {n} records in {b} batches")
    for f in failures:
        log(f"perfbench FAILED {f}")
    if a.trace:
        values = layers.per_layer(out, ing, queries, jvm, attempted, failed, steps["jvm_s"])
        spec = layers.UNITS
    else:
        values = e2e
        spec = dict(END_TO_END)
    missing = [n for n in spec if values.get(n) is None or not M.valid_name(n)]
    if missing:
        fail(f"not measured or badly named: {', '.join(missing)}")
    mets = {n: {"value": values[n], "unit": u} for n, u in spec.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": mets}


if __name__ == "__main__":
    main()
