#!/usr/bin/env python3
"""Benchmark entry point, run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_stream --seed 1 --seconds 30 --trace 0

Builds the engine and the benchmark from the checkout's sources with sbt
(once; later runs reuse the build while the sources are unchanged), runs
one workload in a fresh JVM on local[nproc], checks its outputs and prints
one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json.
With --trace 1 the workload runs twice with the same seed, untraced and
then traced, and the metrics are the per-layer metrics of BENCHMARK.json,
including the tracing overhead. Progress, the per-layer table and the run's
environment go to stderr; each run's environment is also appended to
perfbench/target/runs.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "target", "bench")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("cdc_stream", "corpus_gate")
HEAP = "3g"
# whole invocation, build excluded; the JVMs get what is left of it
DEADLINE_S = 170
BUILD_TIMEOUT_S = 850
# Spark on JDK 17 outside spark-submit needs these opens (the root build
# passes the same list to forked runs and tests)
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def code_rev(digest):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except OSError:
        pass
    return "src-" + digest[:12]


def build(digest):
    """Compile with sbt, offline, unless the last build saw these sources;
    returns the runtime classpath."""
    stamp, cp_file = os.path.join(OUT, "stamp"), os.path.join(OUT, "classpath")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            if f.read() == digest:
                return g.read()
    os.makedirs(OUT, exist_ok=True)
    cmd = ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
           "-Dsbt.log.noformat=true", "-Dsbt.color=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        cmd += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd += ["compile", "export Runtime/fullClasspath"]
    log("building engine and benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE="offline")
    r = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit("build failed")
    lines = [ln for ln in r.stdout.splitlines() if ln.strip() and not ln.startswith("[")]
    if not lines:
        raise SystemExit("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp


def launch(args, trace, cp, deadline):
    """One workload in a fresh JVM; returns its record and when it was
    launched (setup time counts from there)."""
    tag = f"{args.workload}-{args.seed}-{trace}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    log_path = os.path.join(OUT, "logs", f"{args.workload}-trace{trace}.log")
    out = os.path.join(work, "record.json")
    cmd = (["java", f"-Xmx{HEAP}"] + ADD_OPENS +
           [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(trace),
            "--work", work, "--out", out])
    launched = time.time()
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    try:
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"{args.workload} exited with {rc}; see {log_path}")
        with open(out) as f:
            return json.load(f), launched
    finally:
        shutil.rmtree(work, ignore_errors=True)


def end_to_end(rec, launched):
    """The end-to-end metrics (see README.md for what each one means on
    each workload), plus the latency sample count."""
    s, env = rec["samples"], rec["env"]
    session_s = env["session_ready_us"] / 1e6 - launched
    gen_s = rec["setup"]["gen_s"]
    setup_s = session_s + metrics.median(gen_s)[0] + rec["setup"]["warmup_s"]
    log(f"setup: session {session_s:.2f} s, inputs {' '.join(f'{g:.2f}' for g in gen_s)} s "
        f"(median counted), warm-up {rec['setup']['warmup_s']:.2f} s")
    log(f"measured window: GC {s['gc_s']:.2f} s, JIT compilation {s['jit_s']:.2f} s")
    commits = [tuple(c) for c in s["commits"]]
    if rec["workload"] == "cdc_stream":
        first = s["backlog_end"] + 1
        lat = [ns / 1e6 for ns in metrics.freshness(
            commits, first, s["final_version"], s["live_at_ns"], 1e9 / s["rate"])]
        drained_at = next(at for v, at in commits if v >= s["backlog_end"])
        throughput = s["backlog_rows"] / ((drained_at - s["stream_start_ns"]) / 1e9)
        bulk = s["snapshot_rows"] / metrics.median(s["backfill_s"])[0]
        p50 = metrics.median(lat)[0]
    else:
        batches = s["batches"]
        wall = {b["batch_id"]: (b["end_ns"] - b["start_ns"]) / 1e6 for b in batches}
        log("batches (ms): " + " ".join(
            f"{wall[b['batch_id']]:.0f}{'R' if b['refresh'] else ''}" for b in batches))
        steady = [wall[b["batch_id"]] for b in batches if not b["refresh"]]
        refresh = [wall[b["batch_id"]] for b in batches if b["refresh"]]
        # every doc waits for its whole batch
        lat = [wall[b["batch_id"]] for b in batches for _ in range(s["batch_rows"])]
        last_commit = max(at for _, at in commits)
        throughput = s["docs_offered"] / ((last_commit - s["stream_start_ns"]) / 1e9)
        bulk = s["corpus_docs"] / (metrics.median(refresh)[0] / 1e3)
        p50 = metrics.median(steady)[0]
    p99, n99 = metrics.percentile(lat, 0.99)
    return {
        "latency_p50_ms": (p50, "ms"),
        "latency_p99_ms": (p99, "ms"),
        "throughput_rows_per_s": (throughput, "rows/s"),
        "bulk_rows_per_s": (bulk, "rows/s"),
        "setup_s": (setup_s, "s"),
    }, n99


def per_layer(rec, untraced, n_latency):
    """Per-layer metrics from the traced run's spans and Spark events (see
    README.md for the layer -> metric -> end-to-end map)."""
    t, s = rec["trace_data"], rec["samples"]
    spans = {sp["id"]: sp for sp in t["spans"]}
    children = {}
    for sp in spans.values():
        children.setdefault(sp["parent"], []).append(sp)

    def subtree(sid):
        out, todo = set(), [sid]
        while todo:
            x = todo.pop()
            out.add(x)
            todo += [c["id"] for c in children.get(x, [])]
        return out

    stages = {}
    for st in t["stages"]:
        prev = stages.get(st["stageId"])
        if prev is None or st["attempt"] >= prev["attempt"]:
            stages[st["stageId"]] = st
    jobs_by_span = {}
    for j in t["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)

    def jobs_of(sp):
        return [j for x in subtree(sp["id"]) for j in jobs_by_span.get(x, [])]

    def stages_of(sp):
        return [stages[i] for j in jobs_of(sp) for i in j["stageIds"] if i in stages]

    def per_span(sps, fn):
        return sum(fn(sp) for sp in sps) / len(sps)

    def plan_ms(sp):
        return sum(p["planMs"] for p in t["plans"] if sp["startUs"] <= p["startUs"] < sp["endUs"])

    def dur_s(sp):
        return (sp["endUs"] - sp["startUs"]) / 1e6

    mb = 1 << 20
    measured = {b["batch_id"] for b in s["batches"]}
    runs = [sp for sp in spans.values()
            if sp["name"] == "run_batch" and sp["attrs"]["batch_id"] in measured]
    if rec["workload"] == "cdc_stream":
        # counts come from the catch-up, whose batches the backlog and the
        # cap fix, so they repeat exactly; times from the steady stream
        counted = [sp for sp in runs if sp["attrs"]["catch_up"] and not sp["attrs"]["maintenance"]]
        timed = [sp for sp in runs if not sp["attrs"]["catch_up"] and not sp["attrs"]["maintenance"]]
        periodic = [sp for sp in runs if sp["attrs"]["maintenance"]]
        bulk = [sp for sp in spans.values() if sp["name"] == "overwrite"][-1:]
        input_rows = s["backlog_rows"] * len(counted) / len(
            [sp for sp in runs if sp["attrs"]["catch_up"]])
        committed = s["committed_rows"]
        admitted_ratio = 0.0
    else:
        refresh = {b["batch_id"]: b["refresh"] for b in s["batches"]}
        counted = timed = [sp for sp in runs if not refresh[sp["attrs"]["batch_id"]]]
        periodic = [sp for sp in runs if refresh[sp["attrs"]["batch_id"]]]
        bulk = periodic[:1]
        input_rows = s["batch_rows"] * len(counted)
        committed = s["docs_offered"]
        admitted_ratio = sum(b["admitted"] for b in s["batches"]) / s["docs_offered"]

    batch_spans = [sp for sp in spans.values()
                   if sp["name"] == "batch" and sp["attrs"]["batch_id"] in measured]
    progress = [p for p in t["progress"] if p["query"] == s["query"] and p["batchId"] in measured]
    self_by_layer = {}
    for sp in (spans[x] for b in batch_spans for x in subtree(b["id"])):
        kids = [(c["startUs"], c["endUs"]) for c in children.get(sp["id"], [])]
        self_by_layer[sp["layer"]] = self_by_layer.get(sp["layer"], 0.0) + metrics.uncovered(
            (sp["startUs"], sp["endUs"]), kids) / 1e6

    m = {
        "sources.fetch_rows_per_committed_row": (s["fetched_rows"] / committed, "ratio"),
        "sources.fetch_s_per_batch": (s["fetch_s"] / len(runs), "s"),
        "stream.trigger_overhead_ms_p50": (metrics.median(
            [p["durations"]["triggerExecution"] - p["durations"].get("addBatch", 0)
             for p in progress])[0], "ms"),
        "stream.query_planning_ms_p50": (metrics.median(
            [p["durations"].get("queryPlanning", 0) for p in progress])[0], "ms"),
        "batch.wall_s_p50": (metrics.median([dur_s(sp) for sp in timed])[0], "s"),
        "batch.jobs": (per_span(counted, lambda sp: len(jobs_of(sp))), "count"),
        "batch.stages": (per_span(counted, lambda sp: len(stages_of(sp))), "count"),
        "batch.tasks": (per_span(counted, lambda sp: sum(x["tasks"] for x in stages_of(sp))), "count"),
        "batch.task_s": (per_span(counted, lambda sp: sum(x["runMs"] for x in stages_of(sp)) / 1e3), "s"),
        "batch.plan_ms": (per_span(counted, plan_ms), "ms"),
        "batch.driver_only_s": (per_span(timed, lambda sp: metrics.uncovered(
            (sp["startUs"], sp["endUs"]),
            [(j["startUs"], j["endUs"]) for j in jobs_of(sp) if j["endUs"] >= 0]) / 1e6), "s"),
        "batch.read_mb": (per_span(counted, lambda sp: sum(x["inputBytes"] for x in stages_of(sp)) / mb), "MB"),
        "batch.write_mb": (per_span(counted, lambda sp: sum(x["outputBytes"] for x in stages_of(sp)) / mb), "MB"),
        "batch.shuffle_mb": (per_span(counted, lambda sp: sum(x["shuffleWriteBytes"] for x in stages_of(sp)) / mb), "MB"),
        "batch.rows_written_per_input_row": (
            sum(x["outputRecords"] for sp in counted for x in stages_of(sp)) / input_rows, "ratio"),
        "periodic.wall_s": (metrics.median([dur_s(sp) for sp in periodic])[0], "s"),
        "periodic.jobs": (per_span(periodic, lambda sp: len(jobs_of(sp))), "count"),
        "bulk.wall_s": (per_span(bulk, dur_s), "s"),
        "bulk.jobs": (per_span(bulk, lambda sp: len(jobs_of(sp))), "count"),
        "bulk.task_s": (per_span(bulk, lambda sp: sum(x["runMs"] for x in stages_of(sp)) / 1e3), "s"),
        "bulk.read_mb": (per_span(bulk, lambda sp: sum(x["inputBytes"] for x in stages_of(sp)) / mb), "MB"),
        "bulk.write_mb": (per_span(bulk, lambda sp: sum(x["outputBytes"] for x in stages_of(sp)) / mb), "MB"),
        "bulk.shuffle_mb": (per_span(bulk, lambda sp: sum(x["shuffleWriteBytes"] for x in stages_of(sp)) / mb), "MB"),
        "bulk.spill_mb": (per_span(bulk, lambda sp: sum(x["spillBytes"] for x in stages_of(sp)) / mb), "MB"),
        "core.watermark_set_ms_p50": (metrics.median(
            [dur_s(sp) * 1e3 for sp in spans.values() if sp["name"] == "watermark_set"])[0], "ms"),
        "gate.admitted_ratio": (admitted_ratio, "ratio"),
        "spark.gc_s": (s["gc_s"], "s"),
        "spark.jit_s": (s["jit_s"], "s"),
        "spark.storage_mb": (max(b["storage_bytes"] for b in s["batches"]) / mb, "MB"),
        "latency.samples": (n_latency, "count"),
    }
    for layer in ("streaming", "sources", "pipeline", "core"):
        m[f"self.{layer}_s_per_batch"] = (self_by_layer.get(layer, 0.0) / len(batch_spans), "s")
    base = untraced["latency_p50_ms"][0]
    m["trace.overhead_pct"] = ((rec["_e2e"]["latency_p50_ms"][0] - base) / base * 100.0, "%")
    return m


def declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec[kind]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"no engine sources under {ROOT}/src/main/scala; "
                         "run from the root of a full checkout")

    digest = source_digest()
    cp = build(digest)
    deadline = time.time() + DEADLINE_S
    rec, launched = launch(args, 0, cp, deadline)
    e2e, n_latency = end_to_end(rec, launched)
    records = [rec]
    if args.trace:
        traced, t_launched = launch(args, 1, cp, deadline)
        traced["_e2e"] = end_to_end(traced, t_launched)[0]
        values = per_layer(traced, e2e, n_latency)
        records.append(traced)
        kind = "per_layer"
        log("per-layer table (traced run):")
        for k in sorted(values):
            log(f"  {k:44s} {values[k][0]:14.4f} {values[k][1]}")
        for k in sorted(e2e):
            log(f"  e2e {k:40s} untraced {e2e[k][0]:12.4f} traced {traced['_e2e'][k][0]:12.4f}")
    else:
        values, kind = e2e, "end_to_end"

    want = declared(kind)
    if set(values) != set(want) or any(values[k][1] != want[k] for k in want):
        raise SystemExit(f"metrics do not match BENCHMARK.json {kind}: "
                         f"extra {sorted(set(values) - set(want))} "
                         f"missing {sorted(set(want) - set(values))}")

    checks = [c for r in records for c in r["checks"]]
    for c in checks:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")
    env = dict(records[0]["env"], heap=HEAP, code_rev=code_rev(digest),
               workload=args.workload, seed=args.seed, trace=args.trace)
    log("env " + json.dumps(env, sort_keys=True))
    with open(os.path.join(OUT, "runs.jsonl"), "a") as f:
        f.write(json.dumps(dict(env, metrics={k: v[0] for k, v in values.items()})) + "\n")

    attempted = sum(r["attempted"] for r in records)
    failed = sum(r["failed"] for r in records)
    print(json.dumps({
        "correct": failed == 0 and all(c["ok"] for c in checks),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(values.items())},
    }))


if __name__ == "__main__":
    main()
