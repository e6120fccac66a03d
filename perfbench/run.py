#!/usr/bin/env python3
"""Benchmark of the engine's named queries, one workload per run.

    python3 perfbench/run.py --workload recsys --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) into the checkout; later runs reuse the
build while it is newer than every source. One JVM runs the workload's
keys one after another on local[cores]: several session set-ups, one
cold pass in a fresh session, unmeasured settle passes, then measured
warm passes for at least --seconds. Every key is checked against
perfbench/expected.json. The last stdout line is a
JSON object: with --trace 0 the end-to-end metrics, with --trace 1 the
per-layer metrics of a traced run (whose span file is written under
.bench_build/perfbench/trace/). See perfbench/README.md.
"""

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import uuid

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
FIXTURE = os.path.join(HERE, "fixture")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
ENGINE_SOURCES = (os.path.join(ROOT, "src", "main"),
                  os.path.join(ROOT, "build.sbt"),
                  os.path.join(ROOT, "project", "build.properties"))
HARNESS_SOURCES = (os.path.join(HERE, "src", "main"),
                   os.path.join(HERE, "build.sbt"),
                   os.path.join(HERE, "project", "build.properties"))
ENGINE_CLASSES = os.path.join(ROOT, "target", "scala-2.13", "classes")
HARNESS_CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
LAUNCH = os.path.join(HERE, "target", "launch.txt")

WORKLOADS = json.load(open(os.path.join(HERE, "workloads.json")))
SETUPS = 3
JVM_TIMEOUT_S = 160
HEAP = "-Xmx3g"


class Preflight(Exception):
    """A broken setup, reported by cause instead of a result."""


def newest_mtime(paths):
    newest = 0.0
    for p in paths:
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
        for d, _, files in os.walk(p):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def build():
    """Compile the engine and the harness when a source is newer than
    the last build or the classes are gone, then check that the build
    left classes at least as new as every source. sbt compiles
    incrementally, so the last build's stamp (the launch file it
    writes) stands for the classes' age."""
    for p in ENGINE_SOURCES[:2]:
        if not os.path.exists(p):
            raise Preflight(f"engine sources missing: {os.path.relpath(p, ROOT)}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise Preflight("sbt and java must be on PATH")

    def missing():
        return [c for c in (ENGINE_CLASSES, HARNESS_CLASSES)
                if not os.path.isdir(c) or not os.listdir(c)]

    sources = newest_mtime(ENGINE_SOURCES + HARNESS_SOURCES)
    if missing() or not os.path.exists(LAUNCH) or os.path.getmtime(LAUNCH) < sources:
        env = dict(os.environ, COURSIER_MODE="offline")
        log = os.path.join(WORK, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=800).returncode
        if rc != 0:
            raise Preflight(f"build failed (exit {rc}), see {os.path.relpath(log, ROOT)}")
    if missing():
        raise Preflight("compiled classes missing: " +
                        ", ".join(os.path.relpath(c, ROOT) for c in missing()))
    if os.path.getmtime(LAUNCH) < sources:
        raise Preflight("compiled classes older than the sources in src/main")


def check_fixture():
    missing = [t for t in TABLES
               if not os.path.exists(os.path.join(FIXTURE, f"{t}.parquet"))]
    if missing:
        raise Preflight(f"fixture directory {os.path.relpath(FIXTURE, ROOT)} "
                        f"missing tables: {', '.join(missing)}")


def run_harness(args, workload, cores):
    """Run the harness JVM on one workload and return its records.
    After the cold pass come the workload's `settle_passes`, which let
    the JIT catch up and are not measured, then measured warm passes:
    at least `warm_passes`, and more until --seconds have passed."""
    keys = workload["keys"]
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    orders = stats.key_orders(keys, args.seed, 1 + 500)
    plan = os.path.join(run_dir, "plan.txt")
    with open(plan, "w") as f:
        f.write(f"fixture={FIXTURE}\ncores={cores}\nsetups={SETUPS}\n"
                f"seconds={args.seconds}\nsettle_passes={workload['settle_passes']}\n"
                f"min_warm_passes={workload['warm_passes']}\n"
                f"trace={args.trace}\nwork_dir={run_dir}\n")
        f.writelines("pass=" + ",".join(o) + "\n" for o in orders)
    with open(LAUNCH) as f:
        launch = f.read().splitlines()
    jvm_opts, classpath = [o for o in launch[:-1] if not o.startswith("-Xmx")], launch[-1]
    records = os.path.join(run_dir, "records.jsonl")
    log = os.path.join(WORK, "harness.log")
    cmd = (["java"] + jvm_opts +
           [HEAP, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-cp", classpath, "perfbench.Harness", plan, records])
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise Preflight(f"harness exceeded {JVM_TIMEOUT_S} s, see {os.path.relpath(log, ROOT)}")
    if rc != 0:
        with open(log) as f:
            cause = [l.strip() for l in f if l.startswith("preflight:")]
        raise Preflight(cause[0] if cause else
                        f"harness exit {rc}, see {os.path.relpath(log, ROOT)}")
    with open(records) as f:
        recs = [json.loads(l) for l in f if l.strip()]
    shutil.rmtree(run_dir, ignore_errors=True)
    return recs


def check_outputs(spans, expected):
    """Mark each span ok or failed against the recorded digests. A key
    listed as unstable is checked on its row count only."""
    for s in spans:
        exp = expected["keys"].get(s["key"])
        s["ok"] = (s["error"] is None and exp is not None
                   and s["rows"] == exp["rows"]
                   and (s["key"] in expected["unstable"]
                        or s["digest"] == exp["digest"]))


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(recs, spans, measured):
    setups = [r["s"] for r in recs if r["kind"] == "setup"]
    passes = {r["pass"]: r["s"] for r in recs if r["kind"] == "pass"}
    warm = [s["build_s"] + s["action_s"] for s in spans if s["pass"] in measured]
    pct, tail_s, beyond = stats.tail(warm)
    failed = sum(not s["ok"] for s in spans)
    out = {
        "setup_s": metric(statistics.median(setups), "s"),
        "cold_pass_s": metric(passes[0], "s"),
        "warm_pass_s": metric(statistics.median(passes[p] for p in measured), "s"),
        "query_p50_s": metric(stats.percentile(warm, 50), "s"),
        "query_tail_s": metric(tail_s, "s"),
        "ok_frac": metric(1.0 - failed / len(spans), "ratio"),
    }
    note = (f"query_tail_s is p{pct:g} of {len(warm)} warm samples "
            f"({beyond} above it) from {len(measured)} warm passes")
    return out, note


def per_layer(recs, spans, measured, cores, run_id, path):
    events = [r for r in recs if r["kind"] in ("job", "stage", "plan", "trigger")]
    keys = stats.key_layers(spans, events)
    by_pass = {}
    for (p, _), k in keys.items():
        by_pass.setdefault(p, []).append(k)
    cold = stats.pass_layers(by_pass[0], cores)
    warm_passes = [stats.pass_layers(by_pass[p], cores) for p in measured]
    out = {}
    for m in stats.LAYER_SUMS + stats.LAYER_RATIOS:
        unit = stats.unit(m)
        out[f"{m}.cold"] = metric(cold[m], unit)
        out[f"{m}.warm"] = metric(statistics.median(w[m] for w in warm_passes), unit)
    end = next(r for r in recs if r["kind"] == "end")
    out["engine.cache_mb"] = metric(end["cache_bytes"] / stats.MB, "MB")
    passes = {r["pass"]: r["s"] for r in recs if r["kind"] == "pass"}
    out["trace.warm_pass_s"] = metric(statistics.median(passes[p] for p in measured), "s")
    write_trace(path, run_id, keys)
    return out


def write_trace(path, run_id, keys):
    """Spans key -> build -> action of every key run, sharing the run
    id, with each key run's layer counts."""
    spans = []
    for (p, key), k in sorted(keys.items(), key=lambda kv: kv[1]["_span"]["start_ms"]):
        s = k["_span"]
        sid = f"{p}/{key}"
        spans.append({"run_id": run_id, "span_id": sid, "parent": None, "name": key,
                      "pass": p, "start_ms": s["start_ms"], "end_ms": s["end_ms"],
                      "layers": {m: v for m, v in k.items() if not m.startswith("_")}})
        spans.append({"run_id": run_id, "span_id": sid + "/build", "parent": sid,
                      "name": "build", "start_ms": s["start_ms"], "end_ms": s["build_end_ms"]})
        spans.append({"run_id": run_id, "span_id": sid + "/action", "parent": sid,
                      "name": "action", "start_ms": s["build_end_ms"], "end_ms": s["end_ms"]})
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump({"run_id": run_id, "spans": spans}, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        os.makedirs(WORK, exist_ok=True)
        check_fixture()
        build()
        cores = len(os.sched_getaffinity(0))
        recs = run_harness(args, WORKLOADS[args.workload], cores)
    except (Preflight, subprocess.TimeoutExpired) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    spans = [r for r in recs if r["kind"] == "span"]
    check_outputs(spans, expected)
    for s in spans:
        if not s["ok"]:
            print(f"perfbench: output check failed: pass {s['pass']} {s['key']}: "
                  f"{s['error'] or 'rows/digest mismatch'}", file=sys.stderr)
    last = max(s["pass"] for s in spans)
    measured = list(range(1 + WORKLOADS[args.workload]["settle_passes"], last + 1))
    if args.trace:
        run_id = uuid.uuid4().hex
        path = os.path.join(WORK, "trace", f"{args.workload}-seed{args.seed}.json")
        metrics = per_layer(recs, spans, measured, cores, run_id, path)
        print(f"perfbench: trace {run_id} written to {os.path.relpath(path, ROOT)}",
              file=sys.stderr)
    else:
        metrics, note = end_to_end(recs, spans, measured)
        print(f"perfbench: {note}", file=sys.stderr)
    failed = sum(not s["ok"] for s in spans)
    print(json.dumps({"correct": failed == 0, "attempted": len(spans),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
