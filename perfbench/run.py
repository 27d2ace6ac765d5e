#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds the
program and the harness with sbt (perfbench/build.sbt) and keeps a copy
of the compiled classes under .bench_build/. Each run then starts one fresh
JVM (graft.perfbench.Harness) with its own temp and replay directories,
checks the program's outputs, and prints every metric by name and unit;
the last line of standard output is the JSON result. With --trace 1 the
run also records spans and reports the per-layer metrics.

Workloads, why each exists, and which layer metric should move which
end-to-end metric: perfbench/README.md.
"""
import argparse
import collections
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

# Query sets of the three query workloads (spell_stream drives the
# engine directly). Each set is fixed; the seed only permutes its order.
WORKLOADS = {
    "spell_stream": [],
    # Stateful operators, state-store commits and file-sink WAL on bulk
    # AvailableNow batches. q93 (the streaming near-dup gate) builds the
    # ordered-fixture and d16-index memos, q78 the gate-sides memo; q71
    # replays a windowed aggregate. q72 and q91 start no trigger here and
    # keep the family's batch-side costs in the mix.
    "stream_replay": [
        "q71_stream_replay", "q72_sessionize", "q78_stream_ingest_gate",
        "q91_observed_metrics", "q93_stream_neardup_gate",
    ],
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [arg for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for arg in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
# A fixed heap and young generation keep G1's sizing decisions, and with
# them the peak RSS and GC pauses, the same from run to run.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]
MAX_CPUS = 4
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

MEMO_ARTIFACTS = ["kept_manifest", "txlog_changes", "d16_index", "ordered_fixture",
                  "gate_sides"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def classpath(build_dir):
    """Builds the program and the harness once per source state and
    returns the harness's runtime classpath. The class directories on it
    are copied under the build directory, so a cached classpath always
    names the classes compiled from the sources its digest was taken
    of, whatever sbt compiles in the checkout later."""
    frozen = build_dir / f"classes-{sources_digest()}"
    stamp = frozen / "classpath.txt"
    if stamp.exists():
        return stamp.read_text().strip()
    print("perfbench: building with sbt", file=sys.stderr)
    try:
        # offline: every dependency comes from the local caches
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
             "export runtime:fullClasspath"],
            cwd=HERE, capture_output=True, text=True, timeout=BUILD_TIMEOUT_S,
            env=dict(os.environ, COURSIER_MODE="offline"))
    except subprocess.TimeoutExpired:
        die("build timed out")
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        die("build failed")
    staging = build_dir / f"{frozen.name}.{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    entries = []
    for i, entry in enumerate(lines[-1].split(os.pathsep)):
        if os.path.isdir(entry):
            shutil.copytree(entry, staging / str(i))
            entry = str(frozen / str(i))
        entries.append(entry)
    (staging / "classpath.txt").write_text(os.pathsep.join(entries))
    shutil.rmtree(frozen, ignore_errors=True)
    staging.rename(frozen)
    return stamp.read_text().strip()


def run_harness(cp, args, run_dir, queries):
    tmp, replay = run_dir / "tmp", run_dir / "replay"
    tmp.mkdir(parents=True)
    replay.mkdir()
    raw_path = run_dir / "raw.json"
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    cmd = ["java", *ADD_OPENS, *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "graft.perfbench.Harness",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", str(DATA), "--run-dir", str(run_dir), "--out", str(raw_path),
           "--cpus", str(cpus), "--queries", ",".join(queries)]
    env = dict(os.environ, SPARK_GRAFT_REPLAY_DIR=str(replay),
               SPARK_LOCAL_DIRS=str(tmp / "spark-local"))
    log = run_dir / "jvm.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                                  timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc = None
    if proc is None or proc.returncode != 0 or not raw_path.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        die("harness JVM " + ("timed out" if proc is None else f"exited {proc.returncode}"))
    return json.loads(raw_path.read_text())


def oracle_mismatches(raw, run_dir):
    """Compares each query's check-pass result with its DuckDB oracle
    spelling; returns {query: reason} for every failure."""
    import duckdb
    sys.path.insert(0, str(ROOT / "tools"))
    from local_verify import rowset

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA / t}.parquet')")
    bad = {}
    for c in raw["checks"]:
        name = c["name"]
        if c["error"]:
            bad[name] = f"failed: {c['error']}"
            continue
        files = glob.glob(str(run_dir / "results" / name / "*.parquet"))
        if not files:
            bad[name] = "no result parquet"
            continue
        got = con.sql(f"SELECT * FROM read_parquet('{files[0]}')")
        got_cols, got_types, got_rows = list(got.columns), list(got.types), got.fetchall()
        sql = raw["oracle"].get(name)
        if sql is None:
            # every query in the workloads has an oracle spelling today
            bad[name] = "no oracle SQL"
            continue
        try:
            exp = con.sql(sql)
            exp_cols, exp_types, exp_rows = list(exp.columns), list(exp.types), exp.fetchall()
        except Exception as e:  # noqa: BLE001 - an oracle that fails is a mismatch
            bad[name] = f"oracle SQL error: {e}"
            continue
        if sorted(got_cols) != sorted(exp_cols):
            bad[name] = f"columns spark={sorted(got_cols)} duckdb={sorted(exp_cols)}"
        elif rowset(got_cols, got_types, got_rows) != rowset(exp_cols, exp_types, exp_rows):
            bad[name] = f"rows differ (spark {len(got_rows)}, duckdb {len(exp_rows)})"
    return bad


def by_query(samples):
    by = collections.defaultdict(list)
    for s in samples:
        by[s["name"]].append(s["s"])
    return by


def query_wall(samples, memo_s=0.0):
    """Sum over queries of the median execution, plus memo builds."""
    return sum(statistics.median(v) for v in by_query(samples).values()) + memo_s


def query_metrics(raw, run_dir):
    samples = [s for s in raw["samples"] if not s["traced"]]
    ok = [s for s in samples if s["error"] is None]
    times = [s["s"] for s in ok]
    bad = oracle_mismatches(raw, run_dir)
    for s in raw["samples"]:
        if s["error"] is not None:
            bad.setdefault(f"{s['name']} (pass {s['pass']})", f"failed: {s['error']}")
    attempted = len(raw["checks"]) + len(raw["samples"])
    m = {
        "wall_s": query_wall(ok, sum(raw["memo_build_s"].values())),
        "query_p50_s": stats.percentile(times, 0.5),
        "query_p90_s": stats.percentile(times, 0.9),
        "cpu_s": statistics.median([p["cpu_s"] for p in raw["passes"] if not p["traced"]]),
        # Aliases of the query timings, reported because every workload
        # reports every end-to-end metric: each query execution is one
        # event of a closed loop, due when the previous one ends, so its
        # latency is its run time and the rate is 1 / mean run time.
        "events_per_s": len(times) / sum(times),
        "event_latency_p50_ms": 1e3 * stats.percentile(times, 0.5),
        "event_latency_p90_ms": 1e3 * stats.percentile(times, 0.9),
    }
    notes = {"query samples": len(times),
             "p90 supported": stats.supported(len(times), 0.9),
             "memo build s": {k: round(v, 3) for k, v in raw["memo_build_s"].items() if v},
             "per-query median s": {k: round(statistics.median(v), 3)
                                    for k, v in sorted(by_query(ok).items())}}
    return m, attempted, len(bad), bad, notes


def stream_metrics(raw):
    timed = [d for d in raw["drains"] if d["timed"] and not d["traced"]]
    op = raw["open"]
    lat = [tuple(p) for p in op["latency_ms"]]
    trig = raw["trigger_s"]
    bad = {f"closed loop drain {d['drain']}": f"{d['failed']} of {d['events']} events wrong"
           for d in raw["drains"] if d["failed"]}
    if op["failed"]:
        bad["open loop"] = f"{op['failed']} of {op['events']} events wrong"
    attempted = sum(d["events"] for d in raw["drains"]) + op["events"]
    failed = sum(d["failed"] for d in raw["drains"]) + op["failed"]
    m = {
        "wall_s": statistics.median([d["wall_s"] for d in timed]),
        "query_p50_s": stats.percentile(trig, 0.5),
        "query_p90_s": stats.percentile(trig, 0.9),
        "cpu_s": statistics.median([d["cpu_s"] for d in timed]),
        "events_per_s": statistics.median([d["events"] / d["wall_s"] for d in timed]),
        "event_latency_p50_ms": stats.weighted_percentile(lat, 0.5),
        "event_latency_p90_ms": stats.weighted_percentile(lat, 0.9),
    }
    notes = {"micro-batches": len(trig), "open-loop batches": op["batches"],
             "open-loop rate": op["rate"], "open-loop events": op["events"],
             "generator max lag ms": round(op["max_generator_lag_ms"], 1),
             "p90 supported (batches)": stats.supported(op["batches"], 0.9)}
    return m, attempted, failed, bad, notes


def layer_metrics(raw):
    """Per-layer metrics of a traced run. Sums are per traced pass (the
    spell stream's traced window counts as one pass)."""
    spans = raw["spans"]
    c = collections.defaultdict(float, raw["counters"])
    prog = raw["progress"]
    if "samples" in raw:
        passes = max(1, sum(1 for p in raw["passes"] if p["traced"]))
        traced = [s for s in raw["samples"] if s["traced"] and s["error"] is None]
        untraced = [s for s in raw["samples"] if not s["traced"] and s["error"] is None]
        overhead = query_wall(traced) - query_wall(untraced)
    else:
        passes = 1
        ds = [d for d in raw["drains"] if d["timed"]]
        overhead = (statistics.median([d["wall_s"] for d in ds if d["traced"]])
                    - statistics.median([d["wall_s"] for d in ds if not d["traced"]]))
    e, k = raw["engine"], raw["kernel"]
    trig = [p["trigger_ms"] for p in prog]

    def per_pass(x):
        return x / passes

    def phase_s(key):
        return per_pass(sum(p[key] for p in prog) / 1e3)

    m = {
        "engine.ns_per_cast": e["cast_ns"] / e["casts"],
        "engine.codec_ns_per_roundtrip": e["codec_ns"] / e["roundtrips"],
        "engine.casts": e["casts"],
        "engine.hops_per_seed": (e["casts"] - e["seeds"]) / e["seeds"],
        "stream.triggers": per_pass(len(prog)),
        "stream.trigger_ms_p50": stats.percentile(trig, 0.5) if trig else 0.0,
        "stream.trigger_ms_p90": stats.percentile(trig, 0.9) if trig else 0.0,
        "stream.query_planning_s": phase_s("query_planning_ms"),
        "stream.latest_offset_s": phase_s("latest_offset_ms"),
        "stream.get_batch_s": phase_s("get_batch_ms"),
        "stream.add_batch_s": phase_s("add_batch_ms"),
        "stream.wal_commit_s": phase_s("wal_commit_ms"),
        "stream.commit_offsets_s": phase_s("commit_offsets_ms"),
        "stream.overhead_ratio": stats.overhead_ratio(
            [p["add_batch_ms"] for p in prog], trig),
        "stream.input_rows": per_pass(sum(p["input_rows"] for p in prog)),
        "state.commit_s": phase_s("state_commit_ms"),
        "state.rows_total": max([p["state_rows_total"] for p in prog], default=0),
        "state.rows_updated": per_pass(sum(p["state_rows_updated"] for p in prog)),
        "state.rows_removed": per_pass(sum(p["state_rows_removed"] for p in prog)),
        "state.memory_bytes": max([p["state_memory_bytes"] for p in prog], default=0),
        "plan.analysis_s": per_pass(sum(p["analysis_s"] for p in raw["plan_phases"])),
        "plan.optimization_s": per_pass(sum(p["optimization_s"] for p in raw["plan_phases"])),
        "plan.planning_s": per_pass(sum(p["planning_s"] for p in raw["plan_phases"])),
        "plan.jaccard_rewrites": per_pass(sum(p["jaccard_rewrites"] for p in raw["plan_phases"])),
    }
    for key in ("jobs", "stages", "tasks", "failed_tasks", "cpu_s", "run_s", "gc_s",
                "task_wait_s"):
        m[f"exec.{key}"] = per_pass(c[f"exec.{key}"])
    # query time no job covers, inside its triggers or not
    m["exec.driver_s"] = per_pass(sum(wall - jobs_ms for _, wall, _, _, _, jobs_ms, _
                                      in phase_split(spans)) / 1e3)
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
                "output_bytes"):
        m[f"exec.{key}"] = per_pass(c[f"exec.{key}"])
    m.update({
        "kernel.minhash_ns_per_row": k["minhash_ns"] / k["minhash_rows"],
        "kernel.jaccard_ns_per_pair": k["jaccard_ns"] / k["jaccard_pairs"],
        "kernel.jaccard_pass_ratio": k["jaccard_passed"] / k["jaccard_pairs"],
    })
    memo = raw.get("memo_build_s", {})
    for a in MEMO_ARTIFACTS:
        m[f"memo.build_s.{a}"] = memo.get(a, 0.0)
    m["memo.builds"] = sum(1 for a in MEMO_ARTIFACTS if memo.get(a, 0.0) > 0)
    m["trace.overhead_s"] = overhead
    return m


def phase_split(spans):
    """Per traced query: wall, time in triggers, time in jobs, and the
    query's self time (driver work no trigger or job covers), in ms."""
    kids = collections.defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    rows = []
    for q in (s for s in spans if s["kind"] == "query"):
        trig = [t for t in kids[q["id"]] if t["kind"] == "trigger"]
        jobs = [j for j in kids[q["id"]] if j["kind"] == "job"] + \
            [j for t in trig for j in kids[t["id"]] if j["kind"] == "job"]
        iv = (q["start"], q["end"])
        rows.append((q["name"], q["end"] - q["start"], len(trig),
                     stats.covered(iv, [(t["start"], t["end"]) for t in trig]),
                     len(jobs), stats.covered(iv, [(j["start"], j["end"]) for j in jobs]),
                     stats.self_time(q, spans)))
    return rows


def metric_units():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def main():
    # a SIGTERM unwinds like an error, so subprocess.run kills and reaps
    # the JVM or sbt child before this process exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        die(f"unknown workload {args.workload!r}; one of {', '.join(WORKLOADS)}")
    for need in (ROOT / "BENCHMARK.json", ROOT / "build.sbt", ROOT / "src" / "main" / "scala",
                 ROOT / "tools"):
        if not need.exists():
            die(f"{need.relative_to(ROOT)} is missing: run from a full checkout")
    if not DATA.is_dir():
        die("fixture directory perfbench/data/sf0.01 is missing")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            die(f"{tool} is not on PATH")

    build_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    cp = classpath(build_dir)
    run_dir = build_dir / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        raw = run_harness(cp, args, run_dir, WORKLOADS[args.workload])
        if args.workload == "spell_stream":
            m, attempted, failed, bad, notes = stream_metrics(raw)
        else:
            m, attempted, failed, bad, notes = query_metrics(raw, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    m["setup_s"] = raw["setup_s"]
    m["peak_rss_mb"] = raw["peak_rss_mb"]

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}"
          f"  trace {args.trace}")
    e2e_units, layer_units = metric_units()
    for name, unit in e2e_units.items():
        print(f"  {name:<24} {m[name]:>14.6g} {unit}")
    print(f"  {'failed_ratio':<24} {stats.failed_ratio(failed, attempted):>14.6g}"
          f" ({failed} of {attempted} operations)")
    for k, v in notes.items():
        print(f"  {k}: {v}")
    for name, why in sorted(bad.items()):
        print(f"  MISMATCH {name}: {why}")

    if args.trace:
        layers = layer_metrics(raw)
        trace_dir = build_dir / "trace"
        trace_dir.mkdir(parents=True, exist_ok=True)
        span_file = trace_dir / f"{args.workload}-seed{args.seed}.spans.json"
        span_file.write_text(json.dumps(raw["spans"]))
        print(f"  spans: {span_file.relative_to(ROOT)}")
        print("  per-query split (ms): wall triggers(n, ms) jobs(n, ms) self")
        for name, wall, nt, tms, nj, jms, self_ms in phase_split(raw["spans"]):
            print(f"    {name:<34} {wall:9.1f} {nt:4d} {tms:9.1f} {nj:5d} {jms:9.1f}"
                  f" {self_ms:9.1f}")
        for name, unit in layer_units.items():
            print(f"  {name:<34} {layers[name]:>14.6g} {unit}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u in layer_units.items()}
    else:
        metrics = {n: {"value": m[n], "unit": u} for n, u in e2e_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
