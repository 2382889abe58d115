#!/usr/bin/env python3
"""Benchmark of the masdspark engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine's sources together with the benchmark driver (sbt, once
per source state), runs workload W in one JVM on local[nproc], checks the
outputs, and prints every metric by name and unit. The last line of stdout
is one JSON object {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import metrics as m

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(REPO, "src", "main", "scala")
WORKLOADS = ("sensor_live", "sensor_replay", "registry_hot")
RUN_LIMIT_S = 175  # every run ends within 180 s, the build aside
DIGESTS = os.path.join(BENCH, "registry_digests.json")

# Matches org.apache.spark.launcher.JavaModuleOptions, as the engine's build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def source_files():
    roots = [ENGINE_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def build():
    """Compiles engine + driver unless the last build saw the same sources;
    returns the runtime classpath."""
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "perfbench.stamp")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        # a Spark distribution on PATH: bin/spark-submit next to jars/
        homes = [os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
                 for d in env.get("PATH", "").split(os.pathsep)
                 if os.path.isfile(os.path.join(d, "spark-submit"))]
        homes = [h for h in homes if os.path.isdir(os.path.join(h, "jars"))]
        if not homes:
            fail("SPARK_HOME is not set and no Spark distribution is on PATH")
        env["SPARK_HOME"] = homes[0]
    state = os.path.join(REPO, ".bench_build", "sbt")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.override.build.repos=true "
                f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g"),
        "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(state, 'global')}",
        f"-Djava.io.tmpdir={os.path.join(state, 'tmp')}"])
    os.makedirs(os.path.join(state, "tmp"), exist_ok=True)
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                 "writeClasspath"], cwd=BENCH, env=env, stdout=out,
                                stderr=subprocess.STDOUT, timeout=850).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}", 1)
    if rc != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed", 1)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def run_jvm(classpath, args, workdir, deadline):
    """Runs perfbench.Main and returns its raw measurements."""
    os.makedirs(os.path.join(workdir, "tmp"), exist_ok=True)
    heap = os.environ.get("SPARK_DRIVER_MEM", "3g")
    # A fixed, pre-touched heap and the parallel collector: with a heap that
    # grows during the run, or with G1, the same pass varied by a quarter
    # from one JVM to the next on a 4-core machine.
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
        "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main", "--out", workdir] + args
    log = os.path.join(workdir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=workdir)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"workload did not finish in time: {' '.join(args)}", 1)
    raw_file = os.path.join(workdir, "raw.json")
    if rc != 0 or not os.path.exists(raw_file):
        with open(log, errors="replace") as fh:
            lines = [ln for ln in fh if " WARN " not in ln and " INFO " not in ln]
        sys.stderr.write("".join(lines[-60:]))
        fail(f"workload JVM exited with {rc}", 1)
    with open(raw_file) as fh:
        return json.load(fh)


# ---------------------------------------------------------------- metrics

def sensor_checks(raw):
    """(attempted, failed, notes): one operation per micro-batch and per
    correctness check; a failure is a failed or dropped batch, a failed
    query or a mismatch."""
    batches = sum(len(d["progress"]) for d in raw["drains"]) if "drains" in raw \
        else len(raw["progress"])
    runs = raw.get("drains", [raw])
    sink_failures = sum(d["sink_failures"] + d["query_failed"] for d in runs)
    notes = []
    bad_checks = 0
    for c in raw["checks"]:
        ok = (c["mismatched_docs"] == 0 and c["docs"] == c["expected_docs"] and c["docs"] > 0
              and c["malformed_sink"] == c["malformed_known"])
        if not ok:
            bad_checks += 1
            notes.append(f"sink/batch mismatch: {c}")
    attempted = batches + 2 * len(raw["checks"])
    return attempted, sink_failures + bad_checks, notes


def setup_s(raw):
    """JVM start to the start of measuring, with input synthesis (run
    several times) counted once at its median."""
    synth = raw["synth_ms"]
    wall = raw["setup_end_ms"] - raw["jvm_start_ms"]
    return (wall - sum(synth) + m.median(synth)) / 1000.0


def live_end_to_end(raw):
    due = m.ClosableDue(list(zip(raw["due_ms"], raw["event_ms"])), raw["delay_ms"])
    returns = {b: end for b, _, end in raw["sink_log"]}
    lo, hi = raw["measure_start_ms"], raw["measure_end_ms"]
    if raw["traced"]:
        hi = raw["trace_from_ms"]  # the untraced half
    samples = m.close_to_sink_samples(raw["sink_windows"], returns, due, lo, hi)
    # delivered rate: rows the batches after the first one started in the
    # span took in, over the time from the first batch start to the last
    starts = sorted((p["timestamp_ms"], p["input_rows"]) for p in raw["progress"]
                    if lo <= p["timestamp_ms"] < hi)
    if len(starts) < 2 or not samples:
        fail("too few batches or documents in the measured span of sensor_live", 1)
    delivered = sum(n for _, n in starts[1:]) / ((starts[-1][0] - starts[0][0]) / 1000.0)
    last_write = max(returns[b] for b, end, _, _ in raw["sink_windows"]
                     if b in returns and due(end) is not None and lo <= due(end) < hi)
    return {
        "setup_s": setup_s(raw),
        "events_per_s": delivered,
        "close_to_sink_ms_p50": m.percentile(samples, 50),
        "close_to_sink_ms_p90": m.percentile(samples, 90),
        "pass_s": (last_write - lo) / 1000.0,
    }, len(samples)


def replay_end_to_end(raw, traced=False):
    """Metrics of the fastest drain: CPU steal from other tenants of the
    host comes in bursts that slow whichever drain they hit, and the
    fastest drain is the least disturbed one (as the registry bench takes
    the minimum of its sweeps)."""
    d = min((d for d in raw["drains"] if d["traced"] == traced),
            key=lambda d: d["end_ms"] - d["start_ms"])
    secs = (d["end_ms"] - d["start_ms"]) / 1000.0
    returns = {b: end for b, _, end in d["sink_log"]}
    samples = m.close_to_sink_samples(d["sink_windows"], returns, lambda end: d["start_ms"])
    return {
        "setup_s": setup_s(raw),
        "events_per_s": raw["events"] / secs,
        "close_to_sink_ms_p50": m.percentile(samples, 50),
        "close_to_sink_ms_p90": m.percentile(samples, 90),
        "pass_s": secs,
    }, len(samples)


def registry_end_to_end(raw, traced=False):
    """Each query's fastest time over the timed passes, for the same reason
    as the fastest drain of sensor_replay; the pass time is their sum, so a
    burst that slows one query in one pass does not count."""
    walls = {}
    for p in raw["passes"]:
        if p["traced"] == traced:
            for q in p["queries"]:
                walls.setdefault(q["name"], []).append(q["end_ms"] - q["start_ms"])
    per_query = [min(w) for w in walls.values()]
    pass_s = sum(per_query) / 1000.0
    return {
        "setup_s": setup_s(raw),
        "events_per_s": raw["input_rows"] / pass_s,
        "close_to_sink_ms_p50": m.percentile(per_query, 50),
        "close_to_sink_ms_p90": m.percentile(per_query, 90),
        "pass_s": pass_s,
    }, len(per_query)


def registry_checks(raw):
    with open(DIGESTS) as fh:
        want = json.load(fh)["digests"][str(raw["data_seed"])]
    notes = []
    attempted = failed = 0
    for p in raw["passes"]:
        for q in p["queries"]:
            attempted += 2  # the query, and its result check
            if q["error"]:
                failed += 1
                notes.append(f"{q['name']} threw: {q['error']}")
            if q["digest"] != want.get(q["name"]):
                failed += 1
                notes.append(f"{q['name']} digest {q['digest']} != recorded {want.get(q['name'])}")
    return attempted, failed, notes


E2E_UNITS = {"setup_s": "s", "events_per_s": "1/s", "close_to_sink_ms_p50": "ms",
             "close_to_sink_ms_p90": "ms", "pass_s": "s"}


def layer_metrics(raw, extra):
    """Every per-layer metric named in BENCHMARK.json; a layer the workload
    does not exercise reads 0."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer"]
    out = {x["name"]: (0, x["unit"]) for x in spec}
    late = raw.get("late_ms") or [0]
    vals = {
        "machine.probe_ms": raw["probe_ms"],
        "sources.generate_ms": m.median(raw["synth_ms"]),
        "sources.input_rows": raw["input_rows"],
        "sources.input_bytes": raw["input_bytes"],
        "sources.generator_late_ms_p90": m.percentile(late, 90),
        "sources.generator_late_ms_max": max(late),
    }
    if "ops" in raw:
        pre = raw["ops"]["prefix_ms"]
        vals.update({
            "ops.parse_ms": pre["parse"],
            "ops.validate_ms": pre["validate"] - pre["parse"],
            "ops.event_time_ms": pre["event_time"] - pre["validate"],
            "ops.window_agg_ms": pre["window_agg"] - pre["event_time"],
            "ops.shape_ms": pre["shape"] - pre["window_agg"],
            "ops.rows_in": raw["ops"]["rows_in"],
            "ops.malformed_rows": raw["ops"]["malformed_rows"],
            "ops.docs_out": raw["ops"]["docs_out"],
            "ops.fanout_files": raw["fanout_files"],
            "ops.fanout_bytes": raw["fanout_bytes"],
        })
        runs = raw.get("drains", [raw])
        writes = [end - start for d in runs for _, start, end in d["sink_log"]]
        vals["ops.fanout_write_ms_p50"] = m.percentile(writes, 50)
    vals.update(extra)
    for k, v in vals.items():
        if k not in out:
            raise KeyError(f"per-layer metric {k} is not declared in BENCHMARK.json")
        out[k] = (v, out[k][1])
    return out


def streaming_layer(progress, backlog_end, failed_batches):
    if not progress:
        return {}
    col = lambda k: [p[k] for p in progress]
    lags = [p["max_event_ms"] - p["watermark_ms"] for p in progress
            if p["max_event_ms"] > 0 and p["watermark_ms"] > 0]
    return {
        "streaming.batches": len(progress),
        "streaming.trigger_ms_p50": m.percentile(col("trigger_ms"), 50),
        "streaming.trigger_ms_p90": m.percentile(col("trigger_ms"), 90),
        "streaming.add_batch_ms_p50": m.percentile(col("add_batch_ms"), 50),
        "streaming.query_planning_ms_p50": m.percentile(col("query_planning_ms"), 50),
        "streaming.wal_commit_ms_p50": m.percentile(col("wal_commit_ms"), 50),
        "streaming.commit_offsets_ms_p50": m.percentile(col("commit_offsets_ms"), 50),
        "streaming.state_commit_ms_p50": m.percentile(col("state_commit_ms"), 50),
        "streaming.state_rows_max": max(col("state_rows")),
        "streaming.state_memory_bytes_max": max(col("state_memory_bytes")),
        "streaming.rows_dropped_by_watermark": sum(col("rows_dropped_by_watermark")),
        "streaming.watermark_lag_ms": m.percentile(lags, 50) if lags else 0,
        "streaming.backlog_events_end": backlog_end,
        "streaming.failed_batches": failed_batches,
    }


def queries_layer(raw):
    aggs = raw["trace_aggregates"]
    traced = [p for p in raw["passes"] if p["traced"]][0]["queries"]
    out = {}
    tot = {k: 0 for k in ("wall_ms", "jobs", "checkpoint_jobs", "driver_gap_ms", "exec_cpu_ms",
                          "stages", "tasks", "exec_run_ms", "shuffle_read_bytes",
                          "shuffle_write_bytes", "scan_bytes", "build_ms")}
    plan_ms = run_ms = 0
    for q in traced:
        name = q["name"]
        phases = [aggs.get(f"registry_hot/{name}/{ph}", {}) for ph in ("build", "plan", "run")]
        ivs = [iv for a in phases for iv in a.get("job_intervals", [])]
        s = lambda k: sum(a.get(k, 0) for a in phases)
        # wall clock here: the job intervals come from the listener
        per = {
            "wall_ms": q["wall_end_ms"] - q["wall_start_ms"],
            "jobs": s("jobs"),
            "checkpoint_jobs": phases[0].get("jobs", 0),
            "driver_gap_ms": m.driver_gap_ms(q["wall_start_ms"], q["wall_end_ms"], ivs),
            "exec_cpu_ms": s("exec_cpu_ms"),
        }
        for k, v in per.items():
            out[f"queries.{name}.{k}"] = v
            tot[k] += v
        for k in ("stages", "tasks", "exec_run_ms", "shuffle_read_bytes", "shuffle_write_bytes",
                  "scan_bytes"):
            tot[k] += s(k)
        tot["build_ms"] += q["build_ms"]
        plan_ms += q["plan_ms"]
        run_ms += q["run_ms"]
    out.update({f"queries.{k}": v for k, v in tot.items()})
    out["plans.plan_ms"] = plan_ms
    out["plans.run_ms"] = run_ms
    return out


def record_digests(raw):
    """Checks each registry result against the DuckDB oracle on the same
    tables and records its digest, which run.py compares every later run
    on that table set with."""
    import duckdb
    import math

    def norm(rows):
        return sorted(tuple("NaN" if isinstance(v, float) and math.isnan(v) else repr(v)
                            for v in r) for r in rows)

    con = duckdb.connect()
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(raw['data_dir'], t + '.parquet')}/*.parquet'")
    oracle = {}
    for q in raw["passes"][-1]["queries"]:
        name, sql = q["name"], raw["oracle_sql"].get(q["name"])
        if sql is None:
            oracle[name] = "no oracle SQL"
            continue
        got = con.execute(f"SELECT * FROM '{raw['results_dir']}/{name}/*.parquet'")
        gc, g = [d[0] for d in got.description], got.fetchall()
        want = con.execute(sql)
        wc, w = [d[0] for d in want.description], want.fetchall()
        same = sorted(gc) == sorted(wc) and norm(
            [[r[gc.index(c)] for c in sorted(gc)] for r in g]) == norm(
            [[r[wc.index(c)] for c in sorted(wc)] for r in w])
        oracle[name] = "equal" if same else f"differs ({len(g)} vs {len(w)} rows)"
    rec = {"oracle": f"DuckDB {duckdb.__version__}", "checked": {}, "digests": {}}
    if os.path.exists(DIGESTS):
        with open(DIGESTS) as fh:
            rec = json.load(fh)
    key = str(raw["data_seed"])
    rec["checked"][key] = oracle
    rec["digests"][key] = {q["name"]: q["digest"] for q in raw["passes"][-1]["queries"]}
    with open(DIGESTS, "w") as fh:
        json.dump(rec, fh, indent=2, sort_keys=True)
        fh.write("\n")
    print(key, json.dumps(oracle))


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="registry_hot only: check the results for the seed's table set "
                         "against the DuckDB oracle and record their digests")
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
             "run from a full checkout of the repository")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")

    classpath = build()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    base = os.path.join(REPO, ".bench_build", "perfbench")
    workdir = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    try:
        raw = run_jvm(classpath, args + (["--results", "1"] if a.record_digests else []),
                      workdir, deadline)
        if a.record_digests:
            record_digests(raw)
            return
        baseline = None
        if a.trace and a.workload == "sensor_replay":
            # single-threaded baseline of the same job
            raw1 = run_jvm(classpath, ["--workload", a.workload, "--seed", str(a.seed),
                                       "--seconds", "0", "--trace", "0", "--cores", "1"],
                           workdir + "-1core", deadline)
            baseline = m.median([raw1["events"] / ((d["end_ms"] - d["start_ms"]) / 1000.0)
                                 for d in raw1["drains"]])
        if a.trace:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            spans = os.path.join(base, "traces", f"{a.workload}-seed{a.seed}.jsonl")
            shutil.copyfile(os.path.join(workdir, "spans.jsonl"), spans)
    finally:
        for d in (workdir, workdir + "-1core"):
            shutil.rmtree(d, ignore_errors=True)

    if a.workload == "registry_hot":
        attempted, failed, notes = registry_checks(raw)
        e2e, n = registry_end_to_end(raw)
    else:
        attempted, failed, notes = sensor_checks(raw)
        e2e, n = (live_end_to_end if a.workload == "sensor_live" else replay_end_to_end)(raw)

    if a.trace:
        extra = {}
        if a.workload == "registry_hot":
            traced_e2e, _ = registry_end_to_end(raw, traced=True)
            extra.update(queries_layer(raw))
            primary = "pass_s"
        elif a.workload == "sensor_replay":
            traced_e2e, _ = replay_end_to_end(raw, traced=True)
            progress = raw["trace_progress"]
            extra.update(streaming_layer(progress, raw["events"] * sum(
                1 for d in raw["drains"] if d["traced"]) - sum(p["input_rows"] for p in progress),
                sum(d["sink_failures"] + d["query_failed"] for d in raw["drains"])))
            extra["ops.replay_events_per_s_1core"] = baseline
            primary = "pass_s"
        else:
            # the traced half of the measured span, [trace_from, measure_end)
            lo, hi = raw["trace_from_ms"], raw["measure_end_ms"]
            traced_e2e, _ = live_end_to_end(dict(raw, traced=False, measure_start_ms=lo))
            progress = [p for p in raw["trace_progress"] if lo <= p["timestamp_ms"] < hi]
            processed = sum(p["input_rows"] for p in raw["progress"] if p["timestamp_ms"] < hi)
            extra.update(streaming_layer(progress, raw["sent_at_measure_end"] - processed,
                                         raw["sink_failures"] + raw["query_failed"]))
            primary = "close_to_sink_ms_p50"
        extra["trace.overhead_pct"] = (traced_e2e[primary] / e2e[primary] - 1) * 100
        if extra.get("streaming.rows_dropped_by_watermark", 0) != 0:
            failed += 1
            notes.append("rows dropped by watermark")
        out = layer_metrics(raw, extra)
    else:
        out = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}

    for k, (v, unit) in out.items():
        print(f"{a.workload} {k} {v} {unit}")
    print(f"{a.workload} error_rate {failed / attempted} ratio ({failed}/{attempted} failed)")
    supported = m.supported_percentile(n)
    print(f"{a.workload} latency_samples {n} count (highest percentile with ten samples "
          f"beyond it: {f'p{supported:g}' if supported else 'none'}); machine_probe "
          f"{raw['probe_ms']:.1f} ms at {raw['cores']} threads; cpu_steal {raw['stolen_ms']} ms "
          f"summed over the machine's CPUs")
    for note in notes:
        print(f"{a.workload} FAILED {note}", file=sys.stderr)
    print(json.dumps({"correct": not notes, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()}}))


if __name__ == "__main__":
    main()
