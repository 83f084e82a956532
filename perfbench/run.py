#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the harness
and the program from source with sbt (into ``perfbench/target``); later
runs reuse the build while the sources are unchanged. Inputs are
generated from ``--seed`` (``gen.py``), the Spark process
(``graft.perfbench.Harness``) runs the workload, and this script checks
the outputs and prints:

* the run context (cores, git sha or source hash, JVM, CPU calibration at
  the start and end of the run), the output checks with ``failed_ratio``,
  the latency sample count, and one ``<name> <value> <unit>`` line per
  metric;
* as its last line, one JSON object with ``correct``, ``attempted``,
  ``failed`` and ``metrics``: every end-to-end metric of BENCHMARK.json
  with ``--trace 0``, every per-layer metric with ``--trace 1``.

A traced run also writes its spans and per-layer numbers, with the tracing
overhead against an untraced run of the same workload and seed where one
was made, to ``.bench_build/perfbench/results/<workload>-<seed>-trace.json``.
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
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 850
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DUCKDB_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]
# The model trains on a fixed generated sample, like a deployed model that
# serves many streams; the streams themselves come from --seed.
TRAIN_SEED = 0
FLAGSHIP_TABLES = ("customer", "nation", "orders")
TRAIN_TABLES = ("customer", "nation", "orders", "events")


class BenchError(Exception):
    pass


def log(msg):
    print(msg, flush=True)


def sha256_files(paths, root):
    h = hashlib.sha256()
    for f in paths:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


# ------------------------------------------------------------------ build

def source_files(root):
    files = [os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(root, "src", "main", "scala"),
              os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(base, n) for n in sorted(names)
                      if n.endswith((".scala", ".sbt", ".properties"))]
    return files


def build(root, build_dir):
    """Compiles harness and program when their sources changed; returns
    the runtime classpath and the source hash."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = sha256_files(source_files(root), root)
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f, open(cp_file) as g:
            if f.read().strip() == stamp:
                return g.read().strip(), stamp
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += " -Dsbt.override.build.repos=true -Dsbt.repository.config=" + repos
    env["SBT_OPTS"] = opts.strip()
    log_path = os.path.join(build_dir, "build.log")
    with open(log_path, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S)
        out.write(p.stdout)
    cps = [l.strip() for l in p.stdout.splitlines()
           if os.pathsep in l and "classes" in l and " " not in l.strip()]
    if p.returncode != 0 or not cps:
        raise BenchError("build failed, see " + log_path)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1], stamp


# ----------------------------------------------------------------- inputs

def prepare_inputs(wl, seed, seconds, run):
    """Generates the workload's inputs; returns the harness arguments."""
    data = os.path.join(run, "data")
    if wl["kind"] == "batch":
        gen.write_tables(data, seed, wl["sf"])
        return {"data": data, "queries": ",".join(wl["queries"]),
                "recheck": ",".join(wl["recheck"])}
    users = gen.write_tables(data, seed, wl["sf"], only=FLAGSHIP_TABLES)["customer"]
    train = os.path.join(run, "train")
    gen.write_tables(train, TRAIN_SEED, wl["train_sf"], only=TRAIN_TABLES)
    args = {"data": data, "train": train, "registry": os.path.join(run, "registry")}
    warm = os.path.join(run, "warm")
    gen.write_stream(warm, seed + 1_000_003, users, wl["warm_files"],
                     wl["events_per_file"], 0, wl["accel"], 0.0, 0.0,
                     os.path.join(run, "warm.json"))
    stream = os.path.join(run, "stream")
    os.makedirs(os.path.join(stream, "events.parquet"))
    args.update({
        "warm-backlog": warm, "stream": stream,
        # warm-up batches the size a live trigger collects
        "warm-files-per-batch": int(round(wl["trigger_ms"] / 1000.0 / wl["period_s"])),
        "files": max(4, int(round(seconds / wl["period_s"]))),
        "events-per-file": wl["events_per_file"], "period": wl["period_s"],
        "trigger-ms": wl["trigger_ms"], "lateness": wl["lateness"],
        "accel": wl["accel"], "users": users, "ooo-share": wl["ooo_share"],
        "ooo-max-s": wl["ooo_max_s"], "python": sys.executable,
        "gen": os.path.join(HERE, "gen.py")})
    return args


def run_jvm(cp, run, wl, seed, seconds, trace, cpus, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run, "raw.json")
    # no hsperfdata file outside the checkout
    cmd = [java, "-Xmx" + HEAP, "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.perfbench.Harness",
            "--kind", wl["kind"], "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--run-dir", run, "--cpus", str(cpus),
            "--out", out]
    for k, v in args.items():
        cmd += ["--" + k, str(v)]
    jlog = os.path.join(run, "jvm.log")
    with open(jlog, "w") as f:
        p = subprocess.Popen(cmd, stdout=f, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError("Spark process timed out, see " + jlog)
    if not os.path.exists(out):
        raise BenchError("Spark process wrote no result (exit %d), see %s"
                         % (p.returncode, jlog))
    with open(out) as f:
        raw = json.load(f)
    if "fatal" in raw:
        raise BenchError("Spark process failed: " + raw["fatal"].splitlines()[0])
    return raw


# ----------------------------------------------------------------- checks

def canon_rows(con, sql):
    df = con.sql(sql).df()
    df = df.reindex(sorted(df.columns), axis=1)
    return list(df.columns), sorted(tuple(str(v) for v in r)
                                    for r in df.itertuples(index=False))


def oracle_checks(run, data, names):
    """Compares each result the first warm-up pass wrote with the program's own
    DuckDB oracle SQL, run on the same generated tables."""
    import duckdb
    with open(os.path.join(run, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in DUCKDB_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out = []
    for n in names:
        if n not in oracle:
            continue
        try:
            ours = canon_rows(con, f"SELECT * FROM '{run}/check/{n}/*.parquet'")
            theirs = canon_rows(con, oracle[n])
            out.append({"name": n, "check": "oracle", "ok": ours == theirs,
                        "rows": len(ours[1]), "oracle_rows": len(theirs[1])})
        except Exception as e:  # noqa: BLE001 - any oracle error fails the query
            out.append({"name": n, "check": "oracle", "ok": False, "detail": str(e)[:200]})
    return out


def result_rows(run, names):
    """Rows of each result the first warm-up pass wrote, from parquet footers."""
    import pyarrow.parquet as pq
    rows = {}
    for n in names:
        d = os.path.join(run, "check", n)
        if os.path.isdir(d):
            rows[n] = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                          for f in os.listdir(d) if f.endswith(".parquet"))
    return rows


# ---------------------------------------------------------------- metrics

def end_to_end(raw, wl, genlog):
    """Every end-to-end metric, the latency timing behind
    ``latency_p50_ms`` (with its tail), and the units of work measured.

    ``wall_s`` is a pass over the query set, or the live phase from the
    first file's due time to the commit of the last batch. The latter is
    mostly the generator's schedule; the program's busy time in it (summed
    ``triggerExecution``) is the per-layer ``streaming.trigger_ms``, which
    box load moved too far between runs to be gated."""
    if wl["kind"] == "batch":
        passes = raw["measured"]["passes"]
        lat = [s["total_ms"] for s in raw["measured"]["samples"] if s["ok"]]
        e2e = {
            "wall_s": stats.median([p["wall_s"] for p in passes]),
            "cpu_s": stats.median([p["cpu_s"] for p in passes]),
        }
        units = "%d pass(es)" % len(passes)
    else:
        batches = raw["measured"]["batches"]
        # one latency per file: every event of a file shares its due time
        # and the batch that read it
        lat = stats.open_loop(genlog["files"], batches)["latencies"]
        events = sum(f["events"] for f in genlog["files"])
        first_due = min(f["due_ms"] for f in genlog["files"])
        last_end = max([b["end_ms"] for b in batches] or [first_due])
        e2e = {"wall_s": (last_end - first_due) / 1000.0,
               "cpu_s": raw["measured"]["cpu_s"]}
        units = "%d events in %d files and %d batches" % (
            events, len(genlog["files"]), len(batches))
    t = stats.timing(lat or [float("nan")])
    e2e.update({"latency_p50_ms": t["p50"], "setup_s": raw["setup_s"]})
    return e2e, t, units


def per_layer(raw, wl, genlog, names, rows):
    """Per-layer numbers of a traced run, per unit of work: per pass for
    the batch workloads, for the whole live phase otherwise. ``rows``: the
    result rows of each query (for the winnow pair-emission ratio)."""
    v = {n: 0.0 for n in names}
    ex = raw.get("exec", {})
    batch = wl["kind"] == "batch"
    units = len(raw["measured"]["passes"]) if batch else 1
    samples = raw["measured"]["samples"] if batch else []

    def per(x):
        return x / units
    for k in ("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms",
              "sched_delay_ms", "gc_ms", "failed_tasks", "spill_bytes"):
        v["exec." + k] = per(ex.get(k, 0.0))
    v["exec.peak_mem_bytes"] = ex.get("peak_mem_bytes", 0.0)
    v["jvm.peak_rss_mb"] = raw["peak_rss_mb"]
    m = raw["measured"]
    v["jvm.jit_ms"] = per(sum(p["jit_ms"] for p in m["passes"]) if batch else m["jit_ms"])
    v["SparkEntry.construct_jobs"] = per(ex.get("construct_jobs", 0.0))
    for k in ("write_bytes", "read_bytes", "records", "fetch_wait_ms"):
        v["shuffle." + k] = per(ex.get("shuffle_" + k, 0.0))
    v["checkpoint.bytes"] = per(ex.get("checkpoint_bytes", 0.0))
    v["checkpoint.blocks"] = per(ex.get("checkpoint_blocks", 0.0))
    # batch queries carry their own write's planning phases and SQL
    # metrics; a stream's micro-batch writes are summed by the harness
    plan = {} if batch else dict(raw.get("actions", {}))
    for ph in ("analysis", "optimization", "planning"):
        v["plan.%s_ms" % ph] = plan.get("plan.%s_ms" % ph, 0.0)
    emitted = pairs = 0.0
    for s in samples:
        v["SparkEntry.construct_ms"] += per(s.get("construct_ms", 0.0))
        v["Sessions.autosize_ms"] += per(s.get("autosize_ms", 0.0))
        v["Sessions.decisions"] += s.get("decisions", 0) / len(samples)
        for ph in ("analysis", "optimization", "planning"):
            v["plan.%s_ms" % ph] += per(s.get("plan.%s_ms" % ph, 0.0))
        for k, x in s.get("plan_metrics", {}).items():
            plan[k] = plan.get(k, 0.0) + x
        if s["query"].startswith("q_winnow") and s["ok"]:
            emitted += s.get("plan_metrics", {}).get("join_rows_out", 0.0)
            pairs += rows.get(s["query"], 0)
    v["model.scan_bytes"] = per(plan.get("scan_bytes", 0.0))
    v["model.scan_rows"] = per(plan.get("scan_rows", 0.0))
    v["operators.join_rows_out"] = per(plan.get("join_rows_out", 0.0))
    for op in ("HashAggregate", "ObjectHashAggregate", "Sort", "BroadcastExchange",
               "ShuffledHashJoin"):
        v["operators.%s.time_ms" % op] = per(plan.get(op + ".time_ms", 0.0))
    v["llm.Dedup.pair_emit_ratio"] = emitted / pairs if pairs else 0.0
    if not batch:
        batches = raw["measured"]["batches"]
        acc = stats.open_loop(genlog["files"], batches)
        v["streaming.batches"] = len(batches)
        v["streaming.trigger_ms"] = sum(b["end_ms"] - b["start_ms"] for b in batches)
        for ph in ("addBatch", "queryPlanning", "latestOffset", "walCommit",
                   "commitOffsets"):
            v["streaming.%s_ms" % ph] = sum(b["durations"].get(ph, 0) for b in batches)
        # a foreachBatch sink reports no row count (-1); in Update mode each
        # batch emits exactly the aggregate rows it updated
        v["streaming.output_rows"] = sum(
            b["sink_rows"] if b["sink_rows"] >= 0 else b["state_rows_updated"]
            for b in batches)
        v["state.rows_total"] = batches[-1]["state_rows_total"] if batches else 0
        v["state.memory_bytes"] = max([b["state_memory_bytes"] for b in batches] or [0])
        for k in ("rows_updated", "rows_removed", "update_ms", "removal_ms",
                  "commit_ms"):
            v["state." + k] = sum(b["state_" + k] for b in batches)
        v["state.dropped_by_watermark"] = sum(b["dropped_by_watermark"] for b in batches)
        v["sources.backlog_files"] = \
            sum(acc["backlog"]) / len(acc["backlog"]) if acc["backlog"] else 0.0
        v["sources.pickup_lag_ms"] = \
            stats.median(acc["pickup_lag"]) if acc["pickup_lag"] else 0.0
        v["gen.late_p99_ms"] = stats.quantile(
            [f["written_ms"] - f["due_ms"] for f in genlog["files"]], 99)
        v["gen.events"] = sum(f["events"] for f in genlog["files"])
        v["ml.predict_ns_per_row"] = raw.get("trace_extras", {}).get("predict_ns_per_row", 0.0)
    spans = raw.get("spans", [])
    for k, span in (("ml.train_ms", "ml.train"), ("ml.register_ms", "ml.register")):
        d = [s["end_ms"] - s["start_ms"] for s in spans if s["name"] == span]
        if d:
            v[k] = stats.median(d)
    layers = stats.self_time_by_layer([s for s in spans if s["unit"] >= 0])
    for layer in ("SparkEntry", "Sessions", "plan", "exec", "streaming"):
        v[layer + ".self_ms"] = per(layers.get(layer, 0.0))
    return {k: v[k] for k in names}


def outcome(raw, wl, genlog, checks):
    """(attempted, failed): queries run, or events generated. A failed
    query, a failed check, a dropped, lost or wrong result row, and events
    stuck behind a growing backlog count as failed. Appends the live
    stream's own checks to ``checks``."""
    if wl["kind"] == "batch":
        samples = raw["measured"]["samples"]
        attempted = len(samples) + len(wl["queries"])
        failed = sum(not s["ok"] for s in samples) + sum(not c["ok"] for c in checks)
        return attempted, failed
    m = raw["measured"]
    acc = stats.open_loop(genlog["files"], m["batches"])
    events = sum(f["events"] for f in genlog["files"])
    # the pipeline may trail the generator by two triggers at most
    allowed = 2 * wl["trigger_ms"] / 1000.0 / wl["period_s"] + 2
    behind = acc["backlog"][-1] if acc["backlog"] else 0
    checks.append({"name": "backlog_bounded", "ok": behind <= allowed,
                   "final_backlog_files": behind, "allowed_files": allowed})
    ran = bool(m["generator_ok"] and m["drained"] and not m["query_error"]
               and not acc["missing"])
    checks.append({"name": "generator_ran_and_stream_drained", "ok": ran,
                   "unread_files": len(acc["missing"]), "error": m["query_error"]})
    if not ran:
        return events, events
    eq = next(c for c in checks if c["name"] == "stream_equals_batch")
    drops = next(c for c in checks if c["name"] == "no_unplanned_drops")
    failed = eq.get("missing", 0) + eq.get("extra", 0) + drops.get("dropped", 0)
    if behind > allowed:
        failed += int(behind * wl["events_per_file"])
    return events, min(events, failed)


# ------------------------------------------------------------------- main

def context(raw, cpus, stamp, root):
    try:
        # the checkout's own repository only, never one above it
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, env=env, text=True,
                             capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None  # a checkout need not be a git repository
    c = dict(raw.get("context", {}))
    c.update({"nproc": cpus, "git_sha": sha, "source_sha256": stamp[:16],
              "calib_open_s": raw.get("calib_open_s"),
              "calib_close_s": raw.get("calib_close_s")})
    return c


def write_result(build_dir, name, obj):
    d = os.path.join(build_dir, "results")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as f:
        json.dump(obj, f, indent=1)


def main(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise BenchError("run from the root of a source checkout: src/main/scala is missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise BenchError("unknown workload %r" % a.workload)
    wl = workloads[a.workload]
    build_dir = os.path.join(root, ".bench_build", "perfbench")
    cp, stamp = build(root, build_dir)
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    run = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(run)
    t0 = time.time()
    args = prepare_inputs(wl, a.seed, a.seconds, run)
    gen_s = time.time() - t0
    raw = run_jvm(cp, run, wl, a.seed, a.seconds, a.trace, cpus, args)
    genlog = None
    if wl["kind"] != "batch":
        with open(os.path.join(run, "generator.json")) as f:
            genlog = json.load(f)
    checks = list(raw["checks"])
    rows = {}
    if wl["kind"] == "batch":
        checks += oracle_checks(run, args["data"], wl["queries"])
        rows = result_rows(run, wl["queries"])
    attempted, failed = outcome(raw, wl, genlog, checks)
    e2e, timing, units = end_to_end(raw, wl, genlog)
    ctx = context(raw, cpus, stamp, root)
    log("context " + json.dumps(ctx, sort_keys=True))
    log("workload %s seed %d: %s measured; inputs %.2f s, warm-up %.2f s, "
        "peak RSS %.0f MB" % (a.workload, a.seed, units, gen_s, raw["warmup_s"],
                              raw["peak_rss_mb"]))
    for c in checks:
        if not c["ok"]:
            log("check FAILED " + json.dumps(c, sort_keys=True))
    log("checks %d passed, %d failed; failed_ratio %.6f (%d of %d)"
        % (sum(c["ok"] for c in checks), sum(not c["ok"] for c in checks),
           failed / max(1, attempted), failed, attempted))
    tail = ("p%g %.6g ms (the highest percentile with ten samples beyond it)"
            % (timing["tail_pct"], timing["tail"]) if timing["tail_pct"]
            else "no percentile has ten samples beyond it")
    log("latency: %d samples (one per %s), p50 %.6g ms, %s"
        % (timing["n"], "query run" if wl["kind"] == "batch" else "event file",
           timing["p50"], tail))
    if a.trace:
        section = bench["per_layer"]
        values = per_layer(raw, wl, genlog, [m["name"] for m in section], rows)
        report = {"workload": a.workload, "seed": a.seed, "context": ctx,
                  "traced_end_to_end": e2e, "per_layer": values,
                  "self_ms_by_layer": stats.self_time_by_layer(raw.get("spans", [])),
                  "spans": raw.get("spans", [])}
        untraced = os.path.join(build_dir, "results", "%s-%d.json" % (a.workload, a.seed))
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
            log("tracing overhead (traced minus untraced, same seed): wall_s %+.4f s"
                % report["tracing_overhead"]["wall_s"])
        write_result(build_dir, "%s-%d-trace.json" % (a.workload, a.seed), report)
    else:
        section = bench["end_to_end"]
        values = e2e
        write_result(build_dir, "%s-%d.json" % (a.workload, a.seed),
                     {"workload": a.workload, "seed": a.seed, "context": ctx,
                      "end_to_end": e2e, "timing": timing, "checks": checks})
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}
    for n, m in metrics.items():
        log("%s %.6g %s" % (n, m["value"], m["unit"]))
    # a failed run raised before this and keeps its directory for inspection
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": all(c["ok"] for c in checks), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print("perfbench: " + str(e), file=sys.stderr)
        sys.exit(2)
