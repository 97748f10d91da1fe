#!/usr/bin/env python3
"""Benchmark of the graft engine: four workloads, end-to-end and per layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt into `.bench_build/`; later runs reuse the build while
the sources are unchanged. The last line of standard output is one JSON
object: with `--trace 0` the end-to-end metrics, with `--trace 1` the
per-layer metrics. A fuller report, with the raw samples and every
span, is written to `.bench_build/perfbench/reports/`. See README.md.
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ["replay_day", "stream_replay", "tick_notebook", "graph_loops"]
RUN_LIMIT_S = 172
GRAPH_SCALE = 0.003
WARM_GRAPH_SCALE = 0.0004
# A fixed young generation keeps the resident set a function of the work
# rather than of the collector's adaptive sizing.
JVM_MEMORY = ["-Xmx3g", "-Xmn768m"]
# The reference replays a 24 h day single-threaded in "~2 min"; a
# 24-file FixtureLog day of that volume has about 3.6 M frames.
REFERENCE_DAY_S = 120.0
REFERENCE_DAY_FRAMES = 3_600_000
STREAM_FRAMES = 4 * 1200  # Inputs.StreamHours × Inputs.StreamFramesPerHour
# The queries whose latency is the notebook's point-lookup figure.
SELECTIVE = {"bbo_1m_asset", "hour_range_asset"}
NOTEBOOK_QUERIES = ["bbo_1m_asset", "hour_range_asset", "bbo_1m_all", "hourly_volume",
                    "summary_stats", "trades_prevailing_bbo", "twa_spread"]
GRAPH_QUERIES = ["q_graph_kcore", "q_graph_temporal_anf", "q_graph_scc_entity",
                 "q_graph_sssp", "q_graph_label_prop"]

# (name, unit, better, bound) of the metrics a run with --trace 0 prints.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("op_p50_ms", "ms", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

# (name, unit, better) of the metrics a run with --trace 1 prints.
PER_LAYER = (
    [("RawLogSource.decode_s", "s", "lower"), ("RawLogSource.decode_cpu_s", "s", "lower"),
     ("RawLogSource.frames", "count", "higher"), ("RawLogSource.explode_s", "s", "lower"),
     ("RawLogSource.explode_cpu_s", "s", "lower"), ("RawLogSource.msgs", "count", "higher"),
     ("BookReplay.fold_s", "s", "lower"), ("BookReplay.fold_cpu_s", "s", "lower"),
     ("BookReplay.shuffle_bytes", "bytes", "lower"), ("BookReplay.task_skew", "ratio", "lower"),
     ("BookReplay.ticks", "count", "higher"), ("BookReplay.order_s", "s", "lower"),
     ("BookReplay.order_jobs", "count", "lower"),
     ("BookReplay.order_shuffle_read_bytes", "bytes", "lower"),
     ("Sinks.write_s", "s", "lower"), ("Sinks.bytes_out", "bytes", "lower"),
     ("Sinks.files", "count", "lower"),
     ("replay.layer_sum_share", "ratio", "lower"),
     ("replay.replay_1t_s", "s", "lower"), ("replay.frame_1t_us", "us", "lower"),
     ("replay.ref_speedup_1t", "ratio", "higher"),
     ("StreamingReplay.add_batch_ms", "ms", "lower"),
     ("StreamingReplay.planning_ms", "ms", "lower"),
     ("StreamingReplay.wal_commit_ms", "ms", "lower"),
     ("StreamingReplay.state_commit_ms", "ms", "lower"),
     ("StreamingReplay.state_update_ms", "ms", "lower"),
     ("StreamingReplay.state_bytes", "bytes", "lower"),
     ("StreamingReplay.state_rows", "count", "lower"),
     ("StreamingReplay.batches", "count", "lower")]
    + [(f"TickAnalytics.{q}_s", "s", "lower") for q in NOTEBOOK_QUERIES]
    + [("TickAnalytics.bytes_read", "bytes", "lower"),
       ("TickAnalytics.rows_read_per_row_out", "ratio", "lower"),
       ("TickAnalytics.shuffle_bytes", "bytes", "lower")]
    + [(f"GraphAlgos.{q}.{m}", u, "lower") for q in GRAPH_QUERIES
       for m, u in [("s", "s"), ("jobs", "count"), ("tasks", "count"),
                    ("shuffle_bytes", "bytes"), ("cpu_s", "s"), ("idle_share", "ratio")]]
    + [("GraftSession.codegen_compiles", "count", "lower"), ("jvm.gc_s", "s", "lower"),
       ("host.steal_share", "ratio", "lower"), ("trace.overhead_s", "s", "lower")]
)

ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def sources_digest():
    """Digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha1()
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(base)):
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine and harness once per source state; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError(f"no engine sources under {ROOT}: run from a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    digest = sources_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false -Xmx2g").strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=850)
        out.write(r.stdout)
    lines = [ln.strip() for ln in r.stdout.splitlines() if ln.strip()]
    cp = next((ln for ln in reversed(lines) if "perfbench" in ln and ":" in ln
               and not ln.startswith("[")), None)
    if r.returncode != 0 or cp is None:
        raise BenchError(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def java(cp, work, tmp, args, deadline):
    """Run the harness JVM with its logs in `work`; raise if it fails or
    is still running at `deadline` (a time.monotonic() value)."""
    timeout = max(1.0, deadline - time.monotonic())
    os.makedirs(tmp, exist_ok=True)
    local = os.path.join(work, "spark-local")
    cmd = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
           if os.environ.get("JAVA_HOME") else "java",
           *ADD_OPENS, *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    log_path = os.path.join(work, f"jvm-{args[0]}.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=log, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"harness JVM timed out, see {log_path}")
    if r.returncode != 0:
        raise BenchError(f"harness JVM failed ({r.returncode}), see {log_path}")


def ensure_graph(path, seed, scale):
    import oracle
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        oracle.write_graph_tables(path, seed, scale)
        open(os.path.join(path, ".done"), "w").close()


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def end_to_end(res):
    """The --trace 0 metrics of one run's raw samples."""
    w = res["workload"]
    passes = res["passes"]
    ops = [op for p in passes for op in p["ops"]]
    if w == "replay_day":
        op_s = [op["wall_s"] for op in ops if op["name"].startswith("hour_")]
    elif w == "stream_replay":
        op_s = [b for p in passes for b in p["batch_s"]]
    elif w == "tick_notebook":
        op_s = [op["wall_s"] for op in ops if op["name"] in SELECTIVE]
    else:
        # one median per loop, so that every loop weighs the same
        by_loop = {}
        for op in ops:
            by_loop.setdefault(op["name"], []).append(op["wall_s"])
        op_s = [stats.median(xs) for xs in by_loop.values()]
    op_p50_s = stats.geomean(op_s) if w == "graph_loops" else stats.median(op_s)
    return {
        "setup_s": res["setup_s"],
        "pass_s": stats.median([p["wall_s"] for p in passes]),
        "op_p50_ms": op_p50_s * 1000.0,
        "peak_rss_mb": res["peak_rss_mb"],
    }, op_s


def workload_metrics(res, op_s, failed, attempted):
    """The workload's own names for its figures, for the report."""
    w = res["workload"]
    pass_s = stats.median([p["wall_s"] for p in res["passes"]])
    m = {"setup_s": res["setup_s"], "peak_rss_mb": res["peak_rss_mb"],
         "error_rate": failed / attempted, "settle_s": res["settle_s"],
         "passes": len(res["passes"]), "op_samples": len(op_s)}
    if w == "replay_day":
        m.update(replay_s=pass_s, replay_hour_s=stats.median(op_s))
    elif w == "stream_replay":
        m.update(stream_frames_per_s=STREAM_FRAMES / pass_s,
                 stream_batch_p50_s=stats.percentile(op_s, 0.5),
                 stream_batch_p90_s=stats.percentile(op_s, 0.9),
                 stream_batches=len(op_s))
    elif w == "tick_notebook":
        m.update(notebook_pass_s=pass_s, notebook_point_p50_s=stats.median(op_s))
    else:
        m.update(loops_pass_s=pass_s)
    return m



def _prefix_median(rounds, prefix, key):
    return stats.median([r[prefix]["counters"][key] for r in rounds])


def per_layer(res, single):
    """The --trace 1 metrics from the traced run's layer passes."""
    cores = res["cores"]
    lay = res["layers"]
    m = {}
    rd = lay["replay_day"]
    rounds = rd["prefix_rounds"]
    order = ["frames", "feedMessages", "ticks", "referenceTicks", "writeTicksParquet"]
    table = stats.layer_table(
        [(p, [r[p]["wall_s"] for r in rounds], _prefix_median(rounds, p, "task_run_s"))
         for p in order], cores)
    layer = {row["layer"]: row for row in table}

    def delta(p, q, key):
        return max(0.0, _prefix_median(rounds, p, key) - _prefix_median(rounds, q, key))

    frame_s = ((single["replay_1t_s"] - single["small_s"])
               / (single["frames"] - single["small_frames"]))
    fold_stages = [s for r in rounds for s in r["ticks"]["stages"] if s["shuffle_read_bytes"] > 0]
    counts = rd["counts"]
    replay_s = stats.median(rd["replay_s"])
    m.update({
        "RawLogSource.decode_s": layer["frames"]["s"],
        "RawLogSource.decode_cpu_s": _prefix_median(rounds, "frames", "cpu_s"),
        "RawLogSource.frames": counts["frames"],
        "RawLogSource.explode_s": layer["feedMessages"]["s"],
        "RawLogSource.explode_cpu_s": delta("feedMessages", "frames", "cpu_s"),
        "RawLogSource.msgs": counts["msgs"],
        "BookReplay.fold_s": layer["ticks"]["s"],
        "BookReplay.fold_cpu_s": delta("ticks", "feedMessages", "cpu_s"),
        "BookReplay.shuffle_bytes": delta("ticks", "feedMessages", "shuffle_write_bytes"),
        "BookReplay.task_skew": stats.median([s["skew"] for s in fold_stages]) if fold_stages else 1.0,
        "BookReplay.ticks": counts["ticks"],
        "BookReplay.order_s": layer["referenceTicks"]["s"],
        "BookReplay.order_jobs": delta("referenceTicks", "ticks", "jobs"),
        "BookReplay.order_shuffle_read_bytes": delta("referenceTicks", "ticks", "shuffle_read_bytes"),
        "Sinks.write_s": layer["writeTicksParquet"]["s"],
        "Sinks.bytes_out": counts["bytes_out"],
        "Sinks.files": counts["files"],
        "replay.layer_sum_share": sum(r["s"] for r in table) / replay_s,
        "replay.replay_1t_s": single["replay_1t_s"],
        "replay.frame_1t_us": frame_s * 1e6,
        "replay.ref_speedup_1t": REFERENCE_DAY_S / stats.extrapolate(
            (single["small_frames"], single["small_s"]),
            (single["frames"], single["replay_1t_s"]), REFERENCE_DAY_FRAMES),
    })
    batches = lay["stream_replay"]["batches"]
    for k in ["add_batch_ms", "planning_ms", "wal_commit_ms", "state_commit_ms",
              "state_update_ms"]:
        m[f"StreamingReplay.{k}"] = stats.median([b[k] for b in batches])
    m["StreamingReplay.state_bytes"] = batches[-1]["state_bytes"]
    m["StreamingReplay.state_rows"] = batches[-1]["state_rows"]
    m["StreamingReplay.batches"] = len(batches)

    nb = lay["tick_notebook"]["queries"]
    for q in nb:
        m[f"TickAnalytics.{q['name']}_s"] = q["wall_s"]
    m["TickAnalytics.bytes_read"] = sum(q["counters"]["input_bytes"] for q in nb)
    m["TickAnalytics.rows_read_per_row_out"] = (
        sum(q["counters"]["input_records"] for q in nb) / max(1, sum(q["rows"] for q in nb)))
    m["TickAnalytics.shuffle_bytes"] = sum(q["counters"]["shuffle_write_bytes"] for q in nb)

    for q in lay["graph_loops"]["queries"]:
        c = q["counters"]
        pre = f"GraphAlgos.{q['name']}"
        m.update({f"{pre}.s": q["wall_s"], f"{pre}.jobs": c["jobs"], f"{pre}.tasks": c["tasks"],
                  f"{pre}.shuffle_bytes": c["shuffle_write_bytes"], f"{pre}.cpu_s": c["cpu_s"],
                  f"{pre}.idle_share": q["idle_share"]})

    m["GraftSession.codegen_compiles"] = res["setup_compiles"]
    m["jvm.gc_s"] = res["jvm_gc_s"]
    m["host.steal_share"] = res["run_counters"]["steal_share"]
    m["trace.overhead_s"] = stats.median(rd["replay_traced_s"]) - replay_s
    return m, table


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    phases = {}
    t = time.monotonic()
    cp = build()
    phases["build_s"] = time.monotonic() - t
    # every run after the build must end within RUN_LIMIT_S
    deadline = time.monotonic() + RUN_LIMIT_S
    cores = cpu_count()
    inputs = os.path.join(BUILD, "inputs", f"seed-{a.seed}")
    graph = os.path.join(inputs, "graph")
    warm_graph = os.path.join(BUILD, "inputs", "warm-graph")
    if a.workload == "graph_loops" or a.trace:
        ensure_graph(graph, a.seed, GRAPH_SCALE)
        ensure_graph(warm_graph, 7, WARM_GRAPH_SCALE)
    warm = os.path.join(BUILD, "inputs", "warm")
    work = os.path.join(BUILD, "runs", f"{a.workload}-t{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(inputs, "jtmp")
    active = WORKLOADS if a.trace else [a.workload]
    needed = [os.path.join(warm, "day"), os.path.join(warm, "stream")]
    if {"replay_day", "tick_notebook"} & set(active):
        needed.append(os.path.join(inputs, "day"))
    if "stream_replay" in active:
        needed.append(os.path.join(inputs, "stream"))
    t = time.monotonic()
    if not all(os.path.exists(os.path.join(d, ".done")) for d in needed):
        java(cp, work, tmp, ["gen", "--workloads", ",".join(active), "--seed", str(a.seed),
                             "--inputs", inputs, "--warm", warm], deadline)
    phases["inputs_s"] = time.monotonic() - t
    t = time.monotonic()
    result = os.path.join(work, "result.json")
    java(cp, work, tmp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--cores", str(cores), "--inputs", inputs, "--warm", warm,
                         "--work", work, "--graph", graph, "--warm-graph", warm_graph,
                         "--result", result],
         deadline)
    phases["jvm_s"] = time.monotonic() - t
    with open(result) as f:
        res = json.load(f)

    import oracle
    checks = list(res["checks"])
    if a.trace:
        layers = res["layers"]
        checks.append(layers["replay_day"]["check"])
        checks.append(layers["stream_replay"]["check"])
        checks += [dict(c, name="layers/" + c["name"]) for c in layers["tick_notebook"]["checks"]]
        checks += [dict(c, name="layers/" + c["name"]) for c in layers["graph_loops"]["checks"]]
    t = time.monotonic()
    verdict = oracle.check_outputs(checks, res["oracle_setup"], os.path.join(inputs, "oracle"))
    phases["oracle_s"] = time.monotonic() - t
    bad = {n for n, v in verdict.items() if not v["ok"]}

    report = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "checks": verdict}
    if a.trace:
        t = time.monotonic()
        single_res = os.path.join(work, "replay1t.json")
        java(cp, work, tmp, ["replay1t", "--in", os.path.join(inputs, "day"),
                             "--warm-in", os.path.join(warm, "day"),
                             "--out", os.path.join(work, "out", "replay1t"),
                             "--result", single_res], deadline)
        with open(single_res) as f:
            single = json.load(f)
        phases["replay1t_s"] = time.monotonic() - t
        attempted, failed = len(verdict), len(bad)
        metrics, table = per_layer(res, single)
        report.update(layers=table, single_thread=single, raw=res)
        units = {n: u for n, u, _ in PER_LAYER}
    else:
        attempted = failed = 0
        last = {op["name"]: (op["rows"], op["hash"]) for op in res["passes"][-1]["ops"]}
        for p in res["passes"]:
            for op in p["ops"]:
                attempted += 1
                if f"{a.workload}/{op['name']}" in bad or (op["rows"], op["hash"]) != last[op["name"]]:
                    failed += 1
        metrics, op_s = end_to_end(res)
        report.update(workload_metrics(res, op_s, failed, attempted), raw=res)
        units = {n: u for n, u, _, _ in END_TO_END}

    report["phases"] = phases
    reports = os.path.join(BUILD, "reports")
    os.makedirs(reports, exist_ok=True)
    with open(os.path.join(reports, f"{a.workload}-seed{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(report, f, indent=1)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
