#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine sources and the
harness under perfbench/src with sbt (skipped when nothing changed),
runs one workload in one JVM on local[4], checks its outputs and prints
the metrics as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (spec.py lists both). The line before it is a per-workload
report with the workload's own figures. Exits non-zero when a check
fails or the run cannot complete.
"""
import argparse
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

import spec  # noqa: E402
import stats  # noqa: E402

CORES = 4
# The repository's own default driver heap limit (build.sbt). The heap
# starts at 2 GB, not pre-touched, so the resident set follows what the
# run touches; the registry's times spread less than when the heap grows
# from the JVM's default start.
HEAP = "8g"
HEAP_START = "2g"
JVM_LIMIT_S = 170
BUILD_LIMIT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_process(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout."""
    with open(log_path, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                                env=env, start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise BenchError(f"{cmd[0]} did not finish in {timeout:.0f} s; see {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


# ---- build ---------------------------------------------------------------

def build(root):
    """Compiles the engine and the harness; returns the runtime classpath."""
    engine = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")):
        raise BenchError(f"no engine sources at {engine}/graft: run from a checkout's root")
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (engine, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    digest = hashlib.sha256()
    for f in sorted(files):
        digest.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    target = os.path.join(HERE, "target")
    stamp_path = os.path.join(target, "perfbench.stamp")
    cp_path = os.path.join(target, "classpath.txt")
    stamp = digest.hexdigest()
    if os.path.exists(cp_path) and os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return open(cp_path).read().strip()
    os.makedirs(target, exist_ok=True)
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    log("building the engine and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BenchError("no Spark distribution: set SPARK_HOME")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        # Resolve from the local caches only, through the user's
        # repository list when there is one.
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(target, 'sbt-global')}", "writeClasspath"]
    build_log = os.path.join(target, "build.log")
    t0 = time.time()
    code = run_process(cmd, HERE, build_log, BUILD_LIMIT_S, env)
    if code != 0 or not os.path.exists(cp_path):
        raise BenchError(f"sbt build failed ({code}):\n{tail(build_log)}")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return open(cp_path).read().strip()


# ---- one run -------------------------------------------------------------

def run_java(classpath, args, work, timeout):
    """Runs one harness main class in a fresh work dir; returns its exit code."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP_START}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
        "-cp", classpath] + args
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), MALLOC_ARENA_MAX="2")
    return run_process(cmd, work, os.path.join(work, "jvm.log"), timeout, env)


def run_jvm(classpath, workload, seed, seconds, trace, work, timeout):
    code = run_java(classpath, ["perfbench.Main", workload, str(seed), str(seconds), str(trace),
                                work, str(CORES)], work, timeout)
    record = os.path.join(work, "run.json")
    if code != 0 or not os.path.exists(record):
        raise BenchError(f"benchmark JVM failed ({code}):\n{tail(os.path.join(work, 'jvm.log'))}")
    with open(record) as f:
        return json.load(f)


def host_cpu():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def host_load():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def checks_of(run):
    return [(c["name"], c["ok"], c["detail"]) for c in run["checks"]]


def backfill(m):
    """End-to-end figures of iiot_backfill from one measurement."""
    ranges = m["file_event_us"]
    lat, unlanded = [], 0
    for d in m["drains"]:
        for t in stats.landing(ranges, d["batch_event_us"], d["raw_returned_ms"]):
            if t is None:
                unlanded += 1
            else:
                lat.append(t - d["start_ms"])
    drain_s = stats.median(m["drain_ms"]) / 1e3
    return {
        "rows_per_s": m["rows"] / drain_s,
        "latency_p50_ms": stats.median(lat),
        "latency_mean_ms": stats.mean(lat),
        "drain_s": drain_s,
        "lake_bytes_per_row": m["layers"]["io.lake_bytes"] / m["rows"],
    }, len(m["drains"]), min(unlanded, len(m["drains"])), [
        ("files_landed", unlanded == 0, f"{unlanded} files never landed")]


def registry(m, input_rows):
    walls = {}
    for p in m["queries"]:
        for q in p:
            walls.setdefault(q["query"], []).append(
                q["construct_ms"] + q["plan_ms"] + q["execute_ms"])
    every = [w for ws in walls.values() for w in ws]
    per_query = {q: stats.median(ws) / 1e3 for q, ws in walls.items()}
    pass_s = stats.median(m["pass_ms"]) / 1e3
    return {
        "rows_per_s": input_rows / pass_s,
        "latency_p50_ms": stats.median(every),
        "latency_mean_ms": stats.mean(every),
        "total_s": sum(per_query.values()),
        "geomean_s": stats.geomean(list(per_query.values())),
        "query_p50_s": stats.median(list(per_query.values())),
        "query_p95_s": stats.percentile(list(per_query.values()), 0.95, min_beyond=0),
        "pass_s": pass_s,
    }, len(every), 0, []


def figures(workload, m):
    if workload == "iiot_backfill":
        return backfill(m)
    return registry(m, m["layers"]["gen.rows"])


def primary(workload, fig):
    """The time the tracing overhead is read on, in seconds."""
    if workload == "iiot_backfill":
        return fig["drain_s"]
    return fig["pass_s"]


def layers_of(workload, run, fig, untraced_figs, failed_frac, spans):
    m = run["traced"]
    out = {name: 0.0 for name, _, _ in spec.PER_LAYER}
    out.update(m["layers"])
    out.update(run["layers"])
    if workload == "analytics_registry":
        passes = m["queries"]
        n = len(passes)
        for key in ("construct", "plan", "execute"):
            out[f"queries.{key}_s"] = sum(q[f"{key}_ms"] for p in passes for q in p) / 1e3 / n
        for fam in ("parity", "bench", "ext", "analytics"):
            out[f"queries.{fam}_s"] = sum(q["construct_ms"] + q["plan_ms"] + q["execute_ms"]
                                          for p in passes for q in p if q["family"] == fam) / 1e3 / n
        jobs = run.get("jobs_by_phase", {})
        out["queries.construct_jobs"] = sum(v for k, v in jobs.items() if k.endswith(":construct")) / n
        per_query = {}
        for k, v in jobs.items():
            pas, q, _ = k.split(":")
            if pas != "0":
                per_query[(pas, q)] = per_query.get((pas, q), 0) + v
        counts = [per_query.get((str(i + 1), q["query"]), 0) for i, p in enumerate(passes) for q in p]
        out["queries.jobs_per_query_p50"] = stats.median(counts)
    for layer, ms in stats.self_times(spans).items():
        if f"self_s.{layer}" in out:
            out[f"self_s.{layer}"] = ms / 1e3
    base = stats.mean([primary(workload, f) for f in untraced_figs])
    traced = primary(workload, fig)
    out["trace.overhead_s"] = traced - base
    out["trace.overhead_frac"] = (traced - base) / base
    single = run.get("single_core", {})
    if workload == "iiot_backfill" and "drain_ms" in single:
        out["spark.speedup_vs_1core"] = single["drain_ms"] / 1e3 / base
    if workload == "analytics_registry" and "pass_ms" in single:
        out["spark.speedup_vs_1core"] = single["pass_ms"] / 1e3 / base
    out["run.failed_frac"] = failed_frac
    out["mem.peak_heap_mb"] = run["peak_heap_mb"]
    out["mem.peak_rss_mb"] = run["peak_rss_mb"]
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[w for w, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{args.trace}")
    load0, cpu0 = host_load(), host_cpu()
    try:
        if args.workload == "analytics_registry":
            import oracle
            oracle.gate(root)
        classpath = build(root)
        run = run_jvm(classpath, args.workload, args.seed, args.seconds, args.trace, work,
                      JVM_LIMIT_S)
    except (BenchError, FileNotFoundError) as e:
        log(str(e))
        return 2

    checks = checks_of(run)
    if args.workload == "analytics_registry":
        for name, ok, detail, _rows, _s in oracle.compare(os.path.join(work, "oracle"), root):
            checks.append((f"oracle:{name}", ok, detail))
    m = run["traced"] if args.trace else run["measured"]
    fig, ops, failed_ops, more = figures(args.workload, m)
    checks += more
    attempted = ops + len(checks)
    failed = failed_ops + sum(1 for _, ok, _ in checks if not ok)
    for name, ok, detail in checks:
        if not ok:
            log(f"check failed: {name}: {detail}")
    frac = stats.failed_frac(attempted, failed)

    if args.trace:
        spans = run.get("spans", [])
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump(spans, f)
        untraced = [figures(args.workload, run[k])[0] for k in ("untraced", "untraced_after")]
        values = layers_of(args.workload, run, fig, untraced, frac, spans)
        units = {n: u for n, u, _ in spec.PER_LAYER}
        metrics = {n: {"value": values[n], "unit": units[n]} for n, _, _ in spec.PER_LAYER}
    else:
        values = dict(fig, setup_s=stats.median(run["setup_s"]))
        metrics = {n: {"value": values[n], "unit": u} for n, u, _, _ in spec.END_TO_END}

    cpu1 = host_cpu()
    report = dict(fig, setup_s=stats.median(run["setup_s"]), setup_runs_s=run["setup_s"],
                  peak_rss_mb=run["peak_rss_mb"], peak_heap_mb=run["peak_heap_mb"],
                  failed_frac=frac, host_load_1m=load0,
                  host_steal_frac=(cpu1[0] - cpu0[0]) / max(1, cpu1[1] - cpu0[1]))
    print(json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                      "report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    for sub in os.listdir(work):
        if os.path.isdir(os.path.join(work, sub)):
            shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
