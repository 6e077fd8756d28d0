#!/usr/bin/env python3
"""Benchmark runner: builds the program from source, generates one
workload's inputs from a seed, runs the workload in one JVM, checks its
outputs and prints the metrics as one JSON line (the last stdout line).

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import checks  # noqa: E402

ROOT = os.path.dirname(HERE)
WORKLOADS = ("ingest", "curation")
RUN_LIMIT_S = 170          # one run, set-up included
BUILD_LIMIT_S = 840        # first run in a fresh checkout
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(msg, code=2):
    log("error: " + msg)
    sys.exit(code)


def cores():
    return max(1, len(os.sched_getaffinity(0)))


def testdata_dir():
    d = os.environ.get("GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata"))
    if not os.path.exists(os.path.join(d, "sf0.1", "documents.parquet")):
        die("test corpus not found under %s (set GRAFT_TESTDATA)" % d)
    return d


# ---- build ----

def source_stamp():
    """Hash of every input of the build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(dp, f) for dp, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + harness with sbt unless the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("no program sources next to the benchmark (src/main/scala)")
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "bench-stamp")
    cp_file = os.path.join(target, "bench-classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt's scratch files stay in the checkout
    tmp = os.path.join(target, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        die("build failed", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    with open(cp_file) as fh:
        return fh.read().strip()


# ---- one run ----

def run_jvm(classpath, cfg_path, run_dir, deadline):
    """Runs graftbench.Main; returns (exit code, peak RSS MB, spawn time ms)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + JVM_HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", cfg_path]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "work", "spark-local")
    env["TMPDIR"] = tmp
    spawn_ms = time.time() * 1000
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    timer = threading.Timer(max(1.0, deadline - time.time()),
                            lambda: os.killpg(proc.pid, signal.SIGKILL))
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    except BaseException:  # interrupted: take the JVM down with us
        os.killpg(proc.pid, signal.SIGKILL)
        os.waitpid(proc.pid, 0)
        raise
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0, spawn_ms


def end_to_end(workload, raw, gen_s, spawn_ms):
    """The end-to-end metrics: totals over the timed batches (ingest) or
    the fixed list of jobs (curation). Between runs, totals spread less
    than medians of the batches did."""
    if workload == "ingest":
        s = raw["series"]
        files = raw["files_per_batch"] * len(s["batch_ms"])
        tput = files / (sum(s["batch_ms"]) / 1000.0)
        cpu = sum(s["batch_cpu_ms"]) / files
    else:
        tput = raw["ops"] / raw["elapsed_s"]
        cpu = raw["cpu_s"] * 1000.0 / raw["ops"]
    return {
        "setup_s": {"value": gen_s + (raw["setup_end_ms"] - spawn_ms) / 1000.0, "unit": "s"},
        "throughput_per_s": {"value": tput, "unit": "1/s"},
        "cpu_ms_per_op": {"value": cpu, "unit": "ms"},
    }


def workload_detail(workload, raw, m, failed, attempted, rss_mb):
    """The workload's own named figures (printed before the result line):
    the median and the highest percentile with ten samples beyond it, with
    sample counts and the trend over the timed window."""
    d = {"workload": workload, "samples": {}, "peak_rss_mb": rss_mb}

    def pct(key, name, scale, unit):
        xs = [x * scale for x in raw["series"].get(key, [])]
        d["samples"][name] = len(xs)
        for p, v in ((50, stats.percentile(xs, 50)), stats.highest_percentile(xs)):
            if v is not None:
                d["%s_p%d_%s" % (name, p, unit)] = v
        t = stats.trend_ratio(xs)
        if t is not None:
            d[name + "_trend_ratio"] = t

    if workload == "ingest":
        d["ingest_files_per_s"] = raw["ops"] / raw["elapsed_s"]
        pct("batch_ms", "ingest_batch", 0.001, "s")
        pct("reader_ms", "search", 1.0, "ms")
        d["store_bytes_per_chunk"] = raw["store_bytes"] / max(1, raw["points"])
        d["ledger_vs_points_mismatch_files"] = raw["ledger_vs_points_mismatch_files"]
    else:
        d["curation_s"] = sum(raw["series"].get("job_ms", [])) / 1000.0
        pct("job_ms", "job", 1.0, "ms")
    d["failed_ratio"] = failed / max(1, attempted)
    return d


def per_layer(workload, raw, names, rss_mb):
    layers = dict(raw.get("layers", {}))
    layers["jvm.peak_rss_mb"] = rss_mb
    s = raw["series"]
    key = {"ingest": "batch_ms", "curation": "job_ms"}[workload]
    plain, listen = s.get(key + ".plain", []), s.get(key + ".listen", [])
    if workload == "curation":
        base, traced = sum(plain), sum(listen)
    else:
        base = statistics.median(plain) if plain else 0.0
        traced = statistics.median(listen) if listen else 0.0
    layers["trace.overhead_ratio"] = traced / base - 1.0 if base > 0 else 0.0
    layers["harness.trend_ratio"] = stats.trend_ratio(plain) or 1.0
    return {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in names}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    classpath = build()
    data = testdata_dir()

    run_root = os.path.join(ROOT, ".bench_run")
    run_dir = os.path.join(run_root, "%s-s%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        deadline = time.time() + RUN_LIMIT_S
        t0 = time.time()
        inputs = os.path.join(run_dir, "inputs")
        gen.generate(args.workload, args.seed, inputs, data, int(args.seconds))
        gen_s = time.time() - t0
        work = os.path.join(run_dir, "work")
        os.makedirs(work)
        cfg = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": bool(args.trace), "cores": cores(), "testdata": data,
               "input_dir": inputs, "manifest": os.path.join(inputs, "manifest.json"),
               "work_dir": work, "result": os.path.join(run_dir, "result.json")}
        cfg_path = os.path.join(run_dir, "config.json")
        with open(cfg_path, "w") as fh:
            json.dump(cfg, fh)
        code, rss_mb, spawn_ms = run_jvm(classpath, cfg_path, run_dir, deadline)
        if code != 0 or not os.path.exists(cfg["result"]):
            die("workload JVM exited with %d" % code, 4)
        with open(cfg["result"]) as fh:
            raw = json.load(fh)
        log("gen %.1f s, jvm+session %.1f s, set-up %.1f s, timed %.1f s, checks %.1f s, exit %.1f s" % (
            gen_s, (raw["session_ms"] - spawn_ms) / 1e3, (raw["setup_end_ms"] - raw["session_ms"]) / 1e3,
            (raw["timed_end_ms"] - raw["setup_end_ms"]) / 1e3, (raw["checked_ms"] - raw["timed_end_ms"]) / 1e3,
            time.time() - raw["checked_ms"] / 1e3))

        failed, attempted = raw["failed"], raw["attempted"]
        if args.workload == "curation":
            t0 = time.time()
            f, a, notes = checks.check_curation(raw, os.path.join(data, "sf0.1"))
            log("oracle checks %.1f s" % (time.time() - t0))
            failed += f
            attempted += a
            for n in notes:
                log(n)
        for e in raw.get("errors", []):
            log("failure: " + e)

        m = end_to_end(args.workload, raw, gen_s, spawn_ms)
        print(json.dumps(workload_detail(args.workload, raw, m, failed, attempted, rss_mb), sort_keys=True))
        if args.trace:
            names = [(x["name"], x["unit"]) for x in spec["per_layer"]]
            metrics = per_layer(args.workload, raw, names, rss_mb)
        else:
            metrics = {x["name"]: m[x["name"]] for x in spec["end_to_end"]}
        print(json.dumps({"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(run_root)
        except OSError:
            pass


if __name__ == "__main__":
    main()
