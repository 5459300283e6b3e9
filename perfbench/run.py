#!/usr/bin/env python3
"""Benchmark of the graft engine: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload clinical_analytics --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness from source (sbt, offline) and generates the input tables; both
are cached under $CARGO_TARGET_DIR (default .bench_build). Each run then
starts one JVM with its own empty scratch directory, warms the workload
up once, times closed-loop passes over it for --seconds, checks the last
pass's results against DuckDB outside the timed region, and removes the
scratch directory. The seed only permutes the query order of each pass.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics, or with --trace 1 the per-layer
ones). The lines before it are a readable report.
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
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
SF = 0.01
DATA_SEED = 42
RUN_LIMIT_S = 170
T_START = time.time()
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def digest(paths):
    """sha256 over the contents of every file under paths."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build(build_dir):
    """Compiles program + harness once per source state; returns the
    runtime classpath."""
    sources = [PROGRAM_SRC, os.path.join(BENCH, "src"),
               os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]
    stamp = digest(sources)
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    log("building program and harness (sbt)")
    t0 = time.time()
    cmd = ["sbt", "-batch",
           f"-Dbench.target={os.path.join(build_dir, 'sbt')}",
           f"-Dbench.sparkJars={spark_jars()}",
           "compile", "export Runtime/fullClasspath"]
    # resolve only from the local dependency cache, never the network
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = [ln.strip() for ln in p.stdout.splitlines()]
    cps = [ln for ln in lines if ln and not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1], stamp


def input_tables(build_dir):
    """Generates the input tables once per generator version."""
    sys.path.insert(0, BENCH)
    import datagen
    stamp = digest([os.path.join(BENCH, "datagen.py")])[:16]
    data = os.path.join(build_dir, f"data-sf{SF}-{stamp}")
    if not os.path.isdir(data):
        log(f"generating input tables (sf {SF})")
        tmp = f"{data}.tmp{os.getpid()}"
        datagen.write(tmp, SF, DATA_SEED)
        os.rename(tmp, data)
    return data


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def quantile(values, q):
    """Linear-interpolated quantile of a non-empty list."""
    v = sorted(values)
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def check(harness, out_dir, data_dir):
    """Per-query verdicts: None for a correct result, else a reason."""
    import oracle
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sqls = json.load(f)
    con = oracle.connect(data_dir)
    verdicts = {}
    for name in harness["queries"]:
        prints = harness["fingerprints"].get(name, [])
        if name in harness["missing"]:
            verdicts[name] = "not in SparkEntry.queries"
        elif not prints:
            verdicts[name] = "every execution failed"
        elif name in sqls:
            verdicts[name] = oracle.compare(con, sqls[name],
                                            os.path.join(out_dir, "results", name))
        elif prints[0].startswith("0:"):
            verdicts[name] = "empty result (no oracle)"
        elif len(set(prints)) > 1:
            verdicts[name] = f"fingerprint differs across passes (no oracle): {sorted(set(prints))}"
        else:
            verdicts[name] = None
    con.close()
    return verdicts


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return None


def run_harness(cmd, log_path, deadline):
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            log("harness exceeded the run limit; stopping it")
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a terminated run still stops its JVM (run_harness's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        fail(f"program sources not found under {os.path.relpath(PROGRAM_SRC)}")
    with open(os.path.join(BENCH, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; known: {sorted(workloads)}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classpath, src_digest = build(build_dir)
    data_dir = input_tables(build_dir)

    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count() or 1
    heap = "3g"
    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch = os.path.join(run_dir, "scratch")
    out_dir = os.path.join(run_dir, "out")
    os.makedirs(os.path.join(scratch, "tmp"))
    os.makedirs(out_dir)
    try:
        names = workloads[a.workload]["queries"]
        frozen = sorted({q for w in workloads.values() for q in w["queries"]})
        with open(os.path.join(run_dir, "queries.txt"), "w") as f:
            f.write("\n".join(names) + "\n")
        with open(os.path.join(run_dir, "all_queries.txt"), "w") as f:
            f.write("\n".join(frozen) + "\n")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java] + [x for p in JDK_OPENS for x in
                        ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
            f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-Duser.timezone=UTC", "-cp", classpath, "perfbench.Harness",
            "--queries", os.path.join(run_dir, "queries.txt"),
            "--all-queries", os.path.join(run_dir, "all_queries.txt"),
            "--data", data_dir, "--scratch", scratch, "--out", out_dir,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cores", str(cores)]
        load_before, ticks_before = os.getloadavg()[0], cpu_ticks()
        log_path = os.path.join(run_dir, "harness.log")
        rc = run_harness(cmd, log_path, T_START + RUN_LIMIT_S)
        load_after, ticks_after = os.getloadavg()[0], cpu_ticks()
        # share of CPU time the hypervisor gave to other guests during the
        # run: a run that lost much of it is not comparable to one that did not
        steal = None
        if ticks_before and ticks_after and ticks_after[1] > ticks_before[1]:
            steal = ((ticks_after[0] - ticks_before[0])
                     / (ticks_after[1] - ticks_before[1]))
        if rc != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"harness exited with {rc}")
        with open(os.path.join(out_dir, "harness.json")) as f:
            h = json.load(f)
        verdicts = check(h, out_dir, data_dir)
        results = os.path.join(build_dir, "results")
        os.makedirs(results, exist_ok=True)
        stem = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}")
        if a.trace:
            shutil.copy(os.path.join(out_dir, "trace.json"), f"{stem}-spans.json")
        report(a, h, verdicts, wanted, f"{stem}.json", {
            "commit": commit(), "source_digest": src_digest[:16], "seed": a.seed,
            "sf": SF, "cores": cores, "driver_heap": heap,
            "driver_heap_mb": h["driver_heap_mb"], "spark": h["spark_version"],
            "load1_before": load_before, "load1_after": load_after,
            "steal_frac": steal})
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def end_to_end(h, passes):
    lat = [x for p in passes for x in p["latencies_s"].values()]
    med = lambda k: statistics.median(p[k] for p in passes)
    return {
        "wall_s": med("wall_s"),
        "query_p50_s": quantile(lat, 0.5) if lat else 0.0,
        "query_p90_s": quantile(lat, 0.9) if lat else 0.0,
        "cpu_s": med("cpu_s"),
        "setup_s": h["setup_s"],
        "heap_peak_mb": max(p["heap_live_mb"] for p in passes),
        "storage_written_mb": med("disk_written_mb"),
        # tables left by the warm-up pass and the first timed pass; later
        # passes add snapshots, so their count would leak into the figure
        "storage_live_mb": passes[0]["live_mb"],
    }


def per_layer(h):
    traced = [p for p in h["passes"] if p["traced"]]
    plain = [p for p in h["passes"] if not p["traced"]]
    out = {k: statistics.median(p["layers"][k] for p in traced)
           for k in traced[0]["layers"]}
    out["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                               - statistics.median(p["wall_s"] for p in plain))
    return out


def report(a, h, verdicts, wanted, record, info):
    execs = h["executions"]
    errors = h["errors"]
    attempted = sum(execs.values())
    wrong = {q: r for q, r in verdicts.items() if r}
    failed = sum(len(errors.get(q, [])) for q in execs) + sum(
        execs.get(q, 0) - len(errors.get(q, [])) for q in wrong)
    passes = h["passes"]
    values = per_layer(h) if a.trace else end_to_end(h, passes)
    metrics = {}
    for m in wanted:
        v = values.get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    info.update({
        "workload": a.workload, "trace": a.trace, "passes": len(passes),
        "queries": len(h["queries"]), "failed_frac": failed / max(attempted, 1),
        "uncovered_queries": len(h["uncovered"]),
        "run_s": round(time.time() - T_START, 3)})
    with open(record, "w") as f:
        json.dump({"run": info, "verdicts": verdicts, "metrics": metrics,
                   "harness": h}, f, indent=1)
    n_lat = sum(len(p["latencies_s"]) for p in passes)
    print(f"workload {a.workload}: {len(h['queries'])} queries, "
          f"{len(passes)} timed passes, {n_lat} query latency samples, "
          f"seed {a.seed}")
    print("run " + json.dumps(info))
    print(f"coverage: {len(h['uncovered'])} queries of SparkEntry.queries are "
          "in no workload and were not run")
    for q, r in sorted(wrong.items()):
        print(f"WRONG {q}: {r}")
    for q, errs in sorted(errors.items()):
        print(f"FAILED {q} ({len(errs)}x): {errs[0]}")
    print(f"verdict: {'correct' if not failed else 'INCORRECT'} "
          f"({attempted - failed}/{attempted} executions ok, "
          f"failed_frac {failed / max(attempted, 1):.4f})")
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted > 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
