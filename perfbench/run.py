#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run one workload, check
its outputs, print the metrics.

    python3 perfbench/run.py --workload dedup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is a
JSON detail record (host, inputs, tail sample count, per-span breakdown).
See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import digest  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dedup", "mosaic_resume")
SF = 0.01               # table scale factor: 500 documents, 60k lineitem rows
RUN_LIMIT_S = 170       # keeps every run (after the first build) under 180 s
STOP_MARGIN_S = 25      # after the harness's last op: spark.stop, result, exit


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_gb():
    """Driver heap in GiB: SPARK_DRIVER_MEM if set (as <n>g), else a quarter
    of MemTotal, between 2 and 31 (above 31g the JVM loses compressed oops)."""
    env = os.environ.get("SPARK_DRIVER_MEM", "")
    if env[:-1].isdigit() and env[-1:].lower() == "g":
        return int(env[:-1])
    gb = 8
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // (4 * 1024 * 1024)
    except OSError:
        pass
    return min(31, max(2, gb))


def source_stamp(root):
    """Hash of everything the harness build reads."""
    h = hashlib.sha256()
    files = []
    for top in ("src/main", "perfbench/src/main"):
        for d, _, names in os.walk(os.path.join(root, top)):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(root, p) for p in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and the harness with sbt (once per source state)
    and return (harness classpath, the engine's JVM options, source stamp)."""
    stamp = source_stamp(root)
    bdir = os.path.join(work, "build")
    out_file = os.path.join(bdir, "build-%s.json" % stamp[:16])
    if os.path.exists(out_file):
        with open(out_file) as f:
            b = json.load(f)
        return b["classpath"], b["java_options"], stamp
    os.makedirs(bdir, exist_ok=True)
    log = os.path.join(bdir, "sbt.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath", "engineJavaOptions"],
            cwd=os.path.join(root, "perfbench"), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=880).returncode
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cps = [ln for ln in lines if ".jar" in ln and os.pathsep in ln and not ln.startswith("[")]
    tag = "engine-java-option "
    opts = [ln[len(tag):] for ln in lines if ln.startswith(tag)]
    if rc != 0 or not cps or not opts:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail("build failed (sbt exit %d); log in %s" % (rc, log))
    with open(out_file, "w") as f:
        json.dump({"classpath": cps[-1], "java_options": opts}, f)
    return cps[-1], opts, stamp


def java_cmd(b, tmp, *args):
    """The harness JVM: the engine's own JVM options, with this host's heap
    in place of the engine's -Xmx."""
    cp, opts = b
    # a fixed heap and young generation: G1's adaptive sizing otherwise
    # makes peak RSS swing by half between identical runs
    gb = heap_gb()
    return (["java", "-Xms%dg" % gb, "-Xmx%dg" % gb, "-Xmn%dm" % (gb * 1024 // 3)]
            + [o for o in opts if not o.startswith(("-Xmx", "-Xms", "-Xmn"))]
            + ["-XX:-UsePerfData", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
               "-cp", cp, "perfbench.Main"] + list(args))


def run_jvm(cmd, log, deadline):
    """Run one harness JVM to completion; kill it past the deadline."""
    with open(log, "a") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            fail("harness JVM passed the run deadline; log in %s" % log)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("harness JVM exited %d; log in %s" % (p.returncode, log))
    return out.decode()


def oracle_digests(b, work, tmp, log, deadline, workload, data_dir, stamp):
    """Digests of the oracle's answers for this input, cached per input.
    The oracle SQL comes from the engine (`SparkEntry.oracleSql`), cached
    per build."""
    path = os.path.join(data_dir, "oracle-%s-%s.json" % (workload, stamp[:16]))
    if os.path.exists(path):
        return path
    sql_path = os.path.join(work, "build", "oracle-sql-%s-%s.json" % (workload, stamp[:16]))
    if not os.path.exists(sql_path):
        out = run_jvm(java_cmd(b, tmp, "oracles", workload), log, deadline)
        with open(sql_path, "w") as f:
            f.write(out.strip().splitlines()[-1])
    with open(sql_path) as f:
        sql = json.load(f)
    want = digest.oracle(data_dir, gen.TABLES, sql)
    with open(path, "w") as f:
        json.dump(want, f)
    return path


def loadavg():
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def summarize(main, setup, trace):
    """End-to-end (or per-layer) metrics from the harness's result file.

    A pass's time is the sum of its ops' times (checks and store restores
    between ops are not part of it); a pass with a failed op has no time."""
    replay = main.get("replay_ops", [])
    ops = main["warmup_ops"] + [op for p in main["passes"] for op in p] + replay
    failed = sum(op["failure"] is not None for op in ops)
    lat = [op["seconds"] for p in main["passes"] for op in p if op["failure"] is None]
    good = [p for p in main["passes"] if all(op["failure"] is None for op in p)]
    pass_s = [sum(op["seconds"] for op in p) for p in good]
    untraced = statistics.median(pass_s) if pass_s else 0.0
    tail, q, beyond = stats.tail(lat)
    e2e = {
        "setup_s": setup,
        "throughput": main["work_per_pass"] / untraced if untraced else 0.0,
        "op_p50_s": statistics.median(lat) if lat else 0.0,
        "cpu_s": statistics.median(sum(op["cpu_s"] for op in p) for p in main["passes"]),
        "peak_rss_mb": main["peak_rss_mb"],
        "ok_ratio": (len(ops) - failed) / len(ops),
    }
    detail = {"throughput_unit": main["unit"] + "/s", "ops_attempted": len(ops),
              "ops_failed": failed,
              "failures": sorted({"%s: %s" % (op["name"], op["failure"])
                                  for op in ops if op["failure"]})[:20],
              "pass_s": [round(x, 3) for x in pass_s],
              "op_s": [[op["name"], op["seconds"]] for p in main["passes"] for op in p],
              "warmup_s": [op["seconds"] for op in main["warmup_ops"]],
              "latency_samples": len(lat),
              "op_tail_s": tail, "tail_quantile": q, "tail_samples_beyond": beyond}
    if not trace:
        return e2e, failed, len(ops), detail
    layers = dict(main["layers"])
    spans = main["spans"]
    for key in SPARK_KEYS:
        layers["spark." + key] = spark_total(spans, key)
    # the replay against the untraced passes just before and just after it:
    # passes keep getting faster (JIT), so against all passes the replay
    # would read as faster than untraced
    clean = len(good) == len(main["passes"]) and all(op["failure"] is None for op in replay)
    traced = sum(op["seconds"] for op in replay) if clean else 0.0
    untraced = statistics.mean(pass_s[-2:]) if clean else 0.0
    layers["trace.overhead_ratio"] = traced / untraced if untraced else 0.0
    detail["spans"] = spans
    detail["traced_pass_s"] = traced
    detail["untraced_pass_s"] = untraced
    return layers, failed, len(ops), detail


UNATTRIBUTED = "(none)"  # Tracer.Unattributed
SPARK_KEYS = ("jobs", "stages", "tasks", "task_busy_s", "core_util", "driver_gap_s",
              "sched_delay_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
              "gc_s", "peak_exec_mem_mb", "task_skew", "failed_tasks")


def spark_total(spans, key):
    """Whole traced pass: sums, except the ratio/peak metrics. Jobs outside
    every span (the harness materializing a layer's input) are left out."""
    spans = [s for s in spans if s["name"] != UNATTRIBUTED]
    if key == "core_util":
        wall = sum(s["wall_s"] for s in spans)
        return sum(s["core_util"] * s["wall_s"] for s in spans) / wall if wall else 0.0
    if key in ("peak_exec_mem_mb", "task_skew"):
        return max([s[key] for s in spans] or [0.0])
    return sum(s[key] for s in spans)


def declared(trace):
    """(name, unit) of the metrics BENCHMARK.json declares for this mode."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    deadline = t_start + RUN_LIMIT_S

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the root of a flytemosaicspark checkout (%s missing)" % need)
    work = os.path.join(root, "perfbench", ".work")
    cp, opts, stamp = build(root, work)
    jvm = (cp, opts)
    # the first run builds; its budget starts after the build
    deadline = max(deadline, time.time() + RUN_LIMIT_S)

    run_dir = os.path.join(work, "run-%d" % os.getpid())
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    log = os.path.join(work, "harness.log")  # kept after the run, for diagnosis
    open(log, "w").close()
    load_start = loadavg()
    try:
        inputs = {}
        data_dir = os.path.join(work, "data", "seed-%d-sf%s" % (a.seed, SF))
        expect = os.path.join(run_dir, "expect.json")
        if a.workload == "dedup":
            inputs = gen.write(data_dir, a.seed, SF)
            expect = oracle_digests(jvm, work, tmp, log, deadline, a.workload, data_dir, stamp)
        else:
            with open(expect, "w") as f:
                f.write("{}")
        out = os.path.join(run_dir, "result.json")
        t0 = time.time()
        prep_s = t0 - t_start
        run_jvm(java_cmd(
            jvm, tmp, "run", "workload=" + a.workload, "data=" + data_dir,
            "expect=" + expect, "out=" + out, "work=" + run_dir, "seed=%d" % a.seed,
            "cores=%d" % nproc(), "seconds=%s" % a.seconds, "trace=%d" % a.trace,
            "deadline=%.3f" % (deadline - STOP_MARGIN_S)), log, deadline)
        with open(out) as f:
            result = json.load(f)
        if result["inputs"]:
            inputs = {a.workload: result["inputs"]}
        setup = result["setup_end_epoch_s"] - t0
        jvm_s = time.time() - t0
        metrics, failed, attempted, detail = summarize(result, setup, a.trace)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = loadavg()
    cores = nproc()
    names = declared(a.trace)
    detail.update({
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": cores, "heap_gb": heap_gb(), "source": stamp[:16], "sf": SF,
        "inputs": inputs, "prep_s": prep_s, "jvm_s": jvm_s,
        "loadavg_start": load_start, "loadavg_end": load_end,
        "loaded": max(load_start, load_end) > cores,
        "undeclared": {k: v for k, v in metrics.items() if k not in dict(names)},
        "wall_s": time.time() - t_start})
    # a layer the workload never calls reports 0: it cost this workload nothing
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in names}}))


if __name__ == "__main__":
    main()
