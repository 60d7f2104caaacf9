#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its metrics.

    python3 graftbench/run.py --workload topic-log --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run compiles graft's
sources and the harness with the Scala compiler that ships in Spark's
jars (into .bench_build/); later runs reuse the classes while the
sources are unchanged. Inputs are generated from --seed. The harness
JVM runs the workload against local[4]; this script checks its outputs,
turns the raw samples into metrics, prints one short line per metric
and, last, one JSON object. The full detail goes to
.bench_out/<workload>-s<seed>-t<trace>.json and the JVM's log next to it.

Workloads, metrics and the layer each metric belongs to are described
in graftbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
DEADLINE_S = 170
WORKLOADS = ("topic-log", "analytics", "curate-cycle")

# The cheapest query of each operator pack that SparkEntry aggregates
# (for Relational the flagship q06 join instead), measured at the input
# size below on four cores: about eleven seconds together once warm.
# Curation's only query, q113, is left out: its DuckDB oracle (a
# recursive component search) alone takes minutes. The Curation pack is
# measured by the curate-cycle workload.
ANALYTICS_PANEL = (
    "q06_multi_join", "q21_replay_all", "q34_simhash", "q54_rhp_lsh_buckets",
    "q82_chunk_windows", "q41_multimodal_meta", "q124_chi2_drift",
    "q117_weighted_sample", "q163_triangles", "q125_snapshot_diff",
    "q164_corpus_manifest", "q132_bpe_pair_counts", "q139_zipf_fit",
    "q147_top_pc", "q155_html_extract", "q157_nb_langid",
    "q168_burstiness", "q176_group_topk")

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The classpath entry for Spark's jars, $SPARK_HOME/jars."""
    home = os.environ.get("SPARK_HOME", "")
    if not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME to a Spark 4 installation")
    return os.path.join(home, "jars", "*")


def sources():
    main = []
    for d, _, fs in os.walk(os.path.join(ROOT, "src", "main", "scala")):
        main += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    bench = [os.path.join(HERE, "scala", f)
             for f in os.listdir(os.path.join(HERE, "scala")) if f.endswith(".scala")]
    return sorted(main), sorted(bench)


def scalac(files, out, classpath):
    jars = spark_jars()
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
         f"-Djava.io.tmpdir={BUILD}", "scala.tools.nsc.Main",
         "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("compilation failed:\n" + r.stdout[-4000:])


def build():
    """Compile graft and the harness unless the classes match the sources."""
    main, bench = sources()
    if not main:
        fail("no graft sources under src/main/scala; run from a graft checkout")
    h = hashlib.sha256()
    for f in main + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classes.sha256")
    classes = os.path.join(BUILD, "classes")
    bench_classes = os.path.join(BUILD, "bench-classes")
    jars = spark_jars()
    if not (os.path.exists(stamp) and open(stamp).read() == h.hexdigest()):
        scalac(main, classes, jars)
        scalac(bench, bench_classes, classes + os.pathsep + jars)
        with open(stamp, "w") as f:
            f.write(h.hexdigest())
    return [classes, bench_classes, jars], h.hexdigest()


def inputs(workload, seed):
    """The input directory, generated from the seed once and cached."""
    data = os.path.join(BUILD, "inputs", f"{workload}-s{seed}")
    if os.path.exists(os.path.join(data, "_SUCCESS")):
        return data
    shutil.rmtree(data, ignore_errors=True)
    if workload == "analytics":
        gen_data.write_tables(data, seed, 0.01, 500)
    elif workload == "topic-log":
        gen_data.topic_inputs(os.path.join(data, "topic"), seed, 100_000, 40, 400)
    else:
        gen_data.curate_inputs(os.path.join(data, "curate"), seed, 1000, 2)
    open(os.path.join(data, "_SUCCESS"), "w").close()
    return data


def run_jvm(args, classpath, data, work, log_path, passes, queries):
    """Run the harness; returns (raw result, -Xmx, extra JVM options)."""
    mem = os.environ.get("SPARK_DRIVER_MEM", "3g")
    extra = os.environ.get("SPARK_GRAFT_EXTRA_OPTS", "").split()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    raw_path = os.path.join(work, "raw.json")
    # -XX:-UsePerfData: no hsperfdata file under /tmp; every other
    # scratch path points into the work directory
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{mem}", *ADD_OPENS,
            "-XX:+UnlockDiagnosticVMOptions", "-XX:GCLockerRetryAllocationCount=256",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
            *extra, "-cp", os.pathsep.join(classpath), "graftbench.GraftBench",
            "--workload", args.workload, "--seconds", str(args.seconds),
            "--passes", ",".join(passes), "--data", data,
            "--work", work, "--out", raw_path])
    if queries:
        cmd += ["--queries", ",".join(queries)]
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             cwd=work, start_new_session=True)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - T0)))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"harness exceeded the deadline; see {log_path}")
    if rc != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"harness exited with {rc}; log tail:\n{tail}")
    with open(raw_path) as f:
        return json.load(f), mem, extra


def plain_result(workload, seed, seconds, stamp):
    """The end-to-end op latency of an untraced run of the same build,
    workload, seed and length, if this checkout has one."""
    try:
        with open(os.path.join(OUT, f"{workload}-s{seed}-t0.json")) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return None
    env = prev.get("env", {})
    if env.get("build") != stamp or env.get("seconds") != seconds:
        return None
    return prev["e2e"]["op_ms_p50"]


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return None


def git_commit():
    """HEAD of this checkout, or None when it is not a git work tree
    (the search stops at the checkout's root)."""
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True, env=env,
                              capture_output=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, stamp = build()
    data = inputs(args.workload, args.seed)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT, exist_ok=True)
    queries = ()
    if args.workload == "analytics":
        queries = list(ANALYTICS_PANEL)
        random.Random(args.seed).shuffle(queries)
    # A traced run reports its overhead against the untraced run of the
    # same build and seed; without one it makes an untraced pass first.
    plain_p50 = None
    passes = ["plain"]
    if args.trace:
        plain_p50 = plain_result(args.workload, args.seed, args.seconds, stamp)
        passes = ["traced"] if plain_p50 else ["plain", "traced"]
    ticks0 = cpu_ticks()
    raw, mem, extra = run_jvm(args, classpath, data, work,
                              os.path.join(OUT, name + ".log"), passes, queries)
    ticks1 = cpu_ticks()
    rss_mb = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024

    oracle_checks = []
    if args.workload == "analytics":
        import oracle
        oracle_checks = oracle.check(data, os.path.join(work, "out"), queries)
    attempted, failed = metrics.failures(raw, oracle_checks)
    p0 = raw["passes"][0]
    e2e = metrics.end_to_end(raw)
    detail = metrics.detail(p0, args.workload)
    # not gated: the JVM's heap sizing makes it swing by a fifth between
    # identical runs
    detail["peak_rss_mb"] = rss_mb
    detail["jvm_start_to_first_call_s"] = raw["jvm_start_to_first_call_s"]
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests: a noisy neighbour
        # shows here rather than as a regression
        detail["steal_frac"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
    detail["failed_frac"] = metrics.failed_frac(failed, attempted)
    if args.trace:
        layers = metrics.per_layer(raw, plain_p50)
        report = {k: (v, metrics.LAYER_UNITS[k]) for k, v in layers.items()}
    else:
        report = {k: (v, metrics.END_TO_END[k]) for k, v in e2e.items()}
    bad = [c for c in raw["checks"] + oracle_checks if not c["ok"]]

    env = dict(raw["env"], xmx=mem, extra_opts=extra, git_commit=git_commit(),
               build=stamp, seed=args.seed, seconds=args.seconds, passes=passes)
    with open(os.path.join(OUT, name + ".json"), "w") as f:
        json.dump({"metrics": {k: v for k, (v, _) in report.items()},
                   "e2e": e2e, "detail": detail, "attempted": attempted,
                   "failed": failed, "checks": raw["checks"] + oracle_checks,
                   "env": env, "raw": raw}, f, indent=1)

    print(f"env master={env['master']} xmx={mem} spark={env['spark_version']} "
          f"commit={(env['git_commit'] or 'none')[:12]} "
          f"load={env['loadavg_start'][:1]}->{env['loadavg_end'][:1]}")
    for c in bad:
        print(f"FAILED {c['name']}: {c['detail'][:120]}")
    for k, v in detail.items():
        print(f"detail {k} {v:.6g}" if isinstance(v, float) else f"detail {k} {v}")
    for k, (v, unit) in report.items():
        print(f"metric {k} {v:.6g} {unit}")
    print(json.dumps({
        "correct": not bad, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()}}))


T0 = time.time()
if __name__ == "__main__":
    main()
