#!/usr/bin/env python3
"""The engine benchmark: one closed-loop client, one query at a time.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It compiles the engine (src/main/scala)
and the benchmark's JVM side (perfbench/scala) into .bench_build/perfbench,
generates the 10x replica there on first need, runs the workload in a
fresh JVM on GraftSession.getOrCreate(nproc), checks every query's output
against DuckDB, and prints one JSON object as its last stdout line: with
--trace 0 the end-to-end metrics, with --trace 1 the per-layer metrics.
The lines before it give the host context, every end-to-end metric with
its unit (error_rate too) and the output check. Workloads and their
queries are in perfbench/workloads.json; perfbench/README.md describes
the metrics and the layer each one reads.

The seed only permutes the query order within each pass; the inputs are
the read-only seed-42 fixtures and the replica derived from them.
It exits non-zero, printing no result, when an input is missing or wrong.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")

# The benchmark's fixed settings, printed in every result's context.
FIXTURES = "/root/testdata/sf0.1"  # the read-only seed-42 fixtures
REPLICA_FACTOR = 10
HEAP = "3g"
SETTLE_PASSES = 1  # untimed warm passes before the timed ones
# A JVM may run this long beyond --seconds: set-up, the cold pass, the
# passes the tail percentile needs past --seconds, and shut-down.
JVM_MARGIN_S = 135
SCALEGEN_TIMEOUT_S = 150

sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402


class BenchError(Exception):
    """A missing or wrong input, or a step that failed: the run stops
    without a result."""


def load_config():
    """Workload name -> its input, scale, queries and reason."""
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def build_sbt():
    """The Scala version, and the JVM options minus the heap size, that
    build.sbt gives `run`: the benchmark compiles and runs the engine as
    sbt would, from build.sbt's own settings."""
    path = os.path.join(ROOT, "build.sbt")
    if not os.path.exists(path):
        raise BenchError("build settings missing: no build.sbt in the checkout")
    with open(path) as f:
        text = f.read()
    version = re.search(r'scalaVersion := "([^"]+)"', text)
    opens = re.findall(r'"(java\.base/[^"]+)"', text)
    codecache = re.search(r'ReservedCodeCacheSize=\$\{sys\.env\.getOrElse\("\w+", "(\w+)"\)\}', text)
    if not (version and opens and codecache):
        raise BenchError("build.sbt no longer states scalaVersion, the --add-opens packages "
                         "and the code cache size where the benchmark reads them")
    opts = ([x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + re.findall(r'"(-D[^"]+|-XX:[+-]\w+)"', text)
            + [f"-XX:ReservedCodeCacheSize={codecache.group(1)}",
               # no /tmp/hsperfdata_<user> file: the benchmark writes only in its checkout
               "-XX:-UsePerfData"])
    return version.group(1), opts


def nproc():
    return len(os.sched_getaffinity(0))


def sources():
    found = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not found:
        raise BenchError("engine sources missing: no src/main/scala/**/*.scala in the checkout")
    return found + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build(scala_version):
    """Compile the engine and perfbench/scala once per source tree;
    returns the classes directory and the source tree's hash."""
    jars = [os.path.join(SPARK_JARS, f"scala-{m}-{scala_version}.jar")
            for m in ("compiler", "library", "reflect")]
    for j in jars:
        if not os.path.exists(j):
            raise BenchError(f"toolchain missing: {j}")
    srcs = sources()
    h = hashlib.sha256(scala_version.encode() + b"\0")
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode() + b"\0")
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    classes = os.path.join(WORK, f"classes-{key[:16]}")
    if os.path.isdir(classes):
        return classes, key
    for old in glob.glob(os.path.join(WORK, "classes-*")):
        shutil.rmtree(old)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(SPARK_JARS, "*"),
           "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise BenchError("compiling the engine failed")
    os.rename(tmp, classes)
    return classes, key


def jvm(classes, opts, main, args, log, timeout, env=None):
    """Run one JVM with build.sbt's options `opts` to completion, its
    output going to `log`."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    # the engine leaves some temporary directories (q169's zarr store)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(local, exist_ok=True)
    child_env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    child_env["SPARK_LOCAL_DIRS"] = local
    child_env.update(env or {})
    cmd = (["java"] + opts
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-cp", f"{classes}:{SPARK_JARS}/*", main] + args)
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=child_env,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{main} did not finish within {timeout:.0f} s; see {log}")
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"{main} exited with {r.returncode}; see {log}")


def lineitem_rows(path):
    import duckdb
    src = f"{path}/*.parquet" if os.path.isdir(path) else path
    return duckdb.connect().execute(f"SELECT count(*) FROM read_parquet('{src}')").fetchone()[0]


def inputs(wl, classes, opts):
    """The workload's input directory and a record of the inputs' state."""
    if not os.path.exists(os.path.join(ROOT, "scripts", "check_oracle.py")):
        raise BenchError("output check missing: no scripts/check_oracle.py in the checkout")
    sf = FIXTURES
    missing = [t for t in oracle.tables(ROOT) if not os.path.exists(f"{sf}/{t}.parquet")]
    if missing:
        raise BenchError(f"fixture input missing: {sf} lacks {', '.join(missing)}")
    info = {"fixtures": sf, "fixture_lineitem_rows": lineitem_rows(f"{sf}/lineitem.parquet")}
    factor = REPLICA_FACTOR
    rep = os.path.join(WORK, f"replica-x{factor}")
    info["replica_present"] = os.path.isdir(rep)
    if wl["input"] != "replica":
        if info["replica_present"]:
            info["replica_lineitem_rows"] = lineitem_rows(f"{rep}/lineitem.parquet")
        return sf, info
    if not info["replica_present"]:
        # ScaleGen replicates the fixtures deterministically; an untimed
        # prepare step, written aside and renamed so a cut run leaves none
        part = rep + ".tmp"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(WORK, exist_ok=True)
        jvm(classes, opts, "graft.ScaleGen", [str(factor), part],
            os.path.join(WORK, "scalegen.log"), SCALEGEN_TIMEOUT_S,
            env={"SPARK_GRAFT_CPUS": str(nproc())})
        os.rename(part, rep)
    info["replica"] = rep
    info["replica_lineitem_rows"] = lineitem_rows(f"{rep}/lineitem.parquet")
    want = factor * info["fixture_lineitem_rows"]
    if info["replica_lineitem_rows"] != want:
        raise BenchError(f"replica {rep} has {info['replica_lineitem_rows']} lineitem rows, "
                         f"not {factor} x {info['fixture_lineitem_rows']} = {want}")
    return rep, info


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(workload, seed, seconds, trace, workloads=None):
    """One benchmark run; returns (context, end-to-end metrics or None,
    per-layer metrics or None, attempted, failed, checks)."""
    workloads = workloads or load_config()
    if workload not in workloads:
        raise BenchError(f"unknown workload {workload}; known: {', '.join(workloads)}")
    wl = workloads[workload]
    t_start = time.time()
    scala_version, opts = build_sbt()
    classes, source_sha = build(scala_version)
    data, input_info = inputs(wl, classes, opts)
    rundir = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)

    t0 = time.time()
    # a traced run needs an untraced and a traced pass; an untraced one
    # enough samples for its tail percentile
    min_samples = (2 * len(wl["queries"]) if trace
                   else metrics.tail_samples_needed(metrics.TAIL_PCT))
    jvm(classes, opts, "perfbench.PerfBench", [
        f"data={data}", f"warmup_data={FIXTURES}", f"cpus={nproc()}", f"out={rundir}",
        f"workload={workload}", f"queries={','.join(wl['queries'])}", f"seed={seed}",
        f"seconds={seconds}", f"trace={int(trace)}", f"settle_passes={SETTLE_PASSES}",
        f"min_samples={min_samples}"], os.path.join(rundir, "jvm.log"), seconds + JVM_MARGIN_S)
    with open(os.path.join(rundir, "result.json")) as f:
        res = json.load(f)
    setup_s = res["setup_done_epoch_s"] - t0

    t_ran = time.time()
    checks = oracle.check(ROOT, data, rundir, res["oracle_sql"], wl["queries"],
                          os.path.join(WORK, "oracle-cache"))
    ex = res["executions"]
    attempted, failed, failing = metrics.errors(ex, checks)
    context = dict(res["context"], workload=workload, seed=seed, seconds=seconds,
                   trace=int(trace), nproc=nproc(), heap=HEAP, git_commit=git_commit(),
                   source_sha256=source_sha, queries=wl["queries"], scale=wl["scale"],
                   tail_percentile=metrics.TAIL_PCT, settle_passes=SETTLE_PASSES,
                   replica_factor=REPLICA_FACTOR,
                   timed_samples=sum(len(p) for p in metrics.passes(ex, traced=False).values()),
                   oversized_task_warnings=res["oversized_task_warnings"],
                   phases_s={"prepare": t0 - t_start, "jvm": t_ran - t0,
                             "check": time.time() - t_ran}, **input_info)
    e2e = None if trace else metrics.end_to_end(ex, setup_s, res["vm_hwm_kb"], checks)
    layers = None
    if trace:
        layers = metrics.per_layer(ex, res["counters"], res["spans"], workload)
        with open(os.path.join(rundir, "trace.json"), "w") as f:
            json.dump({"context": context, "spans": res["spans"], "counters": res["counters"],
                       "executions": ex}, f)
    report = {"checked": len(checks), "passed": sum(v is None for v in checks.values()),
              "mismatched": {k: v for k, v in checks.items() if v is not None},
              "failing_queries": failing,
              "errors": sorted({e["error"] for e in ex if e["error"]})}
    return context, e2e, layers, attempted, failed, report


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        context, e2e, layers, attempted, failed, report = run(
            a.workload, a.seed, a.seconds, bool(a.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"context": context}))
    print(json.dumps({"output_check": report}))
    if e2e is not None:
        print(json.dumps({"end_to_end": {k: {"value": v, "unit": u}
                                         for k, (v, u) in e2e.items()}}))
        # error_rate is 0 on a good run, so it travels as failed/attempted
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items() if k != "error_rate"}
    else:
        out = {k: {"value": v, "unit": metrics.unit(k)} for k, v in layers.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
