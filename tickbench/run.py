#!/usr/bin/env python3
"""Tick-store benchmark for the graft engine.

    python3 tickbench/run.py --workload tick_query --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) and the benchmark's own code (tickbench/src) into
.bench_build/; later runs reuse the classes until a source changes.
Each run starts one JVM on a fresh store under .bench_build/runs/,
deletes it at exit, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones,
from a traced JVM plus an untraced twin that gives the tracing overhead.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
SCALA_VERSION = "2.13.17"

# The command whose rows rows_per_s counts. Store size, set-up repeats,
# batch sizes and warm-up are constants of tickbench.Main.
ROW_KIND = {"tick_query": "get", "tick_ingest": "set", "bar_scan": "bar"}
HEAP = "2g"
# A build may take this long; the runs after it must end within RUN_LIMIT_S.
BUILD_LIMIT_S, RUN_LIMIT_S = 700, 170
# Mirrors build.sbt's javaOptions (JDK 17 module opens for Spark, UI
# off, UTC), with the heap fixed so GC sizing does not vary by run.
JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
    "-Duser.timezone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]

END_TO_END_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "op_ms_p50": "ms",
                    "rows_per_s": "rows/s"}
FS_KINDS = ("open", "create", "rename", "delete", "mkdirs", "list", "status")
READ_KINDS = ("get", "gets", "bar")


class BenchError(Exception):
    pass


def log(msg):
    print(f"[tickbench] {msg}", file=sys.stderr, flush=True)


def sources():
    prog = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(prog):
        raise BenchError(f"no engine sources at {prog}; run from a checkout")
    found = []
    for top in (prog, os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def spark_jars():
    """The Spark jars the engine builds against: the directory that
    build.sbt's unmanagedBase names."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if not m:
        raise BenchError("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def build(deadline):
    """Compile engine + benchmark code with the Scala compiler Spark
    ships; skipped when the sources hash to the last build's stamp."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    compiler = ":".join(os.path.join(jars, f"scala-{m}-{SCALA_VERSION}.jar")
                        for m in ("compiler", "library", "reflect"))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    out = os.path.join(BUILD, "compile.log")
    if spawn(cmd, out, deadline) != 0:
        raise BenchError("compile failed:\n" + tail(out))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classes


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def spawn(cmd, out_path, deadline):
    """Run `cmd` in its own process group with output to `out_path`;
    kill the group and wait for it if `deadline` passes."""
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=ROOT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            raise


def run_jvm(classes, workload, seed, seconds, traced, deadline, cpus):
    """One JVM run on a fresh directory; returns its record."""
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    run_dir = os.path.join(BUILD, "runs", f"{workload}-{seed}-{int(traced)}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        cmd = (["java", f"-Djava.io.tmpdir={run_dir}/tmp"] + JAVA_OPTS +
               ["-cp", classes + ":" + os.path.join(spark_jars(), "*"),
                "tickbench.Main", workload, str(seed), str(seconds),
                "1" if traced else "0", str(cpus), run_dir])
        out = run_dir + ".log"
        try:
            code = spawn(cmd, out, deadline)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{workload} run timed out:\n" + tail(out))
        if code != 0:
            raise BenchError(f"{workload} run exited {code}:\n" + tail(out))
        with open(os.path.join(run_dir, "record.json")) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.remove(run_dir + ".log")
        except OSError:
            pass


def measured(rec):
    return [o for o in rec["ops"] if not o["warm"]]


def step_ms(ops):
    """Time spent inside the engine by each workload step: the sum of its
    commands' timed calls, so the benchmark's own input generation and
    reply checks between calls are left out."""
    by = {}
    for o in ops:
        by[o["step"]] = by.get(o["step"], 0.0) + o["ms"]
    return list(by.values())


def engine_s(ops):
    return sum(o["ms"] for o in ops) / 1000.0


def end_to_end(rec):
    """The user-visible metrics. An op is one step of the workload's
    closed loop: a get, a bar scan, or a whole ingest cycle. Rates are
    per second of engine time."""
    ops = measured(rec)
    if not ops:
        raise BenchError("no op completed inside the measured window")
    secs = engine_s(ops)
    st = step_ms(ops)
    return {
        "setup_s": rec["session_s"] + statistics.median(rec["load_s"]) + rec["warmup_s"],
        "ops_per_s": len(st) / secs,
        "op_ms_p50": statistics.median(st),
        "rows_per_s": sum(o["rows"] for o in ops if o["kind"] == ROW_KIND[rec["workload"]]) / secs,
    }


def ratio(a, b):
    return a / b if b else 0.0


def p50_of(ops, kind):
    xs = [o["ms"] for o in ops if o["kind"] == kind]
    return statistics.median(xs) if xs else 0.0


def per_layer(rec, traced_e2e, plain_e2e):
    """Layer metrics from the traced record; a metric of a command the
    workload never issues is 0."""
    ops = measured(rec)
    n = len(ops)
    reads = [o for o in ops if o["kind"] in READ_KINDS]
    saves = [o for o in ops if o["kind"] == "save"]
    rows_returned = sum(o["rows"] for o in reads)
    jobs = {}
    for sp in rec["spans"]:
        if sp["name"] == "spark.job":
            jobs.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    jobs_of = lambda o: jobs.get(o["id"], [])  # noqa: E731
    per_op = lambda k: ratio(sum(o[k] for o in ops), n)  # noqa: E731
    tail = stats.highest_percentile([o["ms"] for o in ops]) or (0, 0.0)

    m = {
        "set_ms_p50": (p50_of(ops, "set"), "ms"),
        "gets_ms_p50": (p50_of(ops, "gets"), "ms"),
        "save_ms_p50": (p50_of(ops, "save"), "ms"),
        "op_ms_tail": (tail[1], "ms"),
        "op_ms_tail_pct": (tail[0], "%"),
        # api: command wall time that no Spark job covers
        "api.driver_ms_per_op": (ratio(sum(
            stats.self_time((o["t0"], o["t1"]), jobs_of(o)) for o in ops), n), "ms"),
        "spark.catalyst.analysis_ms_per_op": (per_op("analysis_ms"), "ms"),
        "spark.catalyst.optimizer_ms_per_op": (per_op("optimizer_ms"), "ms"),
        "spark.catalyst.planning_ms_per_op": (per_op("planning_ms"), "ms"),
        "spark.codegen.compiles_per_op": (per_op("compiles"), "count"),
        "spark.codegen.compile_ms_per_op": (per_op("compile_ms"), "ms"),
        "spark.jobs_per_op": (ratio(sum(len(jobs_of(o)) for o in ops), n), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.job_ms_per_op": (ratio(sum(e - s for o in ops for s, e in jobs_of(o)), n), "ms"),
        "spark.task_busy_ratio": (ratio(sum(o["task_run_ms"] for o in ops),
                                        engine_s(ops) * 1000.0 * rec["cpus"]), "ratio"),
        "store.scan_rows_per_row_returned": (
            ratio(sum(o["records_read"] for o in reads), rows_returned), "ratio"),
        "store.scan_bytes_per_op": (
            ratio(sum(o["bytes_read"] for o in reads), len(reads)), "bytes"),
        "store.bytes_written_per_row": (
            ratio(rec["bytes_written_total"], rec["committed_rows"]), "bytes"),
        "store.disk_bytes_per_row": (ratio(rec["disk_bytes"], rec["store_rows"]), "bytes"),
        "store.files_per_day": (ratio(rec["data_files"], rec["day_dirs"]), "count"),
        "ops.rows_returned_per_op": (ratio(rows_returned, len(reads)), "count"),
        "ops.bars_per_op": (ratio(sum(o["bars"] for o in ops if o["kind"] == "bar"),
                                  sum(1 for o in ops if o["kind"] == "bar")), "count"),
        "jvm.gc_ms_per_op": (per_op("gc_ms"), "ms"),
        "jvm.jit_ms": (rec["jit_ms"], "ms"),
        "jvm.heap_peak_mb": (rec["heap_peak_mb"], "MB"),
        "bench.gen_s": (rec["gen_s"], "s"),
    }
    for kind in ("set", "gets", "save"):
        of = [o for o in ops if o["kind"] == kind]
        m[f"spark.jobs_per_{kind}"] = (ratio(sum(len(jobs_of(o)) for o in of), len(of)), "count")
    for name, group in (("get", reads), ("save", saves)):
        m[f"store.fs_ops_per_{name}"] = (
            ratio(sum(sum(o["fs"].values()) for o in group), len(group)), "count")
        for k in FS_KINDS:
            m[f"store.fs_ops_per_{name}.{k}"] = (
                ratio(sum(o["fs"][k] for o in group), len(group)), "count")
    stream = rec["stream"]
    for k in ("batch_ms", "add_batch_ms", "wal_commit_ms", "latest_offset_ms",
              "query_planning_ms"):
        m[f"stream.{k}_p50"] = (statistics.median(b[k] for b in stream) if stream else 0.0, "ms")
    m["stream.batches"] = (rec["stream_batches_per_load"], "count")
    for k, v in traced_e2e.items():
        m[f"trace.overhead.{k}"] = (ratio(v, plain_e2e[k]), "ratio")
    return m


def result(records, metrics):
    ops = [o for r in records for o in measured(r)]
    failed = sum(1 for o in ops if not o["ok"])
    for r in records:
        for f in r["failures"]:
            log(f"FAILED {f}")
    return {
        "correct": all(r["failure_count"] == 0 for r in records) and failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROW_KIND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a SIGTERM unwinds through the finally blocks, which kill the JVM
    # and delete its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cpus = len(os.sched_getaffinity(0))
    try:
        classes = build(time.monotonic() + BUILD_LIMIT_S)
        deadline = time.monotonic() + RUN_LIMIT_S
        plain = run_jvm(classes, a.workload, a.seed, a.seconds, False, deadline, cpus)
        plain_e2e = end_to_end(plain)
        if a.trace:
            traced = run_jvm(classes, a.workload, a.seed, a.seconds, True, deadline, cpus)
            keep = os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            with open(keep, "w") as fh:
                json.dump(traced, fh)
            log(f"trace record (ops, spans, counters) kept at {keep}")
            metrics = per_layer(traced, end_to_end(traced), plain_e2e)
            records = [plain, traced]
        else:
            metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in plain_e2e.items()}
            records = [plain]
    except BenchError as e:
        log(str(e))
        return 1
    print(json.dumps(result(records, metrics)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
