#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

  python3 perfbench/run.py --workload <medallion|index_lifecycle>
      --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and
the benchmark harness from source into .bench_build/ (sbt, offline); later
runs reuse the build while the sources are unchanged. A run generates its
inputs from the seed, starts one Spark JVM on local[N] (N = one fewer
than the CPUs of this process), sets the workload up, drives it as a
single closed-loop client for --seconds, checks its outputs and prints
one JSON line last:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a second, traced window. See README.md for the
workloads, the metrics and the layer map.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
sys.path.insert(0, HERE)

import benchlib  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("medallion", "index_lifecycle")

END_TO_END = {  # name -> unit
    "setup_s": "s", "write_p50_s": "s", "read_p50_s": "s", "ops_per_s": "1/s",
    "retained_heap_mb": "MB"}

PER_LAYER = {  # name -> unit
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.plan_s": "s", "registry.build_s": "s",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.output_bytes": "bytes", "spark.executor_run_s": "s",
    "spark.busy_share": "share", "spark.gc_s": "s",
    "spark.sql_actions": "count", "spark.catalyst_s": "s",
    "ops.Ingest.generate.s": "s",
    "engine.Layout.upsertPartitions.s": "s",
    "engine.Layout.upsertPartitions.files": "count",
    "engine.Layout.upsertPartitions.bytes": "bytes",
    "ops.Clean.silver.s": "s", "ops.Clean.kept_ratio": "share",
    "engine.Layout.compactPartitions.s": "s",
    "engine.Layout.compactPartitions.bytes_rewritten": "bytes",
    "engine.Layout.compactPartitions.files_before": "count",
    "engine.Layout.compactPartitions.files_after": "count",
    "ops.Stats.dailyTopKStats.s": "s", "engine.Layout.singleCsv.s": "s",
    "engine.Layout.write_amp": "ratio",
    "medallion.backfill_rows_per_s": "1/s",
    "ops.Stats.s": "s", "ops.Windows.s": "s", "ops.Risk.s": "s",
    "ops.Joins.s": "s",
    "text.Dedup.s": "s", "text.Clusters.s": "s", "text.Curation.s": "s",
    "text.TextStats.s": "s", "vector.Similarity.s": "s",
    "multimodal.Media.s": "s",
    "multimodal.Curate.appendSignatures.s": "s",
    "vector.Similarity.appendIvfAdcIndex.s": "s",
    "text.TextStats.appendBm25Index.s": "s",
    "vector.Similarity.ivfAdcProbeJoin.s": "s",
    "text.TextStats.bm25ProbeJoin.s": "s",
    "multimodal.Curate.forgetAndVerifyAll.s": "s",
    "forget.purges": "count", "forget.masked_fraction": "share",
    "index.bytes_per_live_row": "bytes", "index.files": "count",
    "tombstones.rows": "count",
    "trace.untraced_read_p50_s": "s", "trace.traced_read_p50_s": "s",
    "trace.overhead_share": "share",
    "host.spin_s": "s", "host.read_s": "s"}

# the JVM flags Spark needs on JDK 17 outside spark-submit
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

RUN_LIMIT_S = 175  # a run ends within 180 s once built
BUILD_LIMIT_S = 850


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found: set SPARK_HOME")
    return home


def sources():
    """Every file the build reads, in a fixed order."""
    out = [os.path.join(HERE, "build.sbt"),
           os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "scala")):
        for d, _, files in sorted(os.walk(top)):
            out += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return out


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout kills the whole
    group and waits for it. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(home):
    """Compiles the library and the harness unless the sources are
    unchanged since the last build in this checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("the library sources (src/main/scala) are not in this checkout")
    if not shutil.which("sbt"):
        fail("sbt is not on PATH")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true"),
        f"-Djava.io.tmpdir={tmp}", "-Dsbt.server.autostart=false"])
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       BUILD_LIMIT_S, cwd=HERE, env=env, stdout=log,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (see {os.path.relpath(BUILD, ROOT)}/build.log)", 1)
    # class-data-sharing archives need jars on the class path, and an
    # archive of the previous build must not outlive it
    with zipfile.ZipFile(JAR + ".tmp", "w") as z:
        for d, _, files in sorted(os.walk(CLASSES)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, CLASSES))
    os.replace(JAR + ".tmp", JAR)
    shutil.rmtree(os.path.join(BUILD, "cds"), ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(digest)


def class_path(home):
    jars = sorted(f for f in os.listdir(os.path.join(home, "jars")) if f.endswith(".jar"))
    return ":".join([JAR] + [os.path.join(home, "jars", j) for j in jars])


def cds_flags(workload):
    """A class-data-sharing archive per workload: the first run in a
    build dumps the classes it loaded, later runs map them instead of
    loading them again. Returns the JVM flags and the archive to publish
    once the run succeeds."""
    path = os.path.join(BUILD, "cds", f"{workload}.jsa")
    if os.path.exists(path):
        return [f"-XX:SharedArchiveFile={path}"], None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    return [f"-XX:ArchiveClassesAtExit={tmp}"], (tmp, path)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def task_slots():
    """Spark's local[N]: one CPU is left to the driver thread, the JIT
    compiler and the collector, which otherwise queue behind the tasks
    (README.md, "JVM and Spark settings")."""
    return max(1, cpus() - 1)


def make_inputs(workload, seed, data):
    """The generated tables: sf0.01-sized for the medallion workload's
    queries (its ticks come from the program's own `Ingest.generate`
    inside the JVM), the sf0.1-sized corpus for index_lifecycle."""
    if workload == "medallion":
        return gen.write(data, seed, scale=0.1)
    return gen.write(data, seed, scale=1.0, only=("documents", "embeddings"))


def oracle_check(result, data):
    """Compares each query's last written result with its DuckDB oracle
    over the same inputs; returns the ids that mismatch, with reasons."""
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.sql("SET TimeZone='UTC'")
    con.sql("SET threads=2")
    for t in gen.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rdir = result["checks"]["results_dir"]
    bad = {}
    for q, sql in sorted(result["checks"]["oracle_sql"].items()):
        files = os.path.join(rdir, q, "*.parquet")
        try:
            got = con.sql(f"SELECT * FROM '{files}'").df()
            if sql is None:
                if got.empty:
                    bad[q] = "empty result and no oracle"
                continue
            want = con.sql(sql).df()
        except Exception as e:  # a missing result or failing SQL is a mismatch
            bad[q] = f"{type(e).__name__}: {e}"[:300]
            continue
        why = benchlib.frame_diff(got, want, pd)
        if why:
            bad[q] = why
    return bad


def human(workload, result, w, failed_frac, setup_s):
    """One line naming the metrics under their workload names; printed
    before the result line, never parsed."""
    win = result["window"]
    reads = [o["s"] for o in win["ops"] if o["kind"] == "read"]
    t, pct, n = benchlib.tail(reads)
    base = (f"setup_s={setup_s:.3f} s failed_frac={failed_frac:.4f} "
            f"ops_per_s={w['ops_per_s']:.3f} 1/s "
            f"retained_heap_mb={result['retained_heap_mb']:.1f} MB")
    if workload == "medallion":
        return (f"medallion: rows_per_s={result['setup']['rows_per_s']:.0f} 1/s "
                f"batch_p50_s={w['write_p50_s']:.3f} s "
                f"query_p50_s={w['read_p50_s']:.3f} s "
                f"query_tail_s={t:.3f} s (p{pct:g}, n={n}) {base}")
    return (f"index_lifecycle: probe_p50_s={w['read_p50_s']:.3f} s "
            f"probe_tail_s={t:.3f} s (p{pct:g}, n={n}) "
            f"append_p50_s={benchlib.name_p50(win, 'append'):.3f} s "
            f"forget_p50_s={benchlib.name_p50(win, 'forgetAndVerifyAll'):.3f} s {base}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    home = spark_home()
    build(home)
    java = shutil.which("java") or fail("java is not on PATH")

    t_start = time.time()
    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", tag)
    data, work, tmp = (os.path.join(run_dir, d) for d in ("data", "work", "tmp"))
    for d in (data, work, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(run_dir, "result.json")
    probe_file = os.path.join(BUILD, "host_probe.bin")
    probe_before = benchlib.host_probe(probe_file)
    try:
        t_setup = time.time()
        make_inputs(a.workload, a.seed, data)
        cds, publish = cds_flags(a.workload)
        cmd = [java, "-Xms1g", "-Xmx4g", *cds, "-Xlog:cds=off", "-Xlog:cds+dynamic=off", *ADD_OPENS,
               f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
               f"-Dspark.sql.warehouse.dir={work}/warehouse",
               f"-Dderby.system.home={work}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", class_path(home),
               "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--data", data, "--work", work, "--out", out,
               "--cores", str(task_slots())]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        with open(os.path.join(run_dir, "jvm.log"), "w") as log:
            rc = run_group(cmd, RUN_LIMIT_S - (time.time() - t_start), cwd=work,
                           env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as log:
                sys.stderr.write(log.read()[-4000:])
            fail("the benchmark JVM " + ("timed out" if rc is None else f"exited {rc}"), 1)
        if publish and os.path.exists(publish[0]):
            os.replace(*publish)
        with open(out) as fh:
            result = json.load(fh)
        probe_after = benchlib.host_probe(probe_file)

        checks = result["checks"]
        windows = [result["window"]] + ([result["traced_window"]] if a.trace else [])
        ops = [o for win in windows for o in win["ops"]]
        bad_queries = {}
        if a.workload == "medallion":
            bad_queries = oracle_check(result, data)
            checks_ok = checks["gold_ok"] and not bad_queries
        else:
            checks_ok = checks["ok"]
        warm_failed = result["setup"].get("warmup_failed", [])
        # an op fails when it threw, failed its inline check, ran a query
        # whose result mismatched its oracle, or wrote into an output that
        # failed the final check
        gold_bad = a.workload == "medallion" and not checks["gold_ok"]
        index_bad = a.workload == "index_lifecycle" and not checks_ok
        failed = sum(1 for o in ops if not o["ok"] or o["name"] in bad_queries
                     or (gold_bad and o["kind"] == "write") or index_bad)
        correct = checks_ok and failed == 0 and not warm_failed

        w = benchlib.window_metrics(result["window"])
        setup_s = result["first_op_ms"] / 1000.0 - t_setup
        if a.trace:
            metrics = {k: 0.0 for k in PER_LAYER}
            metrics.update(benchlib.layer_metrics(result, PER_LAYER))
            if a.workload == "medallion":
                metrics["medallion.backfill_rows_per_s"] = result["setup"]["rows_per_s"]
            metrics["host.spin_s"] = probe_after["spin_s"]
            metrics["host.read_s"] = probe_after["read_s"]
            units = PER_LAYER
        else:
            metrics = {"setup_s": setup_s, "write_p50_s": w["write_p50_s"],
                       "read_p50_s": w["read_p50_s"], "ops_per_s": w["ops_per_s"],
                       "retained_heap_mb": result["retained_heap_mb"]}
            units = END_TO_END
        extra = sorted(set(metrics) - set(units))
        if extra:
            fail(f"unlisted metrics {extra}", 1)

        summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "seconds": a.seconds, "cores": result["cores"],
                   "setup_s": setup_s, "setup": result["setup"],
                   "window": w,
                   "checks": {k: v for k, v in checks.items() if k != "oracle_sql"},
                   "oracle_mismatch": bad_queries,
                   "failed_ops": [o for o in ops if not o["ok"]][:20],
                   "host_probe": {"before": probe_before, "after": probe_after},
                   "metrics": metrics}
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        with open(os.path.join(BUILD, "results", f"{tag}.json"), "w") as fh:
            json.dump({"summary": summary, "raw": result}, fh)

        print(f"host: spin_s {probe_before['spin_s']:.3f} -> {probe_after['spin_s']:.3f}, "
              f"read_s {probe_before['read_s']:.4f} -> {probe_after['read_s']:.4f}, "
              f"loadavg {probe_before['loadavg_1m']:.2f} -> {probe_after['loadavg_1m']:.2f}")
        if bad_queries:
            print(f"oracle mismatches: {bad_queries}")
        if not checks_ok:
            shown = {k: v for k, v in checks.items() if k != "oracle_sql"}
            print(f"check failed: {json.dumps(shown)[:2000]}")
        print(human(a.workload, result, w, failed / max(1, len(ops)), setup_s))
        if a.trace:
            print(f"tracing overhead: read_p50_s {metrics['trace.untraced_read_p50_s']:.3f} s "
                  f"untraced -> {metrics['trace.traced_read_p50_s']:.3f} s traced "
                  f"({100 * metrics['trace.overhead_share']:+.1f}%)")
        print(json.dumps({"correct": bool(correct), "attempted": len(ops),
                          "failed": failed,
                          "metrics": {k: {"value": float(v), "unit": units[k]}
                                      for k, v in sorted(metrics.items())}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
