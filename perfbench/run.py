#!/usr/bin/env python3
"""The repository benchmark: one workload, one JVM, metrics on the last line.

    python3 perfbench/run.py --workload bootcamp --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side into `.bench_build/` (see `build.py`). Each run then
generates its inputs into a temporary directory under `.bench_build/`, runs
`perfbench.Main` on `local[<cores>]`, checks the outputs with DuckDB
(`oracle.py`), deletes the temporary directory, and prints one JSON object
as the last line of standard output. `--trace 0` reports the end-to-end
metrics; `--trace 1` the per-layer ones, and keeps the trace's spans in
`.bench_build/classes-<build>-trace-<workload>-<seed>.json`.

Workloads (why each was chosen is in BENCHMARK.json):
  bootcamp       8 oracle-checked curriculum queries over seeded sf0.01 tables
  ingest_stream  JSON-lines web events -> parquet landing -> StreamingJobs
                 drains -> Sinks.savePartitioned -> Sinks.compact
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

# The star-schema tables are fixed; the seed only orders the queries and
# makes the ingest events.
TABLE_SEED = 42
TABLE_SF = 0.01
INGEST_FILES = 2
INGEST_EVENTS_PER_FILE = 5000
JVM_TIMEOUT_S = 150

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def median(xs):
    return statistics.median(xs)


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it
    (the maximum when there are ten or fewer), with that percentile."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100
    p = math.floor(100 * (1 - 10 / n))
    # nearest-rank: the sample at rank ceil(p/100 * n)
    return s[max(0, math.ceil(p / 100 * n) - 1)], p


def run_jvm(jar, workload, seed, seconds, trace, data, work, cds):
    out = os.path.join(work, "measurements.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] + [
        # C1 only: C2 needs about 40 s of passes to settle on this engine,
        # more than a run affords, and its compiler threads compete with
        # the executor threads meanwhile; C1 settles within the warm-up
        "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
        # a fixed heap and young generation: the young generation is filled
        # and collected whole, so peak memory does not hinge on GC timing
        "-XX:+UseParallelGC", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss16m", cds,
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dspark.local.dir={tmp}",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        "-cp", jar + os.pathsep + os.path.join(build.spark_jars(os.getcwd()), "*"),
        "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus),
        "--data", data, "--work", work, "--out", out]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            raise RuntimeError(f"JVM exited {code}:\n" + f.read()[-3000:])
    with open(out) as f:
        return json.load(f)


def make_inputs(workload, seed, data):
    """Generate a run's inputs; return the number of ingest events."""
    if workload == "ingest_stream":
        return gen.web_events(data, seed, INGEST_FILES, INGEST_EVENTS_PER_FILE)
    gen.tables(data, TABLE_SF, TABLE_SEED)
    return 0


def class_archive(root, jar, workload):
    """The JVM flag that maps this build's class-data sharing archive for
    the workload, made first by one set-up-and-warm-up run. Sharing the
    parsed classes of Spark and the engine halves JVM start-up, which
    every run pays."""
    archive = f"{jar[:-len('.jar')]}-{workload}.jsa"
    if not os.path.exists(archive):
        work = tempfile.mkdtemp(prefix="train-", dir=os.path.join(root, build.BUILD_DIR))
        try:
            data = os.path.join(work, "inputs")
            make_inputs(workload, 1, data)
            run_jvm(jar, workload, 1, 0, 0, data, work,
                    f"-XX:ArchiveClassesAtExit={archive}.tmp")
            os.replace(archive + ".tmp", archive)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return f"-XX:SharedArchiveFile={archive}"


def end_to_end(m, ops, failed, events):
    passes = m["passes"]
    op_s = [o["s"] for p in passes for o in p["ops"]]
    op_tail, pct = tail(op_s)
    wall = median([p["wall_s"] for p in passes])
    return {
        "setup_s": (median(m["setup_s"]), "s"),
        "total_s": (wall, "s"),
        "op_p50_s": (median(op_s), "s"),
        "op_tail_s": (op_tail, "s"),
        "events_per_s": (events / wall, "1/s"),
        "process_cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MiB"),
    }, {"op_tail_percentile": pct, "op_samples": len(op_s),
        "pass_wall_s": [p["wall_s"] for p in passes],
        "failed_ratio": failed / ops, "calib_cpu_md5_s": m["calib_cpu_md5_s"],
        "calib_spark_range_s": m["calib_spark_range_s"], "cpus": m["cpus"],
        "jvm_phase_end_s": m["phase_end_s"]}


def layer(p, layer_name, field, default=0.0):
    return p["tasks"].get(layer_name, {}).get(field, default)


def per_layer(m):
    """Per-layer figures; each is the median over the measured passes."""
    passes = m["passes"]
    cpus = m["cpus"]

    def med(f):
        return median([f(p) for p in passes])

    def span(p, name, field="total_s"):
        return p["spans"].get(name, {}).get(field, 0.0)

    def stages(p, name):
        return p["stages_run"].get(name, 0)

    def per_drain(p):
        calls = p["spans"].get("streaming.drain", {}).get("per_call_s", [])
        return median(calls) if calls else 0.0

    def batches(p):
        return [b for b in p["batches"] if b["input_rows"] > 0]

    def build_share(p):
        t = span(p, "queries.build") + span(p, "plan") + span(p, "execute")
        return span(p, "queries.build") / t if t else 0.0

    def execute_util(p):
        wall = span(p, "execute")
        return layer(p, "execute", "run_s") / (wall * cpus) if wall else 0.0

    def reuse(p):
        total = p["stage_totals"].get("execute", 0)
        return (total - stages(p, "execute")) / total if total else 0.0

    def written_per_input(p):
        written = sum(t.get("output_mb", 0.0) for t in p["tasks"].values()) * 1048576
        return written / p["input_bytes"] if p.get("input_bytes") else 0.0

    def rows_per_s(p):
        bs = batches(p)
        d = sum(b["duration_s"] for b in bs)
        return sum(b["input_rows"] for b in bs) / d if d else 0.0

    def state_rows(p):
        last = {}
        for b in p["batches"]:
            last[b["run"]] = b["state_rows"]
        return sum(last.values())

    loads = m["table_load_ms"]
    figures = {
        "core.sessions.local_s": (median(m["session_s"]), "s"),
        "core.tables.load_ms": (median(loads) if loads else 0.0, "ms"),
        "core.tables.load_jobs": (med(lambda p: p["table_load_jobs"]), "count"),
        "queries.build_s": (med(lambda p: span(p, "queries.build")), "s"),
        "queries.build_jobs": (med(lambda p: p["jobs"].get("queries.build", 0)), "count"),
        "queries.build_share": (med(build_share), "ratio"),
        "plan.s": (med(lambda p: span(p, "plan")), "s"),
        "execute.s": (med(lambda p: span(p, "execute")), "s"),
        "execute.jobs": (med(lambda p: p["jobs"].get("execute", 0)), "count"),
        "execute.stages": (med(lambda p: stages(p, "execute")), "count"),
        "execute.tasks": (med(lambda p: layer(p, "execute", "count", 0)), "count"),
        "execute.cpu_s": (med(lambda p: layer(p, "execute", "cpu_s")), "s"),
        "execute.gc_s": (med(lambda p: layer(p, "execute", "gc_s")), "s"),
        "execute.sched_delay_s": (med(lambda p: layer(p, "execute", "sched_delay_s")), "s"),
        "execute.shuffle_read_mb": (med(lambda p: layer(p, "execute", "shuffle_read_mb")), "MiB"),
        "execute.shuffle_write_mb": (med(lambda p: layer(p, "execute", "shuffle_write_mb")), "MiB"),
        "execute.spill_mb": (med(lambda p: layer(p, "execute", "spill_mb")), "MiB"),
        "execute.core_util": (med(execute_util), "ratio"),
        "execute.stage_reuse_ratio": (med(reuse), "ratio"),
        "sources.json.read_s": (med(lambda p: span(p, "sources.json.read")), "s"),
        "sources.sinks.write_s": (med(lambda p: span(p, "sources.sinks.write")), "s"),
        "sources.sinks.compact_s": (med(lambda p: span(p, "sources.sinks.compact")), "s"),
        "sources.sinks.files_before": (med(lambda p: p.get("files_before", 0)), "count"),
        "sources.sinks.files_after": (med(lambda p: p.get("files_after", 0)), "count"),
        "sources.bytes_written_per_input_byte": (med(written_per_input), "ratio"),
        "streaming.drain_s": (med(per_drain), "s"),
        "streaming.batches": (med(lambda p: len(p["batches"])), "count"),
        "streaming.batch_p50_s": (med(lambda p: median([b["duration_s"] for b in batches(p)])
                                      if batches(p) else 0.0), "s"),
        "streaming.input_rows_per_s": (med(rows_per_s), "1/s"),
        "streaming.state_rows": (med(state_rows), "count"),
    }
    return figures


def save_trace(jar, args, m, metrics):
    """Keep this run's spans and per-layer figures beside the build, and
    return each count that differs from another kept traced run of the
    same build and workload, as [lowest, highest] over those runs."""
    prefix = f"{jar[:-len('.jar')]}-trace-{args.workload}-"
    with open(f"{prefix}{args.seed}.json", "w") as f:
        json.dump({"metrics": metrics, "spans": m.get("spans", []), "passes": m["passes"]}, f)
    seen = {}
    for other in glob.glob(prefix + "*.json"):
        with open(other) as f:
            for k, (v, unit) in json.load(f)["metrics"].items():
                if unit == "count":
                    seen.setdefault(k, []).append(v)
    return {k: [min(v), max(v)] for k, v in sorted(seen.items()) if min(v) != max(v)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["bootcamp", "ingest_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind: the JVM is killed and the run directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    jar = build.ensure(root)
    cds = class_archive(root, jar, args.workload)

    work = tempfile.mkdtemp(prefix="run-", dir=os.path.join(root, build.BUILD_DIR))
    try:
        data = os.path.join(work, "inputs")
        events = make_inputs(args.workload, args.seed, data)
        m = run_jvm(jar, args.workload, args.seed, args.seconds, args.trace, data, work, cds)

        if args.workload == "ingest_stream":
            verdicts = oracle.ingest(data, os.path.join(work, "warehouse"), m["passes"])
            wrong = {f"p{i + 1}.{k}": v for i, vs in enumerate(verdicts) for k, v in vs.items() if v}
            # outputs accumulate over a pass's arrivals: a wrong output fails them all
            ops = [o for p in m["passes"] for o in p["ops"]]
            bad = [o for p, vs in zip(m["passes"], verdicts) for o in p["ops"]
                   if not o["ok"] or any(vs.values())]
        else:
            names = m["check"]["queries"]
            verdict = oracle.queries(root, data, m["check"]["results"], names)
            for q in m["check"]["failed"]:
                verdict[q] = "errored in the check pass"
            wrong = {k: v for k, v in verdict.items() if v}
            # every pass per query: a wrong result makes each of its operations fail
            events = len(names) * 1.0
            ops = [o for p in m["passes"] for o in p["ops"]]
            bad = [o for o in ops if not o["ok"] or verdict.get(o["name"])]
        e2e, info = end_to_end(m, len(ops), len(bad), events)
        info["wrong_outputs"] = wrong
        if args.trace:
            metrics = per_layer(m)
            metrics["trace_overhead_ratio"] = (e2e["total_s"][0] / m["untraced_wall_s"] - 1, "ratio")
            info["unrepeated_counts"] = save_trace(jar, args, m, metrics)
        else:
            metrics = e2e
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": not wrong and not bad,
            "attempted": len(ops),
            "failed": len(bad),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
