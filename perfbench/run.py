"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the benchmark (build.py), generates the seeded
inputs (gen.py), runs the JVM side (scala/PerfBench.scala) in one
process, checks every output against the independent checkers
(check.py) and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json.
With --trace 1 they are the per-layer metrics of BENCHMARK.json, from
spans around each layer call and a SparkListener; a layer the workload
never calls reads 0. The raw per-span figures of a traced run are also
written to .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen    # noqa: E402

WORKLOADS = ["cds_etl", "corpus_curation", "snapshot_ingest"]
# the JVM's own time beyond the measured seconds: start, session, warm-up
JVM_OVERHEAD_S = 165
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def cores():
    """Spark task threads: two, or fewer on a smaller host. The remaining
    cores keep the JIT compiler, the GC and Spark's cleaner off the
    measured threads; with four task threads on a 4-core host, repeated
    identical batches in one JVM varied twice as much."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(2, n))


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def run_jvm(classes, workload, inputs, work, seconds, trace):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + build.classpath(), "perfbench.PerfBench",
            workload, inputs, work, str(seconds), str(trace), str(cores())]
    log = os.path.join(work, "jvm.log")
    t_spawn = time.time()
    with open(log, "w") as lf:
        # Spark takes its scratch directories from SPARK_LOCAL_DIRS first
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work, env=env)
        try:
            rc = proc.wait(timeout=seconds + JVM_OVERHEAD_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log) as lf:
            tail = lf.read()[-6000:]
        sys.stderr.write(tail + f"\nperfbench: JVM exited with {rc}\n")
        raise SystemExit(1)
    with open(os.path.join(work, "result.json")) as f:
        return t_spawn, json.load(f)


def end_to_end(workload, r, inputs, recall):
    b = r["batches"]
    cpu = [x["cpu_ms"] for x in b]
    commit_cpu = [c for x in b for c in x["commit_cpu_ms"]]
    if workload == "cds_etl":
        # bytes the batch left published in the bucket (outputs and the
        # archived raw workbook) per workbook byte
        stored = 0
        for x in b:
            transformed = check.local_path(x["transformed"])
            stored += dir_bytes(transformed) + dir_bytes(check.raw_dir(transformed))
        fed = sum(os.path.getsize(os.path.join(inputs, "data", x["name"], x["name"] + ".xlsx"))
                  for x in b)
        ratio = stored / fed
    elif workload == "corpus_curation":
        ratio = (sum(dir_bytes(x["out"]) for x in b) /
                 sum(dir_bytes(os.path.join(inputs, x["name"])) for x in b))
    else:
        ratio = statistics.median(r["bytes_ratio"])
    return {
        "setup_s": r["setup_cpu_ms"] / 1000.0,
        "rows_per_cpu_s": sum(x["rows"] for x in b) / (sum(cpu) / 1000.0),
        "batch_cpu_s_p50": statistics.median(cpu) / 1000.0,
        "commit_cpu_ms_p50": statistics.median(commit_cpu),
        "bytes_stored_per_input_byte": ratio,
        "live_heap_mb": statistics.median(x["heap_mb"] for x in b),
        "planted_recall": recall,
    }


def per_layer(r, workload, names):
    """Values of the per-layer metrics named `names` from a traced result."""
    spans = r["trace"]["spans"]
    zero = {"wall_ms": 0.0, "jobs": 0.0, "gap_ms": 0.0, "exec_ms": 0.0, "shuffle_mb": 0.0}
    out = {}
    for name in names:
        head, _, measure = name.rpartition(".")
        if name.startswith(("spark.jobs_per_batch.", "jvm.gc_ms.")) and measure != workload:
            out[name] = 0.0
        elif name.startswith("spark.jobs_per_batch."):
            out[name] = r["trace"]["jobs_total"] / r["trace"]["batches"]
        elif name.startswith("jvm.gc_ms."):
            out[name] = statistics.mean(x["gc_ms"] for x in r["batches"])
        elif name == "ops.snap_files":
            out[name] = statistics.mean(r["snap_files"]) if r.get("snap_files") else 0.0
        else:
            out[name] = spans.get(head, zero)[measure]
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    w = a.workload
    run_dir = os.path.join(build.OUT, "runs", f"{w}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs, work = os.path.join(run_dir, "inputs"), os.path.join(run_dir, "work")
    try:
        expect = gen.generate(w, a.seed, inputs)
        t_spawn, r = run_jvm(classes, w, inputs, work, a.seconds, a.trace)
        errors, recall = check.check(w, expect, r, inputs)
        for e in errors[:20]:
            sys.stderr.write(f"perfbench: wrong output: {e}\n")
        # operations of the timed rounds: batches, plus the snapshot reads
        attempted = len(r["batches"]) + sum(1 for x in r.get("reads", []) if x["timed"])
        if a.trace:
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{w}-seed{a.seed}.json"), "w") as f:
                json.dump(dict(r["trace"], batch_wall_ms=[x["wall_ms"] for x in r["batches"]]),
                          f, indent=1)
            values = per_layer(r, w, [m["name"] for m in spec["per_layer"]])
            units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            values = end_to_end(w, r, inputs, recall)
            b = r["batches"]
            sys.stderr.write("perfbench: wall clock, for reference: setup_s %.2f, "
                             "batch_s_p50 %.4f, commit_ms_p50 %.2f\n" % (
                                 r["first_batch_ms"] / 1000.0 - t_spawn,
                                 statistics.median(x["wall_ms"] for x in b) / 1000.0,
                                 statistics.median(c for x in b for c in x["commit_ms"])))
            units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        metrics = {n: {"value": values[n], "unit": u} for n, u in units.items()}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": attempted, "failed": 0,
                      "metrics": metrics}))
    if errors:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
