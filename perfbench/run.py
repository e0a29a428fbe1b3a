#!/usr/bin/env python3
"""Seeded benchmark of the shuffle data plane, the dedup index and ANN
retrieval. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Steps: build the checkout offline (sbt, once per source state), generate
the workload's inputs from the seed (perfbench/gen.py), run one JVM at
local[nproc] that times the workload (perfbench/src), check every output
against ground truth computed apart from the program (perfbench/check.py)
and print one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(the traced run also leaves its spans in .perfbench/traces/). Everything
the run writes stays under .perfbench/ and perfbench/target/ in the
checkout; the run directory is removed unless the run failed or its
outputs did not check. Exit code 0 only when a result was printed.
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
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("shuffle_ledger", "dedup_index")
DEADLINE_S = 160  # the whole run, build excluded
BUILD_DEADLINE_S = 800
JVM_HEAP = "3g"

# Per-layer metrics, as BENCHMARK.json lists them. A traced run of any
# workload reports all of them: a layer the workload never calls reads 0
# there (README, "Layers").
COMMON = [
    ("spark.jobs_per_pass", "count"), ("spark.jobs_per_probe", "count"),
    ("spark.tasks_per_pass", "count"),
    ("spark.shuffle_write_mb_per_pass", "MB"),
    ("spark.shuffle_read_mb_per_pass", "MB"),
    ("spark.spill_mb_per_pass", "MB"), ("spark.task_busy_s_per_pass", "s"),
    ("spark.core_util", "ratio"), ("cache.mb_materialized_per_pass", "MB"),
    ("functions.minhash_sig_ns_per_row", "ns"),
    ("functions.simhash_sig_ns_per_row", "ns"),
    ("functions.hyperplane_sig_ns_per_row", "ns"),
    ("functions.cosine_similarity_ns_per_pair", "ns"),
]
SHUFFLE = [
    ("pipe.write_s", "s"), ("pipe.write_mb_per_s_small", "MB/s"),
    ("pipe.write_mb_per_s_large", "MB/s"), ("pipe.files_written", "count"),
    ("pipe.bytes_on_disk", "bytes"), ("pipe.scan_lineage_s", "s"),
    ("pipe.scan_payload_mb_per_s_small", "MB/s"),
    ("pipe.scan_payload_mb_per_s_large", "MB/s"),
    ("pipe_ops.q_pipe_scan_s", "s"), ("pipe_ops.q_pipe_latest_s", "s"),
    ("pipe_ops.q_pipe_checksum_verify_s", "s"),
    ("pipe_ops.q_pipe_decode_s", "s"),
    ("core.q_groupby_partial_final_s", "s"), ("core.q_groupby_highcard_s", "s"),
    ("core.q_join_equi_s", "s"), ("core.q_multi_join_s", "s"),
    ("core.q_sort_global_s", "s"), ("core.q_distinct_s", "s"),
    ("core.q_window_funcs_s", "s"),
    ("graph.q_part_rank_s", "s"), ("graph.q_part_rank_jobs", "count"),
    ("graph.q_triangle_count_s", "s"),
]
DEDUP = [
    ("graph.cc_s", "s"),
    ("dedup.q_text_minhash_s", "s"), ("dedup.q_text_simhash_s", "s"),
    ("dedup.q_dedup_cluster_s", "s"), ("dedup.verified_pairs", "count"),
    ("dedup_index.publish_s", "s"), ("dedup_index.merge_s", "s"),
    ("dedup_index.probe_ms", "ms"), ("dedup_index.bytes", "bytes"),
]
# the retrieval layers, run in traced shuffle_ledger runs only
ANN = [
    ("vector_index.publish_s", "s"), ("vector_index.publish_jobs", "count"),
    ("vector_index.merge_s", "s"), ("vector_index.search_ivf_s", "s"),
    ("vector_index.search_lsh_s", "s"), ("vector_index.search_ivfpq_s", "s"),
    ("vector_index.probe_ms", "ms"),
    ("vector_index.bytes", "bytes"), ("vector_index.recall_ivf", "ratio"),
    ("vector_index.recall_lsh", "ratio"),
    ("vector_index.recall_ivfpq", "ratio"),
    ("vector_index.probe_recall", "ratio"),
    ("vector_ops.q_ann_recall_s", "s"),
    ("lex_index.publish_s", "s"), ("lex_index.search_bm25_s", "s"),
    ("retrieval.q_hybrid_rrf_s", "s"),
]
PER_LAYER = COMMON + SHUFFLE + DEDUP + ANN

END_TO_END = [
    ("setup_s", "s"), ("pipeline_s", "s"), ("write_s", "s"), ("read_s", "s"),
    ("probe_p50_ms", "ms"),
    ("stored_bytes_per_input_byte", "ratio"), ("planted_recall", "ratio"),
]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, log, deadline_s, env=None):
    """Run `cmd` in its own process group, output to `log`; kill the whole
    group and wait for it if it outlives the deadline."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build(home):
    """Compile the program's sources with the harness (perfbench/build.sbt)
    unless the stamp of the last good build matches the sources."""
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = source_stamp()
    if (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return classes
    if not shutil.which("sbt"):
        fail("sbt not found")
    env = dict(os.environ, SPARK_HOME=home)
    log = os.path.join(STATE, "build.log")
    rc = run_bounded(["sbt", "-batch", "compile"], HERE, log,
                     BUILD_DEADLINE_S, env)
    if rc != 0:
        sys.stderr.write(open(log, errors="replace").read()[-4000:])
        fail(f"build failed (sbt exit {rc}), log in {log}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("not a checkout of the program: src/main/scala/graft is missing")
    home = spark_home()
    classes = build(home)
    t_built = time.time()

    run_dir = os.path.join(STATE, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp, work, out = (os.path.join(run_dir, d) for d in ("input", "work", "out"))
    tmp = os.path.join(work, "tmp")
    for d in (inp, work, out, tmp):
        os.makedirs(d)
    ok = False
    try:
        truth = gen.generate(a.workload, a.seed, inp)
        java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
        if not os.path.exists(java):
            java = shutil.which("java") or fail("java not found")
        cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *ADD_OPENS,
               f"-Djava.io.tmpdir={tmp}",
               f"-Dgraft.artifact.base={os.path.join(work, 'artifacts')}",
               "-cp", os.pathsep.join([classes, os.path.join(home, "jars", "*")]),
               "perfbench.Main", "--workload", a.workload, "--input", inp,
               "--work", work, "--out", out, "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        log = os.path.join(run_dir, "jvm.log")
        left = DEADLINE_S - (time.time() - t_built)
        rc = run_bounded(cmd, work, log, left)
        if rc != 0 or not os.path.exists(os.path.join(out, "jvm.json")):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            fail(f"benchmark JVM {'timed out' if rc is None else f'exit {rc}'}",
                 code=1)
        with open(os.path.join(out, "jvm.json")) as f:
            jvm = json.load(f)
        problems, quality = check.check(a.workload, inp, out, truth, a.trace)
        for p in problems:
            print(f"perfbench check: {p}", file=sys.stderr)
        if a.trace:
            metrics = per_layer(jvm, quality)
            keep_trace(a, jvm, metrics)
        else:
            metrics = end_to_end(jvm, truth, quality)
        result = {"correct": not problems, "attempted": jvm["attempted"],
                  "failed": jvm["failed"], "metrics": metrics}
        ok = not problems and not jvm["failed"]
    finally:
        # a failed or incorrect run keeps its inputs, outputs and JVM log
        if ok:
            shutil.rmtree(run_dir, ignore_errors=True)
        else:
            print(f"perfbench: run directory kept: {run_dir}", file=sys.stderr)
    print(json.dumps(result))


def end_to_end(jvm, truth, quality):
    values = {
        "setup_s": jvm["setup_s"],
        "pipeline_s": median(jvm["pass_wall_s"]),
        "write_s": median(jvm["pass_write_s"]),
        "read_s": median(jvm["pass_read_s"]),
        "probe_p50_ms": median(jvm["probe_ms"]),
        "stored_bytes_per_input_byte":
            jvm["stored_bytes"] / check.input_bytes(truth),
        "planted_recall": quality["planted_recall"],
    }
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END}


def per_layer(jvm, quality):
    layer = dict(jvm["layer"])
    if jvm["workload"] == "dedup_index":
        layer["dedup_index.probe_ms"] = median(jvm["probe_ms"])
    for k in ("recall_ivf", "recall_lsh", "recall_ivfpq", "probe_recall"):
        if k in quality:
            layer[f"vector_index.{k}"] = quality[k]
    return {n: {"value": float(layer.get(n, 0.0)), "unit": u}
            for n, u in PER_LAYER}


def keep_trace(a, jvm, metrics):
    """Traced runs leave their spans, op medians and per-layer metrics in
    .perfbench/traces/<workload>-s<seed>.json (perfbench/trace_report.py
    turns them into the README's self-time tables)."""
    d = os.path.join(STATE, "traces")
    os.makedirs(d, exist_ok=True)
    keep = {k: jvm[k] for k in ("workload", "setup_s", "pass_wall_s",
                                "pass_write_s", "pass_read_s", "op_median_s",
                                "probe_ms", "spans")}
    keep["metrics"] = metrics
    with open(os.path.join(d, f"{a.workload}-s{a.seed}.json"), "w") as f:
        json.dump(keep, f)


if __name__ == "__main__":
    main()
