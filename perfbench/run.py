#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload replicate|analytics --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program and the benchmark from
source (``perfbench/build.sh``) into ``$CARGO_TARGET_DIR/perfbench``
(default ``.bench_build``), makes the seeded fixtures (cached there per
seed and size), runs one JVM, checks the outputs, and prints
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. See
``perfbench/README.md``.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import fixtures  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

# replicate fixture shape: (group, files, rows per file)
WARMUP = ("warmup", 2, 20_000)
BACKFILL = ("backfill", 4, 100_000)
TAIL_ROWS, TAIL_PER_PERIOD = 4_000, 10  # 40k rows/s at the 1 s trigger
MAX_LATE_MS = 100.0
# analytics: query families over a corpus half the size of sf0.01, one
# query a family, and x184 beside its in-memory twin x69
FAMILIES = {
    "dedup": ["x52_lsh_calibration"],
    "similarity": ["x5_topk_cosine"],
    "text": ["x69_bm25_topk", "x184_bm25_topk_indexed"],
    "iterative": ["x121_cluster_sizes"],
}
QUERIES = [q for qs in FAMILIES.values() for q in qs]
# the index layer ingests the corpus in this many slices
N_DOCS, N_VECS, N_SLICES, N_PROBES = 250, 250, 6, 8

WORKLOADS = ["replicate", "analytics"]
END_TO_END = ["setup_s", "throughput_per_s", "latency_p50_ms"]
UNITS = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_ms": "ms"}


class Invalid(Exception):
    """The run measured something other than the workload (e.g. the
    generator fell behind); it must not be recorded."""


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars():
    """``$SPARK_HOME/jars``, else the jar directory ``build.sbt`` compiles
    against (its ``unmanagedBase``)."""
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        sys.exit("no Spark jars: set SPARK_HOME, or unmanagedBase in build.sbt")
    return m.group(1)


def build(out, jars):
    """Compile unless the sources are unchanged since the last build."""
    h = hashlib.sha256()
    for top in ("src/main/scala", "perfbench/src", "perfbench/build.sh"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    classes, stamp = os.path.join(out, "classes"), os.path.join(out, "classes.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest() and os.path.isdir(classes):
        return classes
    subprocess.run(["bash", "perfbench/build.sh", classes, jars], cwd=ROOT, check=True,
                   stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def corpus_fixture(cache, seed):
    return fixtures.cached(
        cache, f"corpus-{seed}-{N_DOCS}x{N_VECS}-{N_SLICES}",
        lambda p: fixtures.build_corpus(p, seed, N_DOCS, N_VECS, N_SLICES, N_PROBES))


def replicate_plan(cache, seed, seconds, trace):
    tail_files = math.ceil(seconds / 2 * TAIL_PER_PERIOD)
    groups = [WARMUP, BACKFILL, ("tail", tail_files, TAIL_ROWS)]
    key = "envelope-%d-%s" % (seed, "-".join(f"{g}{n}x{r}" for g, n, r in groups))
    fx = fixtures.cached(cache, key, lambda p: fixtures.build_envelopes(p, seed, groups))
    with open(f"{fx}/manifest.json") as f:
        manifest = json.load(f)
    plan = {"fixture": fx, "offsets": manifest["groups"]["tail"]["end_offset"],
            "tail.files_per_period": TAIL_PER_PERIOD}
    for g, entry in manifest["groups"].items():
        plan[f"{g}.files"] = ",".join(entry["files"])
        plan[f"{g}.rows_per_file"] = entry["rows_per_file"]
        plan[f"{g}.first_offset"] = entry["first_offset"]
    if trace:
        plan["corpus"] = corpus_fixture(cache, seed)
    return plan, manifest


def analytics_plan(cache, seed):
    fx = corpus_fixture(cache, seed)
    return {"fixture": fx, "corpus": fx, "queries": ",".join(QUERIES)}


def cpu_times():
    """(busy, steal) seconds of this host from /proc/stat."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    tick = os.sysconf("SC_CLK_TCK")
    return (user + nice + system + irq + softirq) / tick, steal / tick


def run_jvm(classes, jars, workload, plan_file, work, out, seconds, trace):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{jars}/*", "perfbench.Main", workload, plan_file,
              work, out, str(seconds), str(trace), str(cpus)])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    if code != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise RuntimeError(f"benchmark JVM failed ({code})")
    with open(os.path.join(out, "record.json")) as f:
        return json.load(f)


def progress_by_phase(record):
    out = {}
    for p in record["progress"]:
        out.setdefault(p["phase"], []).append(p)
    return out


def dur(batches, *keys):
    return [sum(b["duration"].get(k, 0) for k in keys) for b in batches]


def med(values):
    return stats.median(values) if len(values) else 0.0


def replicate_result(record, manifest, out):
    sc, sa = record["scalars"], record["samples"]
    late = stats.check_schedule(sa["tail.due_ms"], sa["tail.released_ms"],
                                sc["tail.period_ms"], int(sc["tail.per_period"]))
    if late > MAX_LATE_MS:
        raise Invalid(f"tail generator fell behind by {late:.1f} ms")
    expected = np.load(os.path.join(record["fixture"], "digests.npy"))
    counts = np.fromfile(os.path.join(out, "counts.i32"), "<i4")
    digests = np.fromfile(os.path.join(out, "digests.u64"), "<u8")
    sent_ns = np.fromfile(os.path.join(out, "sent_ns.i64"), "<i8")
    g = manifest["groups"]
    rows = int(sc["tail.rows_per_file"])
    tail_first, n_files = g["tail"]["first_offset"], int(sc["tail.files"])
    tail_end = tail_first + n_files * rows
    released = [(g["backfill"]["first_offset"], g["backfill"]["end_offset"], int(sc["backfill.drains"])),
                (tail_first, tail_end, 1)]
    quiet = [(0, g["warmup"]["end_offset"], 0), (tail_end, g["tail"]["end_offset"], 0)]
    checked, wrong = stats.check_manifest(expected, counts, digests, released + quiet)
    due = np.repeat(np.asarray(sa["tail.due_ms"]), rows)
    latency = sent_ns[tail_first:tail_end] / 1e6 - due
    e2e = {
        "setup_s": stats.median(sa["setup_s"]),
        "throughput_per_s": (g["backfill"]["end_offset"] - g["backfill"]["first_offset"])
                            * len(sa["backfill.drain_s"]) / sum(sa["backfill.drain_s"]),
        "latency_p50_ms": stats.percentile(latency, 50),
    }
    phases = progress_by_phase(record)
    backfill = [b for p, bs in phases.items() if p.startswith("backfill") for b in bs if b["rows"] > 0]
    tail = [b for b in phases.get("tail", []) if b["rows"] > 0]
    layer = {"generator.late_ms.max": late, "admin.reconcile_ms": med(sa["admin.reconcile_ms"]),
             "sink.marker_files": sc["sink.marker_files"],
             "sink.rows": sc["sink.backfill_rows"] + sc["sink.tail_rows"],
             "sink.mb": sc["sink.backfill_mb"] + sc["sink.tail_mb"],
             "sink.task_busy_s": sc["sink.backfill_task_busy_s"] + sc["sink.tail_task_busy_s"],
             "repl.tail_p99_ms": stats.percentile(latency, 99)}
    for name, batches in (("backfill", backfill), ("tail", tail)):
        layer.update(pipeline_layer(name, batches))
    layer["source.latest_offset_ms.p50"] = med(dur(tail, "latestOffset", "getBatch"))
    layer["source.backlog_rows.max"] = backlog_max(tail, sa["tail.released_ms"], rows)
    return checked, wrong, e2e, layer


def pipeline_layer(name, batches):
    return {f"pipeline.{name}.batches": len(batches),
            f"pipeline.{name}.batch_overhead_ms.p50":
                med([t - a for t, a in zip(dur(batches, "triggerExecution"), dur(batches, "addBatch"))]),
            f"pipeline.{name}.query_planning_ms.p50": med(dur(batches, "queryPlanning")),
            f"pipeline.{name}.wal_commit_ms.p50": med(dur(batches, "walCommit")),
            f"sink.{name}.add_batch_ms.p50": med(dur(batches, "addBatch"))}


def backlog_max(batches, released_ms, rows_per_file):
    """Most rows released but not yet taken by a microbatch, seen at any
    microbatch start."""
    released_ms = np.sort(np.asarray(released_ms))
    taken, worst = 0, 0
    for b in sorted(batches, key=lambda b: b["start_ms"]):
        avail = int(np.searchsorted(released_ms, b["start_ms"], side="right")) * rows_per_file
        worst = max(worst, avail - taken)
        taken += b["rows"]
    return float(worst)


def analytics_result(record, out):
    sa = record["samples"]
    failures = oracle.check(record["fixture"], os.path.join(out, "results"),
                            os.path.join(out, "oracle"), QUERIES)
    for q, why in failures.items():
        if why:
            sys.stderr.write(f"oracle mismatch {q}: {why}\n")
    per_query = {q: stats.median(sa[f"q.{q}.ms"]) for q in QUERIES}
    sc = record["scalars"]
    runs = sum(len(sa[f"q.{q}.ms"]) for q in QUERIES)
    e2e = {
        "setup_s": stats.median(sa["setup_s"]),
        # both from per-query medians, so a query that ran once more in a
        # partial last pass does not weigh more
        "throughput_per_s": len(QUERIES) / (sum(per_query.values()) / 1000),
        "latency_p50_ms": stats.median(list(per_query.values())),
    }
    layer = {f"analytics.{f}_s": sum(per_query[q] for q in qs) / 1000 for f, qs in FAMILIES.items()}
    for q in QUERIES:
        layer[f"q.{q}.s"] = per_query[q] / 1000
        n = len(sa[f"q.{q}.ms"])
        for m in ("jobs", "tasks", "shuffle_mb", "cpu_s", "run_s"):
            layer[f"q.{q}.{m}"] = sum(v for k, v in sc.items() if k.startswith(f"{m}|q-{q}-")) / n
    attempted = len(QUERIES) + runs
    return attempted, sum(1 for why in failures.values() if why), e2e, layer


def index_layer(record):
    """The generational index probe of a traced replicate run."""
    sc, sa = record["scalars"], record["samples"]
    phases = progress_by_phase(record)
    layer = {"maint.compactions": sc.get("maint.compactions", 0.0),
             "maint.live_gen_files": sc.get("maint.live_gen_files", 0.0),
             "maint.ingest_ms.p50": med(sa.get("maint.ingest_ms", []))}
    for kind in ("ivfpq", "bm25"):
        batches = [b for b in phases.get(f"maint.{kind}", []) if b["rows"] > 0]
        layer[f"maint.{kind}_batch_ms.p50"] = med(dur(batches, "addBatch"))
        for part in ("plan", "exec"):
            layer[f"probe.{kind}_{part}_ms.p50"] = med(sa.get(f"probe.{kind}_{part}_ms", []))
        n = len(sa.get(f"probe.{kind}_plan_ms", []))
        jobs = sum(v for k, v in sc.items() if k.startswith(f"jobs|probe-{kind}-"))
        layer[f"probe.{kind}_jobs"] = jobs / n if n else 0.0
    return layer


# span layer of each self-time metric
SELF_LAYERS = {"admin": "graft.admin.TopicAdmin", "sources": "graft.sources",
               "pipeline": "graft.streaming.Pipeline", "sink": "graft.streaming.KafkaBatchWriter",
               "maint": "graft.streaming.StreamIndexOps", "operators": "graft.operators",
               "functions": "graft.functions", "spark_job": "spark.job"}
LAYER_NAMES = [
    "generator.late_ms.max", "source.latest_offset_ms.p50", "source.backlog_rows.max",
    *[f"pipeline.{p}.{m}" for p in ("backfill", "tail")
      for m in ("batches", "batch_overhead_ms.p50", "query_planning_ms.p50", "wal_commit_ms.p50")],
    "sink.backfill.add_batch_ms.p50", "sink.tail.add_batch_ms.p50", "sink.task_busy_s",
    "sink.rows", "sink.mb", "sink.marker_files", "admin.reconcile_ms",
    "repl.tail_p99_ms",
    *[f"analytics.{f}_s" for f in FAMILIES],
    *[f"q.{q}.{m}" for q in QUERIES for m in ("s", "jobs", "tasks", "shuffle_mb", "cpu_s", "run_s")],
    "maint.ivfpq_batch_ms.p50", "maint.bm25_batch_ms.p50", "maint.ingest_ms.p50",
    "maint.compactions", "maint.live_gen_files",
    *[f"probe.{k}_{m}" for k in ("ivfpq", "bm25") for m in ("jobs", "plan_ms.p50", "exec_ms.p50")],
    "spark.jobs", "spark.tasks", "spark.cpu_s", "spark.run_s", "spark.shuffle_mb",
    *[f"self.{l}_s" for l in SELF_LAYERS],
    *[f"kernel.{k}_ns_row" for k in ("baseline", "shingles", "minhashes", "simhash", "dot_f",
                                      "topk", "pq_encode", "kafka_partition")],
    "jvm.gc_s", "jvm.heap_peak_mb", "host.steal_s",
    *[f"traced.{m}" for m in END_TO_END],
]
LAYER_UNITS = {"_ms": "ms", "_s": "s", ".s": "s", "rows": "rows", "mb": "MB", "ns_row": "ns/row"}


def unit_of(name):
    if name.startswith("traced."):
        return UNITS[name[len("traced."):]]
    tail = name.rsplit(".", 1)[0] if name.endswith((".p50", ".max")) else name
    for suffix, unit in LAYER_UNITS.items():
        if tail.endswith(suffix):
            return unit
    return "count"


def per_layer(record, e2e, layer):
    sc = record["scalars"]
    layer.update(index_layer(record))
    spans = [tuple(s) for s in record["spans"]]
    by_layer = stats.layer_self_times(spans)
    for short, full in SELF_LAYERS.items():
        layer[f"self.{short}_s"] = by_layer.get(full, 0.0) / 1000
    for k, v in sc.items():
        if k.startswith(("kernel.", "jvm.", "spark.", "host.")):
            layer[k] = v
    for m in END_TO_END:
        layer[f"traced.{m}"] = e2e[m]
    # layers off this workload's path did no work in it: report 0
    return {name: {"value": float(layer.get(name, 0.0)), "unit": unit_of(name)}
            for name in LAYER_NAMES}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit(f"no program sources under {ROOT}/src/main/scala: run from a full checkout")

    out_root = build_dir()
    cache = os.path.join(out_root, "fixtures")
    os.makedirs(cache, exist_ok=True)
    jars = spark_jars()
    classes = build(out_root, jars)
    if a.workload == "replicate":
        plan, manifest = replicate_plan(cache, a.seed, a.seconds, a.trace)
    else:
        plan = analytics_plan(cache, a.seed)
    work = os.path.join(out_root, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    out = os.path.join(work, "out")
    os.makedirs(out)
    try:
        plan_file = os.path.join(work, "plan.properties")
        with open(plan_file, "w") as f:
            for k, v in plan.items():
                f.write(f"{k}={v}\n")
        t0, (busy0, steal0) = time.time(), cpu_times()
        record = run_jvm(classes, jars, a.workload, plan_file, work, out, a.seconds, a.trace)
        t1, (busy1, steal1) = time.time(), cpu_times()
        record["scalars"]["host.steal_s"] = steal1 - steal0
        record["fixture"] = plan["fixture"]
        if a.workload == "replicate":
            attempted, wrong, e2e, layer = replicate_result(record, manifest, out)
        else:
            attempted, wrong, e2e, layer = analytics_result(record, out)
        sys.stderr.write(f"[perfbench] jvm {t1 - t0:.1f} s (cpu busy {busy1 - busy0:.1f} s, "
                         f"stolen {steal1 - steal0:.1f} s), checks {time.time() - t1:.1f} s\n")
    except Invalid as e:
        sys.exit(f"invalid run, not recorded: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.trace:
        attempted += int(record["scalars"].get("index.checked", 0))
        wrong += int(record["scalars"].get("index.failed", 0))
        metrics = per_layer(record, e2e, layer)
    else:
        metrics = {m: {"value": e2e[m], "unit": UNITS[m]} for m in END_TO_END}
    print(json.dumps({"correct": wrong == 0, "attempted": int(attempted), "failed": int(wrong),
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
