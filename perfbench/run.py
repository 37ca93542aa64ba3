#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload curate|ingest --seed N \
      --seconds S --trace 0|1

Builds the library and the benchmark from source (perfbench/build.py),
generates the seeded inputs (perfbench/gen.py, cached per seed under
perfbench/out/inputs), runs the workload in one JVM at local[4], checks
its outputs and prints one JSON line last:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones from a traced pass. Everything else (the run record, the
input properties, the per-metric listing, the span file) goes to stderr
and to perfbench/out/runs/<workload>/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("curate", "ingest")
# open-loop arrival rate of the ingest workload (message files per
# second): below half the closed-loop capacity measured when the
# benchmark was defined (see README.md)
INGEST_RATE = 8.0
# a seed to confirm a claimed gain on, not used while tuning
HELD_OUT_SEED = 7177
HEAP = "4g"
# a fixed young generation keeps collections frequent, so the peak heap
# occupancy seen right after a collection tracks the peak live set instead
# of depending on when an adaptively sized eden happened to fill
YOUNG = "384m"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

UNITS = {"setup_s": "s", "docs_per_s": "docs/s", "lat_p50_ms": "ms", "lat_p90_ms": "ms",
         "heap_peak_mb": "MB"}
# per-layer metrics: (name, unit); every run emits all of them, a layer a
# workload does not exercise reads 0
PER_LAYER = [
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.task_busy_s", "s"),
    ("spark.sched_wait_s", "s"), ("spark.gc_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.driver_gap_s", "s"),
    ("spark.failed_tasks", "count"),
    ("sql.graft.norm_quality.self_s", "s"), ("sql.graft.minhash_shingles.self_s", "s"),
    ("util.Lineage.sever.self_s", "s"), ("util.Lineage.sever.mb", "MB"),
    ("dedup.minhashLshPairsOn.self_s", "s"), ("dedup.minhashLshPairsOn.candidates", "count"),
    ("dedup.minhashLshPairsOn.pairs", "count"), ("dedup.minhashLshPairsOn.precision", "ratio"),
    ("dedup.connectedComponents.self_s", "s"), ("dedup.connectedComponents.jobs", "count"),
    ("corpus.decontaminateOn.self_s", "s"), ("sampling.mixToTarget.self_s", "s"),
    ("corpus.packSequences.self_s", "s"), ("corpus.packSequences.fill", "ratio"),
    ("dedup.fuzzySpans.self_s", "s"), ("dedup.fuzzySpans.window_candidates", "count"),
    ("dedup.fuzzySpans.window_pairs", "count"), ("dedup.fuzzySpans.precision", "ratio"),
    ("text.word_freq.self_s", "s"),
    ("text.Bpe.learnMerges.self_s", "s"), ("text.Bpe.learnMerges.jobs", "count"),
    ("text.Bpe.learnMerges.ms_per_merge", "ms"), ("text.Bpe.learnMerges.driver_gap_s", "s"),
    ("sql.graft.bpe_encode.self_s", "s"),
    ("tokenize.learn_s", "s"), ("tokenize.encode_tokens_per_s", "tokens/s"),
    ("spark.stream.trigger_ms", "ms"), ("spark.stream.planning_ms", "ms"),
    ("spark.stream.offsets_ms", "ms"), ("spark.stream.jobs_per_batch", "count"),
    ("confluent.from_confluent_avro.ms", "ms"), ("confluent.to_confluent_avro.ms", "ms"),
    ("registry.lookups_per_batch", "count"),
    ("dedup.incrementalExact.ms", "ms"), ("dedup.incrementalExact.dup_share", "ratio"),
    ("sql.graft.cloud.commit.ms", "ms"), ("sql.graft.cloud.commits", "count"),
    ("bench.gen_lag_ms", "ms"),
    ("bench.untraced_pass_s", "s"), ("bench.traced_pass_s", "s"),
    ("bench.trace_overhead", "ratio"), ("bench.uncovered_s", "s"),
]
PACK_BUDGET = 1024


class RunError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def git_head(root):
    """HEAD commit of the checkout, read from .git when there is one."""
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            ref = os.path.join(root, ".git", head[5:])
            if os.path.exists(ref):
                return open(ref).read().strip()
            packed = os.path.join(root, ".git", "packed-refs")
            for line in open(packed):
                if line.strip().endswith(" " + head[5:]):
                    return line.split()[0]
            return "unknown"
        return head
    except OSError:
        return "unknown"


def run_jvm(cp, workload, inputs, work, seconds, trace, deadline):
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
        "-XX:G1HeapRegionSize=16m",
        "-Dspark.ui.enabled=false", "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--inputs", inputs, "--work", work,
        "--seconds", str(seconds), "--trace", str(trace), "--rate", str(INGEST_RATE)]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RunError("benchmark JVM timed out")
        finally:
            if p.poll() is None:  # timed out or interrupted: never leave it running
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = [ln for ln in f.read().splitlines() if " INFO " not in ln][-30:]
        raise RunError(f"benchmark JVM exited {rc}:\n" + "\n".join(tail))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def batch_checks(res, work, inputs):
    checks = [(name, inputs, res["oracle_sql"][name]) for name in res["outputs"]]
    bad = oracle.check_outputs(os.path.join(work, "out"), checks)
    attempted = res["operations"] + len(checks)
    failed = res["mismatches"] + len(bad)
    if bad:
        log("oracle mismatch:", ", ".join(bad))
    return attempted, failed


def ingest_checks(res, inputs):
    sessions = res["sessions"]
    schemas = {int(k): json.loads(v) for k, v in res["out_schemas"].items()}
    attempted = failed = 0
    first = 0
    out = {}
    for name, s in sessions.items():
        a, f, file_batch, committed = oracle.check_ingest(inputs, s, first, schemas)
        first += len(s["due"])
        attempted += a
        failed += f
        out[name] = (file_batch, committed)
    return attempted, failed, out


def per_layer(res, workload):
    m = {name: 0.0 for name, _ in PER_LAYER}
    window = res["window"]
    jobs, spans = res["jobs"], res["spans"]
    m.update(metrics.engine_metrics(jobs, window))
    layers, uncovered = metrics.layer_metrics(spans, jobs, window)
    c = res["counters"]
    for name, v in layers.items():
        if name + ".self_s" in m:
            m[name + ".self_s"] = v["self_s"]
        if name + ".jobs" in m:
            m[name + ".jobs"] = v["jobs"]
        if name + ".driver_gap_s" in m:
            m[name + ".driver_gap_s"] = v["driver_gap_s"]
    for k, v in c.items():
        if k in m:
            m[k] = v
    m["bench.uncovered_s"] = uncovered
    traced_s = (window[1] - window[0]) / 1e9
    m["bench.traced_pass_s"] = traced_s
    if workload == "curate":
        base = res["passes"][0]
        m["bench.untraced_pass_s"] = base["wall_ns"] / 1e9
        if c.get("dedup.minhashLshPairsOn.candidates"):
            m["dedup.minhashLshPairsOn.precision"] = (
                c["dedup.minhashLshPairsOn.pairs"] / c["dedup.minhashLshPairsOn.candidates"])
        if c.get("dedup.fuzzySpans.window_candidates"):
            m["dedup.fuzzySpans.precision"] = (
                c["dedup.fuzzySpans.window_pairs"] / c["dedup.fuzzySpans.window_candidates"])
        m["text.Bpe.learnMerges.ms_per_merge"] = (
            layers["text.Bpe.learnMerges"]["total_s"] * 1000 / c["text.Bpe.learnMerges.merges"])
        ph = res["traced_pass"]["phases"]
        m["tokenize.learn_s"] = ph["learn"] / 1e9
        m["tokenize.encode_tokens_per_s"] = c["corpus.packSequences.tokens"] / (
            ph["encode"] / 1e9)
        m["corpus.packSequences.fill"] = c["corpus.packSequences.tokens"] / (
            c["corpus.packSequences.seqs"] * PACK_BUDGET)
    else:
        s = res["sessions"]
        m["bench.untraced_pass_s"] = s["steady"]["wall_ns"] / 1e9
        batches = [p for p in res["progress"] if p["rows"] > 0] or res["progress"]
        n = max(1, len(batches))

        def med(key):
            return statistics.median([p["durations"].get(key, 0) for p in batches] or [0])
        m["spark.stream.trigger_ms"] = med("triggerExecution")
        m["spark.stream.planning_ms"] = med("queryPlanning")
        m["spark.stream.offsets_ms"] = statistics.median(
            [sum(p["durations"].get(k, 0) for k in ("latestOffset", "walCommit", "commitOffsets"))
             for p in batches] or [0])
        m["spark.stream.jobs_per_batch"] = len(jobs) / n
        m["registry.lookups_per_batch"] = res["registry_lookups"] / n
        m["sql.graft.cloud.commits"] = res["commits"]
        for span, key in (("confluent.from_confluent_avro", "confluent.from_confluent_avro.ms"),
                          ("confluent.to_confluent_avro", "confluent.to_confluent_avro.ms"),
                          ("dedup.incrementalExact", "dedup.incrementalExact.ms"),
                          ("sql.graft.cloud.commit", "sql.graft.cloud.commit.ms")):
            durs = [(x["end"] - x["start"]) / 1e6 for x in spans if x["name"] == span]
            m[key] = statistics.median(durs) if durs else 0.0
        if c.get("dedup.incrementalExact.rows"):
            m["dedup.incrementalExact.dup_share"] = (
                c["dedup.incrementalExact.dups"] / c["dedup.incrementalExact.rows"])
        tr = s["traced"]
        m["bench.gen_lag_ms"] = statistics.median(
            [(a - d) / 1e6 for a, d in zip(tr["landed"], tr["due"])])
    m["bench.trace_overhead"] = m["bench.traced_pass_s"] / m["bench.untraced_pass_s"] - 1
    return m


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.time()
    root = os.path.dirname(HERE)
    cp = build.build()
    inputs = os.path.join(HERE, "out", "inputs", f"seed-{a.seed}-{gen.version()}")
    meta = gen.write_inputs(a.seed, inputs)
    work = os.path.join(HERE, "out", "runs", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, a.workload, inputs, work, a.seconds, a.trace, start + JVM_TIMEOUT_S)
    if a.workload == "ingest":
        attempted, failed, sessions = ingest_checks(res, inputs)
        file_batch, committed = sessions["steady"]
        lat = metrics.file_latencies(res["sessions"]["steady"], file_batch)
        e2e = metrics.ingest_end_to_end(res, lat, committed)
    else:
        attempted, failed = batch_checks(res, work, inputs)
        e2e = metrics.batch_end_to_end(res)
    if a.trace:
        values = per_layer(res, a.workload)
        units = dict(PER_LAYER)
        with open(os.path.join(work, "spans.json"), "w") as f:
            json.dump({"spans": res["spans"], "jobs": res["jobs"],
                       "counters": res["counters"]}, f)
    else:
        values, units = e2e, UNITS
    record = {k: res.get(k) for k in (
        "cores", "heap_max_mb", "heap_init_mb", "gc_collector", "region_size_mb",
        "pf_gbps_pre", "pf_gbps_post", "spark_version", "java_version")}
    record.update({"git_head": git_head(root), "seed": a.seed, "workload": a.workload,
                   "traced": bool(a.trace), "seconds": a.seconds,
                   "held_out_seed": HELD_OUT_SEED, "inputs": meta["properties"],
                   "error_rate": failed / attempted, "wall_s": time.time() - start})
    if a.workload == "ingest":
        record.update({"ingest_rate_files_per_s": INGEST_RATE,
                       "latency_samples": len(lat),
                       "latency_top_percentile": metrics.reportable_percentile(len(lat))})
    with open(os.path.join(work, "record.json"), "w") as f:
        json.dump({"record": record, "metrics": values}, f, indent=1)
    log(json.dumps({"record": record}))
    for k, v in values.items():
        log(f"  {k:45s} {v:16.4f} {units[k]}")
    print(result_line(attempted, failed, values, units))
    return 0


def result_line(attempted, failed, values, units):
    return json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()}})


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main(sys.argv[1:]))
    except (build.BuildError, RunError, OSError) as e:
        log(f"perfbench: {e}")
        sys.exit(2)
