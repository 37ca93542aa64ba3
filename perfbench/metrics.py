"""Turn one benchmark JVM's raw record (result.json) into metrics.

Pure functions over plain data, so the self-tests can pin them.
"""
import statistics

# the percentiles a latency may be reported at, highest first
PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def quantile(values, p):
    """Linear-interpolated p-th percentile (0 <= p <= 100)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n):
    """The highest percentile with at least ten samples beyond it, or None."""
    for p in PERCENTILES:
        if n * round(1000 - p * 10) >= 10 * 1000:  # n * (100 - p) / 100 >= 10
            return p
    return None


def union_length(intervals):
    """Total length covered by (start, end) intervals, overlaps counted once."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Span id -> duration minus the part of it its children cover (ns).

    Children may overlap each other (spans from several threads); the
    covered part is the union of their intervals clipped to the parent."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                 for c in children.get(s["id"], [])]
        out[s["id"]] = (s["end"] - s["start"]) - union_length(cover)
    return out


def span_jobs(jobs):
    """Span id -> list of its jobs (jobs carry the span's job group)."""
    out = {}
    for j in jobs:
        g = j["group"]
        if g.startswith("span-"):
            out.setdefault(int(g[5:]), []).append(j)
    return out


def engine_metrics(jobs, window):
    """spark.* metrics over all jobs of a traced pass."""
    t0, t1 = window
    busy = union_length([(max(j["start"], t0), min(j["end"], t1)) for j in jobs])
    return {
        "spark.jobs": len(jobs),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_busy_s": sum(j["busy_ns"] for j in jobs) / 1e9,
        "spark.sched_wait_s": sum(j["wait_ns"] for j in jobs) / 1e9,
        "spark.gc_s": sum(j["gc_ns"] for j in jobs) / 1e9,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / 1e6,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / 1e6,
        "spark.spill_mb": sum(j["spill"] for j in jobs) / 1e6,
        "spark.driver_gap_s": ((t1 - t0) - busy) / 1e9,
        "spark.failed_tasks": sum(j["failed_tasks"] for j in jobs),
    }


def layer_metrics(spans, jobs, window):
    """Per span name: self_s, total_s, calls, jobs and driver_gap_s (the
    part of the span's own time with none of its jobs running)."""
    selfs = self_times(spans)
    by_span = span_jobs(jobs)
    out = {}
    for s in spans:
        m = out.setdefault(s["name"], {"self_s": 0.0, "total_s": 0.0, "calls": 0,
                                       "jobs": 0, "driver_gap_s": 0.0})
        own = by_span.get(s["id"], [])
        m["self_s"] += selfs[s["id"]] / 1e9
        m["total_s"] += (s["end"] - s["start"]) / 1e9
        m["calls"] += 1
        m["jobs"] += len(own)
        covered = union_length([(max(j["start"], s["start"]), min(j["end"], s["end"]))
                                for j in own])
        m["driver_gap_s"] += (selfs[s["id"]] - covered) / 1e9
    top = [(max(s["start"], window[0]), min(s["end"], window[1]))
           for s in spans if s["parent"] == -1]
    uncovered = ((window[1] - window[0]) - union_length(top)) / 1e9
    return out, uncovered


def batch_end_to_end(res):
    """End-to-end metrics of an untraced curate/tokenize run."""
    walls = [p["wall_ns"] / 1e9 for p in res["passes"]]
    docs = res["docs"]
    # every document of a pass is offered at its start and done at its end
    lat = [w * 1000.0 for w in walls for _ in range(docs)]
    return {
        "setup_s": res["setup_s"],
        "docs_per_s": docs / statistics.median(walls),
        "lat_p50_ms": quantile(lat, 50),
        "lat_p90_ms": quantile(lat, 90),
        "heap_peak_mb": res["heap_peak_mb"],
    }


def file_latencies(session, file_batch):
    """Per offered file: commit time of its micro-batch minus when it was
    due (ms); None for a file that never committed."""
    commits = {int(k): v for k, v in session["commits"].items()}
    out = []
    for i, due in enumerate(session["due"]):
        b = file_batch.get(i)
        out.append(None if b is None or b not in commits else (commits[b] - due) / 1e6)
    return out


def ingest_end_to_end(res, latencies, committed_docs):
    done = [x for x in latencies if x is not None]
    s = res["sessions"]["steady"]
    span_s = (max(int(v) for v in s["commits"].values()) - s["due"][0]) / 1e9
    return {
        "setup_s": res["setup_s"],
        "docs_per_s": committed_docs / span_s,
        "lat_p50_ms": quantile(done, 50),
        "lat_p90_ms": quantile(done, 90),
        "heap_peak_mb": res["heap_peak_mb"],
    }
