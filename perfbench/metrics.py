"""Metric arithmetic of the benchmark: percentiles, self times, and the
end-to-end and per-layer metrics derived from the JVM program's raw result."""
import math
import statistics

# Percentiles a tail metric may take, highest last.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n, p):
    """Samples strictly above the nearest-rank p-th percentile of n samples."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(n):
    """Highest ladder percentile with at least ten samples beyond it, or
    None when even the median has fewer."""
    ok = [p for p in LADDER if beyond(n, p) >= 10]
    return ok[-1] if ok else None


def median(values):
    return statistics.median(values) if values else 0.0


def covered(intervals, lo, hi):
    """Length of the union of (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
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


def self_ns(span, spans):
    """A span's duration minus the part of it its child spans cover."""
    kids = [(c["start_ns"], c["end_ns"]) for c in spans if c["parent"] == span["id"]]
    return (span["end_ns"] - span["start_ns"]) - covered(kids, span["start_ns"], span["end_ns"])


def span_sums(spans, traces, name, self_time=False):
    """Per trace (pass), total seconds of the spans called `name`."""
    out = []
    for t in traces:
        total = 0
        for s in spans:
            if s["trace"] == t and s["name"] == name:
                total += self_ns(s, spans) if self_time else s["end_ns"] - s["start_ns"]
        out.append(total / 1e9)
    return out


def warm(passes):
    return [p for p in passes if p["phase"] == "warm"]


def error_rate(meas):
    att = sum(p["attempted"] for p in meas["passes"])
    return sum(p["failed"] for p in meas["passes"]) / att


# A warm pass is too short to be steady from run to run on a shared 4-core
# host (10-run spread up to 26%), so warm_s is reported beside these, not
# among them.
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "heap_peak_mb": "MB", "stored_bytes_ratio": "ratio"}
# End-to-end metrics whose tracing overhead a traced run reports.
OVERHEAD = tuple(E2E_UNITS)


def end_to_end(meas, setup_s):
    """The metrics every workload reports, from one measurement."""
    passes = meas["passes"]
    return {
        "setup_s": setup_s,
        "cold_s": passes[0]["wall_s"],
        "heap_peak_mb": meas["heap_peak_mb"],
        "stored_bytes_ratio": meas["stored_bytes"] / meas["input_bytes"],
    }


def query_latencies(passes):
    return [q["body_s"] + q["exec_s"] for p in warm(passes) for q in p["queries"] if q["ok"]]


def batch_latencies(meas):
    return [b["trigger_ms"] for b in meas.get("batches", [])]


def tail_metric(prefix, lat, unit):
    """p90 when at least ten samples lie beyond it, else the highest
    percentile above the median that has ten beyond it, else nothing."""
    tail = 90.0 if beyond(len(lat), 90) >= 10 else tail_percentile(len(lat))
    if not tail or tail <= 50:
        return {}
    return {"%s_p%g_%s" % (prefix, tail, unit): (percentile(lat, tail), unit, len(lat))}


def lane(workload, meas):
    """The workload's own metrics, with the sample count behind each
    percentile: name -> (value, unit, samples or None)."""
    passes, w = meas["passes"], warm(meas["passes"])
    out = {"error_rate": (error_rate(meas), "ratio", None),
           "warm_s": (median([p["wall_s"] for p in w]), "s", len(w))}
    if workload == "trips":
        out["ingest_s"] = (median([p["batch"]["ingest_s"] for p in w]), "s", len(w))
        out["transform_s"] = (median([p["batch"]["transform_s"] for p in w]), "s", len(w))
        out["stream_rows_per_s"] = (median([p["stream"]["rows"] / p["stream"]["wall_s"] for p in w]),
                                    "rows/s", len(w))
        lat = batch_latencies(meas)
        out["microbatch_p50_ms"] = (percentile(lat, 50), "ms", len(lat))
        out.update(tail_metric("microbatch", lat, "ms"))
    elif workload == "queries":
        lat = query_latencies(passes)
        out["query_p50_s"] = (percentile(lat, 50), "s", len(lat))
        out.update(tail_metric("query", lat, "s"))
        out["artifact_mb"] = (meas["stored_bytes"] / 1048576.0, "MB", None)
    return out


EXEC_KEYS = ("jobs", "stages", "tasks", "single_task_stages", "run_s", "cpu_s",
             "gc_s", "busy_ratio", "shuffle_write_bytes", "shuffle_read_bytes",
             "spill_bytes", "input_bytes", "output_bytes", "max_task_skew")
STREAM_KEYS = ("add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_ms",
               "latest_offset_ms")
VIEWS = ("companies_pickup", "pickup", "companies_dropoff", "dropoff")


def per_layer_names():
    """Every per-layer metric with its unit; a workload that does not run
    a layer reports that layer's metrics as 0."""
    names = {"error_rate": "ratio", "warm_s": "s"}
    for n in ("scan_s", "clean_self_s", "write_self_s", "prepare_s", "transform_self_s",
              "ingest_s", "transform_s"):
        names["taxi." + n] = "s"
    for v in VIEWS:
        names["taxi.view.%s_s" % v] = "s"
    for n in ("cache_mem_bytes", "cache_disk_bytes", "bytes_written"):
        names["taxi." + n] = "bytes"
    for n in ("rows_read", "rows_dropped", "rows_written", "files_written"):
        names["taxi." + n] = "count"
    for b in ("enriched", "archive"):
        for k in STREAM_KEYS:
            names["stream.%s.%s" % (b, k)] = "ms"
    names.update({"stream.batches": "count", "stream.rows_per_batch": "count",
                  "stream.files_written": "count", "stream.rows_per_s": "rows/s",
                  "stream.microbatch_p50_ms": "ms", "stream.microbatch_tail_ms": "ms",
                  "stream.tail_percentile": "pct"})
    for n in ("body_cold_s", "body_warm_s", "exec_warm_s", "query_p50_s", "query_tail_s"):
        names["queries." + n] = "s"
    names["queries.body_jobs_warm"] = "count"
    names["queries.tail_percentile"] = "pct"
    for n in ("analysis_s", "optimization_s", "planning_s"):
        names["plans." + n] = "s"
    names.update({"operators.build_s": "s", "operators.artifacts_built_cold": "count",
                  "operators.artifacts_built_warm": "count",
                  "operators.artifact_files": "count", "operators.artifact_mb": "MB"})
    for phase in ("cold", "warm"):
        for k in EXEC_KEYS:
            unit = ("s" if k.endswith("_s") else "bytes" if k.endswith("_bytes")
                    else "ratio" if k in ("busy_ratio", "max_task_skew") else "count")
            names["exec.%s.%s" % (phase, k)] = unit
    for m in OVERHEAD:
        names["overhead." + m] = E2E_UNITS[m]
    return names


def per_layer(workload, meas, spans, cores):
    """Per-layer metrics of a traced run."""
    out = {k: 0.0 for k in per_layer_names()}
    passes, w = meas["passes"], warm(meas["passes"])
    nw = max(len(w), 1)
    out["error_rate"] = error_rate(meas)
    out["warm_s"] = median([p["wall_s"] for p in w])
    traces = sorted({s["trace"] for s in spans if s["name"] == "pass.warm"})

    def med(name, self_time=False):
        return median(span_sums(spans, traces, name, self_time))

    if workload == "trips":
        ingest = span_sums(spans, traces, "taxi.ingest")
        scan = span_sums(spans, traces, "taxi.scan")
        clean = span_sums(spans, traces, "taxi.clean")
        out["taxi.scan_s"] = median(scan)
        out["taxi.clean_self_s"] = median([c - s for c, s in zip(clean, scan)])
        out["taxi.write_self_s"] = median([i - c for i, c in zip(ingest, clean)])
        out["taxi.prepare_s"] = med("taxi.prepare")
        out["taxi.transform_self_s"] = med("taxi.transform", self_time=True)
        out["taxi.ingest_s"] = median(ingest)
        out["taxi.transform_s"] = med("taxi.transform")
        for v in VIEWS:
            out["taxi.view.%s_s" % v] = med("taxi.view." + v)
        for k, v in meas.get("taxi", {}).items():
            out["taxi." + k] = v
        batches = meas.get("batches", [])
        for b in ("enriched", "archive"):
            mine = [x for x in batches if x["branch"] == b]
            for k in STREAM_KEYS:
                out["stream.%s.%s" % (b, k)] = median([x[k] for x in mine])
        out["stream.batches"] = median([p["stream"]["batches"] for p in passes])
        out["stream.rows_per_batch"] = median([x["rows"] for x in batches])
        out["stream.files_written"] = meas.get("files_written", 0)
        lane_m = lane(workload, meas)
        out["stream.rows_per_s"] = lane_m["stream_rows_per_s"][0]
        out["stream.microbatch_p50_ms"] = lane_m["microbatch_p50_ms"][0]
        lat = batch_latencies(meas)
        tail = tail_percentile(len(lat)) or 50.0
        out["stream.microbatch_tail_ms"] = percentile(lat, tail)
        out["stream.tail_percentile"] = tail
    elif workload == "queries":
        cold = passes[0]["queries"]
        out["queries.body_cold_s"] = sum(q["body_s"] for q in cold if q["ok"])
        out["queries.body_warm_s"] = median([sum(q["body_s"] for q in p["queries"] if q["ok"]) for p in w])
        out["queries.exec_warm_s"] = median([sum(q["exec_s"] for q in p["queries"] if q["ok"]) for p in w])
        lat = query_latencies(passes)
        out["queries.query_p50_s"] = percentile(lat, 50)
        tail = tail_percentile(len(lat)) or 50.0
        out["queries.query_tail_s"] = percentile(lat, tail)
        out["queries.tail_percentile"] = tail
        warm_body = {}
        for p in w:
            for q in p["queries"]:
                if q["ok"]:
                    warm_body.setdefault(q["name"], []).append(q["body_s"])
        out["operators.build_s"] = sum(q["body_s"] - median(warm_body[q["name"]])
                                       for q in cold if q["ok"] and q["name"] in warm_body)
        for k, v in meas.get("operators", {}).items():
            out["operators." + k] = v
        out["operators.artifact_mb"] = meas["stored_bytes"] / 1048576.0
        plans = meas.get("plans", {}).get("exec.warm", {})
        for k in ("analysis", "optimization", "planning"):
            out["plans.%s_s" % k] = plans.get(k, 0.0) / nw
        out["queries.body_jobs_warm"] = meas["exec"]["phases"].get("warm", {}).get("body_jobs", 0) / nw
    phases = meas.get("exec", {}).get("phases", {})
    for phase, group in (("cold", passes[:1]), ("warm", w)):
        c = phases.get(phase, {})
        n = max(len(group), 1)
        wall = sum(p["wall_s"] for p in group)
        for k in EXEC_KEYS:
            if k == "busy_ratio":
                out["exec.%s.busy_ratio" % phase] = c.get("run_s", 0.0) / (wall * cores) if wall else 0.0
            elif k == "max_task_skew":
                out["exec.%s.max_task_skew" % phase] = c.get(k, 0.0)
            else:
                out["exec.%s.%s" % (phase, k)] = c.get(k, 0) / n
    return out
