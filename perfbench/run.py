"""The repository's benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Workloads:

- ``trips``: the paper's lambda pipeline. Each pass runs the batch lane
  (``IngestHistoricJob.run`` over seeded raw-trips CSV, then
  ``TransformJob.run`` into a ``ParquetSink`` for every year) and then
  drains the stream lane (the same generator's producer JSON lines as a
  file backlog through ``StreamingJob`` parse -> clean, fanned out to the
  enriched branch and the Parquet archive).
- ``queries``: a stratified subset of ``QueryRegistry`` over the sf0.01
  tables in ``data/``: one cold pass on a fresh artifact root and tmpdir,
  then warm passes, in an order drawn from the seed. ``data/`` holds a copy
  of the synthetic test tables that TESTDATA.md describes, so that a run
  reads nothing outside its checkout.

The run builds the engine with ``build.py`` when its sources changed,
generates inputs, and drives a JVM (``scala/perfbench/Main.scala``). It
prints every metric with its unit, then one JSON line. With ``--trace 0``
that line holds the end-to-end metrics. With ``--trace 1`` the JVM
registers listeners and keeps spans (written to ``.bench_build/traces``),
and the line holds the per-layer metrics, including the tracing overhead
against untraced runs recorded in ``.bench_build/results`` (the same
seed's, else the median over seeds), or against an untraced run made
first. A wrong output makes ``correct`` false and the exit code 1.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = build.ROOT
RUN = os.path.join(build.OUT, "run")
DATA = os.path.join(HERE, "data")
DEADLINE_S = 170
# Set-up steps that can be repeated inside one run are repeated this many
# times and their median reported, so setup_s is steady.
SETUP_REPEATS = 3
HEAP = "2g"

# Input sizes: a trips pass ingests and transforms `rows` CSV rows, then
# drains the same rows as `files` JSON-lines files, one file per
# micro-batch; queries takes every `stride`-th registered query plus the
# rule anchors.
WORKLOADS = {
    "trips": {"rows": 6000, "files": 5},
    "queries": {"stride": 40},
}

E2E_UNITS = metrics.E2E_UNITS


def generate(seed, out):
    """Writes the seeded trips inputs; returns (manifest, seconds)."""
    size = WORKLOADS["trips"]
    t0 = time.perf_counter()
    manifest = gen.generate(out, seed, size["rows"], size["files"])
    return manifest, time.perf_counter() - t0


def tree_sha(path):
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(base, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def java_cmd(cp, args, tmp):
    opens = ["--add-opens=%s=ALL-UNNAMED" % m for m in build.ADD_OPENS]
    return (["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-Djava.io.tmpdir=" + tmp] + opens
            + ["-cp", cp, "perfbench.Main"] + ["%s=%s" % kv for kv in args.items()])


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=RUN,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            if isinstance(e, subprocess.TimeoutExpired):
                raise SystemExit("benchmark JVM passed the run's %.0f s deadline" % DEADLINE_S)
            raise


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def measure(a, cp, inp, trace, deadline):
    """Runs the JVM once; returns its raw result and its launch time."""
    cores = len(os.sched_getaffinity(0))
    result_path = os.path.join(RUN, "result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    shutil.rmtree(os.path.join(RUN, "work"), ignore_errors=True)
    args = {"workload": a.workload, "input": inp, "work": os.path.join(RUN, "work"),
            "seconds": a.seconds, "trace": trace, "seed": a.seed, "cores": cores,
            "result": result_path, "spans": spans_path(a), "data": DATA,
            "stride": WORKLOADS["queries"]["stride"],
            "years": ",".join(str(y) for y in gen.YEARS)}
    log = os.path.join(RUN, "jvm.log")
    launched = time.time()
    code = run_jvm(java_cmd(cp, args, os.path.join(RUN, "jvm-tmp")), log, deadline - launched)
    if code != 0 or not os.path.exists(result_path):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit("benchmark JVM failed (exit %d)" % code)
    with open(result_path) as f:
        return json.load(f), launched


def spans_path(a):
    return os.path.join(build.OUT, "traces", "%s-seed%d.json" % (a.workload, a.seed))


def record_path(a, trace):
    return os.path.join(build.OUT, "results", "%s-seed%d-trace%d.json" % (a.workload, a.seed, trace))


def untraced_base(a, cp, inp, deadline, gen_s):
    """End-to-end metrics of untraced runs of the same sources: the record
    of this seed's untraced run in this build directory, else the medians
    over every recorded seed, else a fresh untraced run made now."""
    sources = open(build.STAMP).read()
    recs = []
    for name in sorted(os.listdir(os.path.join(build.OUT, "results"))):
        if name.startswith(a.workload + "-seed") and name.endswith("-trace0.json"):
            with open(os.path.join(build.OUT, "results", name)) as f:
                rec = json.load(f)
            if rec.get("sources") == sources:
                recs.append(rec)
    same = [r for r in recs if r["seed"] == a.seed]
    if same:
        return same[0]["e2e"], "untraced run of this seed"
    if recs:
        return ({m: metrics.median([r["e2e"][m] for r in recs]) for m in metrics.E2E_UNITS},
                "median of %d untraced runs of other seeds" % len(recs))
    raw, launched = measure(a, cp, inp, 0, deadline)
    return metrics.end_to_end(raw["measurement"], metrics.median(gen_s) + raw["first_op_ms"] / 1000.0
                              - launched), "untraced run made before this one"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build.build()
    deadline = time.time() + DEADLINE_S
    shutil.rmtree(RUN, ignore_errors=True)
    for d in ("input", "jvm-tmp"):
        os.makedirs(os.path.join(RUN, d))
    inp = os.path.join(RUN, "input")
    for d in ("results", "traces"):
        os.makedirs(os.path.join(build.OUT, d), exist_ok=True)

    # set-up part 1: input generation, repeated; every repeat must write
    # byte-identical files
    manifest, gen_s, shas = {}, [], set()
    if a.workload == "trips":
        for _ in range(SETUP_REPEATS):
            manifest, s = generate(a.seed, inp)
            gen_s.append(s)
            shas.add(tree_sha(inp))
    base = None
    if a.trace:
        base, base_from = untraced_base(a, cp, inp, deadline, gen_s)
    # set-up part 2: JVM and session start, up to the first timed call
    raw, launched = measure(a, cp, inp, a.trace, deadline)
    meas = raw["measurement"]
    cores = raw["cores"]
    setup_s = metrics.median(gen_s) + raw["first_op_ms"] / 1000.0 - launched

    # output checks, outside the timed region
    found = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    if a.workload == "trips":
        found.append(("generator_deterministic", len(shas) == 1,
                      "%d distinct input hashes over %d repeats" % (len(shas), SETUP_REPEATS)))
        found += checks.trips_match(inp, gen.YEARS, raw["outputs"], manifest["inner_join_rows"])
    else:
        found += checks.digests_match(raw["digests"], os.path.join(build.OUT, "query_digests.json"))
    attempted = sum(p["attempted"] for p in meas["passes"])
    failed = sum(p["failed"] for p in meas["passes"])
    correct = failed == 0 and all(ok for _, ok, _ in found)

    e2e = metrics.end_to_end(meas, setup_s)
    lane = metrics.lane(a.workload, meas)
    sources = open(build.STAMP).read()
    print("perfbench %s seed=%d seconds=%g trace=%d" % (a.workload, a.seed, a.seconds, a.trace))
    print("config: nproc=%d heap_max_mb=%.0f commit=%s sources=%s" % (
        cores, raw["heap_max_mb"], git_commit(), sources[:12]))
    print("session: " + json.dumps(raw["session"], sort_keys=True))
    if raw["subset"]:
        print("queries (%d): %s" % (len(raw["subset"]), " ".join(raw["subset"])))
    print("setup: generation %.2f s (median of %d), jvm and session %.2f s" % (
        metrics.median(gen_s), len(gen_s), raw["first_op_ms"] / 1000.0 - launched))
    passes = meas["passes"]
    print("passes: %d (1 cold, %d warm), measured %.2f s%s" % (
        len(passes), len(passes) - 1, meas["measured_s"], ", traced" if a.trace else ""))
    for name, unit in E2E_UNITS.items():
        print("  %-22s %14.4f %s" % (name, e2e[name], unit))
    for name, (value, unit, n) in lane.items():
        print("  %-22s %14.4f %s%s" % (name, value, unit, "" if n is None else "  (n=%d)" % n))
    for name, ok, detail in found:
        if not ok:
            print("CHECK FAILED %s: %s" % (name, detail))
    print("checks: %d, failed %d; operations attempted %d, failed %d" % (
        len(found), sum(not ok for _, ok, _ in found), attempted, failed))

    if a.trace:
        with open(spans_path(a)) as f:
            spans = json.load(f)
        layer = metrics.per_layer(a.workload, meas, spans, cores)
        print("tracing overhead (this traced run - %s):" % base_from)
        for m in metrics.OVERHEAD:
            layer["overhead." + m] = e2e[m] - base[m]
            print("  %-22s %+12.4f %s (%+.1f%%)" % (
                m, layer["overhead." + m], E2E_UNITS[m], 100.0 * layer["overhead." + m] / base[m]))
        units = metrics.per_layer_names()
        print("per-layer metrics (spans in %s):" % os.path.relpath(spans_path(a), ROOT))
        for name in units:
            print("  %-36s %16.4f %s" % (name, layer[name], units[name]))
        out = {k: {"value": layer[k], "unit": units[k]} for k in units}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "nproc": cores,
              "commit": git_commit(), "sources": sources, "session": raw["session"],
              "heap_max_mb": raw["heap_max_mb"], "checks": found, "e2e": e2e,
              "lane": {k: v[0] for k, v in lane.items()}, "metrics": out}
    with open(record_path(a, a.trace), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
