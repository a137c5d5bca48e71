#!/usr/bin/env python3
"""graft benchmark: one workload run, from the repository root.

  python3 perfbench/run.py --workload query_serve --seed 1 --seconds 14 --trace 0
  python3 perfbench/run.py --selftest

Builds the engine and the harness if their sources changed (perfbench/build.py),
runs the harness JVM, checks its outputs and prints, as the last line of
standard output, one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
See perfbench/README.md for the workloads and every metric's definition.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
from stats import median, percentile, self_time_by_name  # noqa: E402

WORKLOADS = ("query_serve", "logs_ingest")
KINDS = ("ns", "pod", "pod_since", "both", "arrow", "limit_raw", "meta_count", "marker", "marker_root")
SELF_SPANS = ("setup.round", "GraftSession.local", "gen.corpus", "LogIngest.readCri",
              "LogIngest.writeHive", "LogIngest.writePositional", "ArrowLogWriter.writePositional",
              "LogStreamIngest.startStoreSink", "request", "LogQuery.dataFrame", "query.exec",
              "Maintenance.run")
RUN_LIMIT_S = 175      # a run's budget once the build is done
BUILD_LIMIT_S = 880    # a run that had to build first
# reads through the live store's root, as LogCli plans them: an open engine
# defect makes some fail (perfbench/README.md); counted on their own
ROOT_READ = "marker_root"


def p(values, q):
    return percentile(values, q) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def client_queries(raw):
    """Queries of the timed phases (not the warm-up or the catch-up probes)."""
    return [q for q in raw["queries"] if q["phase"] in ("window", "steady")]


# user-visible figures whose run-to-run spread on a shared host is too wide
# for an end-to-end bound (perfbench/README.md): reported per-layer
NOISY = ("query_p50_ms", "query_p95_ms", "queries_per_s", "ingest_lines_per_s", "freshness_p50_s",
         "freshness_p95_s")


def user_metrics(raw):
    """Every figure a user of the system sees, from one run's raw results."""
    qs = [q for q in raw["queries"] if q["phase"] == "window"]
    ok = [q["ms"] for q in qs if q["ok"]]
    window_start = raw["window_start_ms"]
    in_window = [q for q in qs if q["ok"] and q["end_ms"] <= raw["window_end_ms"]]
    fresh = raw["markers"]["freshness_s"]
    return {
        "setup_s": (median(raw["setup_s"]), "s"),
        "query_p50_ms": (p(ok, 50), "ms"),
        "query_p95_ms": (p(ok, 95), "ms"),
        "queries_per_s": (len(in_window) / ((raw["window_end_ms"] - window_start) / 1000.0), "1/s"),
        "ingest_lines_per_s": (raw["burst"]["lines"] / raw["burst"]["drain_s"]
                               if raw["burst"]["drain_s"] > 0 else 0.0, "lines/s"),
        "freshness_p50_s": (p(fresh, 50), "s"),
        "freshness_p95_s": (p(fresh, 95), "s"),
        "bytes_stored_per_input_byte": (raw["store"]["bytes"] / raw["store"]["input_bytes"], "ratio"),
        "rss_peak_mb": (raw["rss_peak_mb"], "MB"),
    }


def end_to_end(raw):
    return {k: v for k, v in user_metrics(raw).items() if k not in NOISY}


def per_layer(raw, spans):
    qs = client_queries(raw)
    m = {k: v for k, v in user_metrics(raw).items() if k in NOISY}

    def put(name, value, unit):
        m[name] = (value, unit)

    def durations(name):
        return [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == name]

    # session, set-up and ingest writers
    put("setup.cold_s", raw["setup_cold_s"], "s")
    put("GraftSession.start_ms", raw["session_ms"][0], "ms")
    put("GraftSession.restart_ms", median(raw["session_ms"][1:]), "ms")
    put("gen.corpus_ms", p(durations("gen.corpus"), 50), "ms")
    put("LogIngest.writeHive_ms", p(durations("LogIngest.writeHive"), 50), "ms")
    put("LogIngest.writePositional_ms", p(durations("LogIngest.writePositional"), 50), "ms")
    put("ArrowLogWriter.writePositional_ms", p(durations("ArrowLogWriter.writePositional"), 50), "ms")
    put("LogIngest.readCri.lines_per_s", raw["burst"]["readcri_lines_per_s"], "lines/s")
    # query plan and scan
    put("LogQuery.dataFrame.plan_ms", p([q["plan_ms"] for q in qs], 50), "ms")
    put("query.exec_ms", p([q["ms"] - q["plan_ms"] for q in qs], 50), "ms")
    for k in KINDS:
        ok = [q for q in qs if q["kind"] == k and q["ok"]]
        put("query.%s.ms" % k, p([q["ms"] for q in ok], 50), "ms")
        # which layer a kind exercises: plan time / total time
        total = sum(q["ms"] for q in ok)
        put("query.%s.plan_share" % k, sum(q["plan_ms"] for q in ok) / total if total else 0.0, "ratio")
    root = [q for q in qs if q["kind"] == ROOT_READ]
    put("live.root_reads", len(root), "count")
    put("live.root_read_errors", sum(1 for q in root if not q["ok"]), "count")
    put("spark.jobs_per_query", mean([q["jobs"] for q in qs]), "count")
    put("spark.tasks_per_query", mean([q["tasks"] for q in qs]), "count")
    put("scan.files_read", mean([q["files"] for q in qs]), "count")
    put("scan.bytes_read", mean([q["bytes_read"] for q in qs]), "bytes")
    put("scan.files_skipped_ratio",
        mean([1.0 - min(q["files"], q["snapshot_files"]) / q["snapshot_files"]
              for q in qs if q["snapshot_files"] > 0]), "ratio")
    rows = sum(q["rows"] for q in qs if q["kind"] != "meta_count")
    put("scan.rows_read_per_row_returned",
        sum(q["records_read"] for q in qs if q["kind"] != "meta_count") / rows if rows else 0.0, "ratio")
    meta = [q for q in qs if q["kind"] == "meta_count"]
    put("GraftMetadataAggregate.answered_ratio",
        sum(1 for q in meta if q["meta_answered"]) / len(meta) if meta else 0.0, "ratio")
    # micro-batches and commits
    batches = raw["stream"]["batches"]
    put("LogStreamIngest.batch_ms_p50", p([b["trigger_ms"] for b in batches], 50), "ms")
    put("LogStreamIngest.batch_ms_p95", p([b["trigger_ms"] for b in batches], 95), "ms")
    put("LogStreamIngest.latestOffset_ms", p([b["latest_offset_ms"] for b in batches], 50), "ms")
    put("LogStreamIngest.rows_per_batch", mean([b["rows"] for b in batches]), "count")
    put("LogStreamIngest.batches", len(batches), "count")
    put("gen.backlog_files_max", raw["backlog_files"], "count")
    put("gen.late_ms_max", raw["steady"]["late_ms_max"], "ms")
    put("AppendCommit.commit_ms_p50", p([b["add_batch_ms"] for b in batches], 50), "ms")
    put("AppendCommit.commit_ms_p95", p([b["add_batch_ms"] for b in batches], 95), "ms")
    put("AppendCommit.jobs_per_commit", raw["stream"]["jobs"] / len(batches) if batches else 0.0, "count")
    put("AppendCommit.files_per_commit", raw["commit_files"] / len(batches) if batches else 0.0, "count")
    put("AppendCommit.versions", raw["store"]["versions"], "count")
    # compaction
    maint = raw["maintenance"]
    put("Maintenance.run_s", p([(x["end_ms"] - x["start_ms"]) / 1000.0 for x in maint], 50), "s")
    put("Maintenance.runs", len(maint), "count")
    put("Maintenance.lease_retries", raw["maintenance_lease_retries"], "count")
    put("Compaction.bytes_rewritten", sum(x["bytes_rewritten"] for x in maint), "bytes")
    put("store.files_live", len(raw["store"]["file_bytes"]), "count")
    put("store.bytes_per_file_p50", p(raw["store"]["file_bytes"], 50), "bytes")
    during = [q["ms"] for q in qs if q["ok"] and any(
        q["start_ms"] < x["end_ms"] and q["end_ms"] > x["start_ms"] for x in maint)]
    put("query.during_maintain_p95_ms", p(during, 95), "ms")
    # spark totals
    sp = raw["spark"]
    for k, unit in (("task_cpu_s", "s"), ("task_run_s", "s"), ("gc_s", "s"),
                    ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                    ("jobs", "count"), ("tasks", "count")):
        put("spark." + k, sp[k], unit)
    put("spark.sql_actions", raw["actions"], "count")
    # self time per layer span, summed over the run
    st = self_time_by_name(spans)
    for name in SELF_SPANS:
        put("self_ms." + name, st.get(name, 0) / 1e6, "ms")
    # host window quality and sample sizes
    probes = raw["probe_ms"]["start"] + raw["probe_ms"]["end"]
    put("host.probe_ms", median(probes), "ms")
    put("host.probe_min_ms", min(probes), "ms")
    put("n.queries", len(qs), "count")
    put("n.markers", len(raw["markers"]["freshness_s"]), "count")
    return m


def check(raw):
    """(attempted, failed, messages) over every checked operation. Reads
    through the live root are left out; per_layer counts them."""
    qs = [q for q in raw["queries"] if q["kind"] != ROOT_READ]
    bad = [q for q in qs if not q["ok"]]
    msgs = ["%s: %s" % (q["kind"], q["error"]) for q in bad[:5]] + raw["failures"]
    # timed queries plus the failed warm-up and catch-up ones, every marker,
    # the burst drain, the store row count and the set-up rounds
    attempted = len(qs) + raw["markers"]["expected"] + 2 + len(raw["setup_s"])
    return attempted, len(bad) + len(raw["failures"]), msgs


def root_read_errors(raw):
    return ["%s: %s" % (q["kind"], q["error"]) for q in raw["queries"] if q["kind"] == ROOT_READ and not q["ok"]]


def metrics_json(m):
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def run_jvm(cp, args, run_dir, timeout):
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = "4"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_GRAFT_CONF"] = "spark.local.dir=%s;spark.sql.warehouse.dir=%s" % (
        tmp, os.path.join(run_dir, "warehouse"))
    cmd = ["java"] + [x for o in build.ADD_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Djava.io.tmpdir=" + tmp, "-cp", cp, "graftbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=run_dir, env=env,
                                start_new_session=True)

        def stop(signum, frame):
            raise SystemExit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            return proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # nothing the JVM started may outlive the run
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()


def tail(path, n=30):
    try:
        with open(path) as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def selftest():
    import unittest
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    if not unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful():
        return 1
    cp = build.ensure_built()
    run_dir = os.path.join(build.BUILD, "runs", "selftest-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    code = run_jvm(cp, ["selftest", os.path.join(run_dir, "work")], run_dir, RUN_LIMIT_S)
    sys.stderr.write(tail(os.path.join(run_dir, "jvm.err")))
    print(tail(os.path.join(run_dir, "jvm.out"), 1).strip())
    shutil.rmtree(run_dir, ignore_errors=True)
    return 0 if code == 0 else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    started = time.time()
    os.makedirs(build.BUILD, exist_ok=True)
    try:
        if a.selftest:
            return selftest()
        if not a.workload:
            ap.error("--workload is required")
        stamp_before = os.path.exists(build.STAMP) and open(build.STAMP).read()
        cp = build.ensure_built()
        built_now = stamp_before != open(build.STAMP).read()
    except build.BuildError as e:
        print("[bench] " + str(e), file=sys.stderr)
        return 2
    deadline = started + (BUILD_LIMIT_S if built_now else RUN_LIMIT_S)
    run_dir = os.path.join(build.BUILD, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result = os.path.join(run_dir, "result.json")
    spans_file = os.path.join(run_dir, "spans.jsonl")
    args = ["run", a.workload, str(a.seed), str(a.seconds), str(a.trace),
            os.path.join(run_dir, "work"), result] + ([spans_file] if a.trace else [])
    code = run_jvm(cp, args, run_dir, deadline - time.time())
    if code != 0 or not os.path.exists(result):
        print("[bench] harness %s; stderr tail:\n%s" % (
            "timed out" if code is None else "exited %s" % code, tail(os.path.join(run_dir, "jvm.err"))),
            file=sys.stderr)
        return 1
    with open(result) as fh:
        raw = json.load(fh)
    spans = []
    if a.trace:
        with open(spans_file) as fh:
            spans = [json.loads(line) for line in fh if line.strip()]
    attempted, failed, msgs = check(raw)
    for msg in msgs:
        print("[bench] FAIL " + msg, file=sys.stderr)
    for msg in root_read_errors(raw):
        print("[bench] live-root read failed (open engine defect) " + msg, file=sys.stderr)
    e2e = end_to_end(raw)
    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    probes = raw["probe_ms"]["start"] + raw["probe_ms"]["end"]
    print(json.dumps({"host_probe_ms": {"median": median(probes), "min": min(probes),
                                        "start": raw["probe_ms"]["start"], "end": raw["probe_ms"]["end"]}}))
    if a.trace:
        m = per_layer(raw, spans)
        m["failed_share"] = (failed / attempted, "ratio")
        print(json.dumps({"trace_overhead": overhead(results, a.workload, a.seed, e2e)}))
    else:
        m = e2e
        with open(os.path.join(results, "%s-seed%d.json" % (a.workload, a.seed)), "w") as fh:
            json.dump({k: v for k, (v, _) in e2e.items()}, fh)
    shutil.copyfile(os.path.join(run_dir, "jvm.err"), os.path.join(results, "last-%s-t%d.err" % (a.workload, a.trace)))
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics_json(m)}))
    return 0


def overhead(results, workload, seed, traced):
    """Traced minus untraced, per end-to-end metric: against the untraced run
    of the same seed when one exists here, else the median of all untraced
    runs of the workload."""
    same = os.path.join(results, "%s-seed%d.json" % (workload, seed))
    files = [same] if os.path.exists(same) else [
        os.path.join(results, f) for f in sorted(os.listdir(results)) if f.startswith(workload + "-seed")]
    if not files:
        return {"against": "no untraced run of %s in this checkout" % workload}
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    out = {"against": "seed %d" % seed if files == [same] else "median of %d untraced runs" % len(runs)}
    for k, (v, unit) in traced.items():
        base = median([r[k] for r in runs if k in r])
        out[k] = {"traced": v, "untraced": base, "delta": v - base, "unit": unit}
    return out


if __name__ == "__main__":
    sys.exit(main())
