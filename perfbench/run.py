"""The benchmark's one command.

    python3 perfbench/run.py --workload <trickle_mor|stream_neardup|all>
        --seed <n> --seconds <s> --trace <0|1> [--scale full|tiny]

Builds the engine and the benchmark from source (perfbench/build.py),
stages the seeded input once per (workload, seed, size), runs one JVM
(`local[4]`, one closed-loop client) for the workload, checks its outputs
against a DuckDB reference (perfbench/check.py) and prints one line per
metric, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. Everything
it writes goes under `.bench_build/` at the root of the checkout. See
perfbench/README.md for the workloads and every metric's definition."""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import check  # noqa: E402
import stage  # noqa: E402

WORKLOADS = ["trickle_mor", "stream_neardup"]
END_TO_END = [
    ("events_per_s", "1/s"), ("commit_ms_p50", "ms"), ("commit_ms_tail", "ms"),
    ("lookup_ms_p50", "ms"), ("lookup_ms_tail", "ms"), ("scan_ms_p50", "ms"),
    ("compact_s", "s"), ("setup_s", "s"),
]
PHASES = ["neardup", "stage_errors", "probe", "merge_cow", "merge_mor", "compact",
          "publish", "compact_full", "lookup", "scan"]
PHASE_METRICS = [("wall_ms", "ms"), ("jobs", "count"), ("task_ms", "ms"),
                 ("sched_wait_ms", "ms"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("input_bytes", "bytes"), ("output_bytes", "bytes"), ("failed_tasks", "count")]
PER_LAYER = [(f"{p}.{m}", u) for p in PHASES for m, u in PHASE_METRICS] + [
    ("conform_validate.ms_per_mevent", "ms/Mevent"), ("dedup_lww.ms_per_mevent", "ms/Mevent"),
    ("streaming.jobs_per_batch", "count"), ("streaming.driver_ms_per_batch", "ms"),
    ("streaming.overlap_ms_per_batch", "ms"), ("streaming.trigger_overhead_ms", "ms"),
    ("lookup.records_read_per_hit", "rows"), ("lookup.tasks", "count"),
    ("scan.records_read_per_live_row", "rows"),
    ("neardup.index_files_per_batch", "count"), ("neardup.flagged_frac", "ratio"),
    ("table.manifest_load_ms", "ms"), ("table.versions", "count"),
    ("table.delta_files", "count"), ("table.bytes_written_per_event", "bytes"),
    ("table.space_amp", "ratio"), ("jvm.gc_ms", "ms"), ("trace.overhead_pct", "%"),
]
# Per workload and scale: corpus replicas, every how many corpus docs to
# keep, batches per cycle, lookup keys per read, files per batch, table
# buckets. `full` is the benchmark; `tiny` is for its own smoke tests.
SIZES = {
    "full": {
        "trickle_mor": dict(replicas=1, every=2, batches=5, lookups=3, files=4, buckets=16),
        "stream_neardup": dict(replicas=1, every=2, batches=3, lookups=10, files=4, buckets=16),
    },
    "tiny": {w: dict(replicas=1, every=10, batches=3, lookups=2, files=2, buckets=4)
             for w in WORKLOADS},
}
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def tail(xs):
    """(value, percentile, sample count) of the tail: the highest
    nearest-rank percentile with at least ten samples beyond it; with
    fewer than 20 samples, where that rule would fall below the median,
    the nearest-rank p90."""
    s = sorted(xs)
    n = len(s)
    if n < 20:
        return s[math.ceil(0.9 * n) - 1], 90.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def sweep_stale(tmp_root):
    """Remove temp trees of earlier runs whose process is gone."""
    if not os.path.isdir(tmp_root):
        return
    for d in os.listdir(tmp_root):
        if not d.startswith("run-"):
            continue
        try:
            os.kill(int(d[4:]), 0)
            continue
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(tmp_root, d), ignore_errors=True)


def run_jvm(args, tmp, log_path, timeout, cds):
    """Run the engine JVM in its own process group; it is killed (and
    waited for) on timeout and when this process is stopped."""
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", cds,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main"] + args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"perfbench: engine run failed ({rc}); log at {log_path}")


def end_to_end(res):
    commit = res["commit_ms"]
    ct, cp, cn = tail(commit)
    lt, lp, ln = tail(res["lookup_ms"])
    values = {
        "events_per_s": res["events"] / (sum(commit) / 1000.0),
        "commit_ms_p50": statistics.median(commit),
        "commit_ms_tail": ct,
        "lookup_ms_p50": statistics.median(res["lookup_ms"]),
        "lookup_ms_tail": lt,
        "scan_ms_p50": statistics.median(res["scan_ms"]),
        "compact_s": statistics.median(res["compact_ms"]) / 1000.0,
        "setup_s": statistics.median(res["setup_s"]),
    }
    notes = {"commit_ms_tail": f"p{cp:.0f} of {cn}", "lookup_ms_tail": f"p{lp:.0f} of {ln}",
             "commit_ms_p50": f"of {cn}", "lookup_ms_p50": f"of {ln}",
             "scan_ms_p50": f"of {len(res['scan_ms'])}",
             "compact_s": f"median of {len(res['compact_ms'])}",
             "setup_s": f"median of {len(res['setup_s'])}"}
    return {k: (values[k], u) for k, u in END_TO_END}, notes


def run_one(workload, seed, seconds, trace, scale):
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".bench_build")
    tmp_root = os.path.join(work, "tmp")
    sweep_stale(tmp_root)
    build.build()
    tmp = os.path.join(tmp_root, f"run-{os.getpid()}")
    out = os.path.join(work, "runs", f"{workload}-{scale}-trace{trace}")
    log = os.path.join(work, f"jvm-{workload}.log")
    size = SIZES[scale][workload]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    try:
        corpus = os.path.join(work, "stage", "corpus_events")
        if not (os.path.exists(os.path.join(corpus, "_SUCCESS")) and
                os.path.exists(build.CDS_ARCHIVE)):
            # once per build: the seed-free corpus stream, and the archive
            # of the classes a Spark start-up loads
            run_jvm(["corpus", os.path.join(HERE, "data"), corpus], tmp, log, JVM_TIMEOUT_S,
                    f"-XX:ArchiveClassesAtExit={build.CDS_ARCHIVE}.tmp")
            os.replace(f"{build.CDS_ARCHIVE}.tmp", build.CDS_ARCHIVE)
        sdir = stage.ensure(work, corpus, workload, seed, size)
        run_jvm([workload, sdir, str(size["buckets"]), str(seconds), str(trace), out],
                tmp, log, JVM_TIMEOUT_S - (time.time() - t0),
                f"-XX:SharedArchiveFile={build.CDS_ARCHIVE}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)
    chk = check.check(workload, sdir, out)
    ops = len(res["commit_ms"]) + len(res["lookup_ms"]) + len(res["scan_ms"]) + len(res["compact_ms"])
    attempted = ops + chk["checks"]
    failed = res["failed"] + chk["failed"]
    for p in chk["problems"]:
        print(f"perfbench {workload}: CHECK FAILED: {p}")
    print(f"perfbench {workload} seed={seed}: cycles={res['cycles']} cores={res['cores']} "
          f"calib_ms={res['calib_ms']:.1f} steal_pct={res['steal_pct']:.2f}")
    print(f"  failed_frac = {failed / attempted:.6f} ({failed} of {attempted} operations)")
    if trace:
        layer = res["per_layer"]
        metrics = {k: (layer[k], u) for k, u in PER_LAYER}
        print(f"  spans: {os.path.join(out, 'spans.jsonl')}; self ms {res['span_self_ms']}")
        notes = {}
    else:
        metrics, notes = end_to_end(res)
    for k, (v, u) in metrics.items():
        print(f"  {k} = {v:.6g} {u}" + (f" ({notes[k]})" if k in notes else ""))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    # a stop request unwinds through run_jvm's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("perfbench: stopped"))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()
    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        result = run_one(w, a.seed, a.seconds, a.trace, a.scale)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
