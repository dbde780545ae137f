#!/usr/bin/env python3
"""GAF pipeline benchmark: one process per call.

    python3 perfbench/run.py --workload weekly_rerun --seed 1 --seconds 12 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, then runs the weekly job
(PipelineRunner.runAll + writing FULL_ANNOT as parquet) in one JVM:
set-up, timed runs for --seconds with tracing off, each
checked for correctness, and with --trace 1 a traced run that reports
the per-layer metrics. The last line of standard output is the result
JSON; the line before it holds the details (quartiles, sample counts,
host load per run, planted input paths, failed checks).

Exits non-zero without a result when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import build  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
WORKLOADS = ("weekly_rerun", "multispecies")

# (name, unit) of what each mode reports; BENCHMARK.json lists the same
END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("lines_per_s", "1/s"),
              ("cpu_s", "s")]
PER_LAYER = [
    ("sources.lines_in", "count"), ("sources.lines_kept", "count"),
    ("sources.demux_s", "s"), ("sources.scan_s", "s"),
    ("gaf.build_s", "s"), ("gaf.build_jobs", "count"),
    ("gaf.qc_kept_ratio", "ratio"), ("gaf.match_ratio", "ratio"),
    ("gaf.iso_fanout", "ratio"), ("gaf.spine_exec_s", "s"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("operators.consolidate_s", "s"), ("operators.consolidate_ratio", "ratio"),
    ("operators.fragment_rows", "count"), ("operators.annot_merge_s", "s"),
    ("operators.overflow_rows", "count"), ("operators.merge_sink_s", "s"),
    ("operators.merge_sink_shuffle_mb", "MB"),
    ("operators.merge_sink_spill_mb", "MB"),
    ("operators.merge.insert", "count"), ("operators.merge.update", "count"),
    ("operators.merge.touch", "count"), ("operators.merge.keep", "count"),
    ("operators.merge.deleted", "count"),
    ("operators.merge.brake_aborted", "count"),
    ("plans.snapshot_stored_mb", "MB"), ("exec.gc_s", "s"),
    ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"),
    ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
    ("exec.spill_mb", "MB"), ("exec.result_mb", "MB"),
    ("exec.input_mb", "MB"), ("exec.output_mb", "MB"),
    ("exec.driver_only_s", "s"), ("exec.driver_only_share", "share"),
    ("exec.core_busy_share", "share"), ("exec.task_skew", "ratio"),
    ("prefix.sources_exec_share", "share"), ("prefix.spine_exec_share", "share"),
    ("prefix.merge_sink_exec_share", "share"),
    ("module.plans.exec_s", "s"), ("module.operators.exec_s", "s"),
    ("module.runner.exec_s", "s"), ("module.gaf.exec_s", "s"),
    ("module.sources.exec_s", "s"), ("module.bench.exec_s", "s"),
    ("module.other.exec_s", "s"),
    ("peak_rss_mb", "MB"), ("trace.run_s", "s"), ("trace.overhead_s", "s"),
]

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

DEADLINE_S = 175        # a run must end within 180 s once built
KEEP_INPUT_SETS = 64    # generated per-seed input sets kept between calls


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (0.0, 0.0)
    q = statistics.quantiles(xs, n=4)
    return q[0], q[2]


def summarize(xs):
    q1, q3 = quartiles(xs)
    return {"median": statistics.median(xs) if xs else 0.0,
            "q1": q1, "q3": q3, "n": len(xs)}


def evict_inputs(data_root, current):
    """Keep the most recently used per-seed input sets; the shared parts
    (`*-base-*`, the warm-up input) stay."""
    if current.is_dir():
        os.utime(current)
    sets = sorted((p for p in data_root.iterdir() if p.is_dir()
                   and "-base-" not in p.name and not p.name.startswith("warmup")),
                  key=lambda p: p.stat().st_mtime, reverse=True)
    for p in sets[KEEP_INPUT_SETS:]:
        shutil.rmtree(p, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (1.0 is the benchmark's size)")
    ap.add_argument("--digests", default=str(HERE / "digests.json"),
                    help="pinned digests by workload:seed:scale")
    ap.add_argument("--pin", action="store_true",
                    help="record this run's digest in --digests if none is pinned")
    ap.add_argument("--trace-out", help="also write the traced run's details here")
    a = ap.parse_args()

    log_dir = BUILD / "logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-s{a.seed}-x{a.scale}-t{a.trace}"
    log_path = log_dir / f"{tag}.log"
    with open(log_path, "w") as log:
        classpath = build.build(log=log)
    t_start = time.monotonic()

    digests_path = Path(a.digests)
    digests = json.loads(digests_path.read_text()) if digests_path.is_file() else {}
    key = f"{a.workload}:{a.seed}:{a.scale:g}"
    pinned = digests.get(key, "")

    data_root = BUILD / "data"
    data_root.mkdir(parents=True, exist_ok=True)
    evict_inputs(data_root, data_root / f"{a.workload}-s{a.seed}-x{a.scale}")
    work = BUILD / "work" / tag
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = BUILD / "tmp"
    tmp.mkdir(exist_ok=True)
    out = work / "result.json"
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--data-root", str(data_root), "--work", str(work),
              "--out", str(out), "--scale", str(a.scale),
              "--cores", str(cores), "--pinned", pinned])
    budget = DEADLINE_S - (time.monotonic() - t_start)
    with open(log_path, "a") as log:
        try:
            res = subprocess.run(cmd, stdout=log, stderr=log, timeout=budget)
        except subprocess.TimeoutExpired:
            sys.exit(f"perfbench: run exceeded {DEADLINE_S} s (log: {log_path})")
    if res.returncode != 0 or not out.is_file():
        sys.exit(f"perfbench: benchmark process failed (log: {log_path})")
    r = json.loads(out.read_text())
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    shutil.copy(out, results / f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)

    runs = r["runs"]
    ok = [x for x in runs if x["ok"]] or runs
    lines_in = sum(r["inputs"]["lines"].values())
    samples = {
        "setup_s": [r["setup_s"]],
        "run_s": [x["run_s"] for x in ok],
        "lines_per_s": [lines_in / x["run_s"] for x in ok],
        "cpu_s": [x["cpu_s"] for x in ok],
    }
    attempted = len(runs) + (1 if a.trace else 0)
    failed = r["failed"]
    if a.pin and not pinned and not failed:
        digs = {x["digest"] for x in runs}
        if len(digs) == 1:
            digests[key] = digs.pop()
            digests_path.write_text(json.dumps(dict(sorted(digests.items())), indent=1) + "\n")
        else:
            failed = attempted
    if a.trace:
        tm = r["trace"]["metrics"]
        metrics = {n: {"value": tm[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": statistics.median(samples[n]), "unit": u}
                   for n, u in END_TO_END}
    detail = {
        "workload": a.workload, "seed": a.seed, "scale": a.scale,
        "cores": cores, "pinned": bool(pinned),
        "samples": {n: summarize(xs) for n, xs in samples.items()},
        "failed_share": failed / attempted,
        "host": [x["host"] for x in runs],
        "failures": [f for x in runs for f in x["failures"]]
        + (r["trace"]["failures"] if a.trace else []),
        "digests": sorted({x["digest"] for x in runs}),
        "ops": runs[0]["ops"], "expect": r["expect"],
        "inputs": r["inputs"], "gen_s": r["gen_s"],
    }
    if a.trace:
        detail["prefix"] = r["trace"]["prefix"]
        if a.trace_out:
            Path(a.trace_out).write_text(json.dumps(
                {"detail": detail, "metrics": r["trace"]["metrics"],
                 "spans": r["trace"]["spans"]}, indent=1) + "\n")
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
