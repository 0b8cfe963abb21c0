#!/usr/bin/env python3
"""Validation benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the program from source (see
build.py), generates the seeded input of the workload (inputs.py, cached by
seed), computes the oracle recount, runs the workload in one benchmark JVM
at local[nproc] and prints, as the last stdout line, one JSON object with
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it holds
the run's details (samples, calibration probes, host record, input manifest).
Everything it writes stays under `.bench_build/`.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402

# workload -> generated input it reads
WORKLOADS = {
    "verdicts_scan": "natural_600k",
    "stream_verdicts": "natural_600k",
}
# workload -> input of the Checkpoint.run its traced run times
CHECKPOINT_INPUT = {"verdicts_scan": "dense_300k"}
# The heap is fixed (initial = maximum). Grown from the JVM default on
# demand, G1 sizes it from its GC pause-time ratio, which follows host
# timing: peak_rss_mb then spread up to 0.25 over ten seeds (see README.md).
HEAP_MB = 2048
DEADLINE_S = 170


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def git_commit():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    cp, oracle_sql, src_digest = build.build()
    import inputs
    cores = nproc()
    input_dir, manifest = inputs.ensure(
        os.path.join(build.OUT, "inputs"), WORKLOADS[a.workload], a.seed,
        cores, oracle_sql)

    work = os.path.join(build.OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    def expect(oracle):
        return ",".join(f"{k}={v}" for k, v in oracle["oracle"].items())

    oracle = manifest["stream" if a.workload == "stream_verdicts" else "lineitem"]
    checkpoint_args = []
    if a.trace and a.workload in CHECKPOINT_INPUT:
        cp_dir, cp_manifest = inputs.ensure(
            os.path.join(build.OUT, "inputs"), CHECKPOINT_INPUT[a.workload],
            a.seed, cores, oracle_sql)
        checkpoint_args = ["--checkpoint-input", cp_dir,
                           "--checkpoint-expect", expect(cp_manifest["lineitem"])]
    cmd = (["java", f"-Xms{HEAP_MB}m", f"-Xmx{HEAP_MB}m"] + build.JVM_OPENS + [
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
        "-cp", os.pathsep.join(cp), "graftbench.Main",
        "--workload", a.workload, "--input", input_dir, "--work", work,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--nproc", str(cores), "--expect", expect(oracle), "--out", out]
        + checkpoint_args)
    proc = subprocess.Popen(cmd, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(10.0, DEADLINE_S - (time.time() - t_start)))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        build.fail(f"{a.workload} did not finish within {DEADLINE_S} s")
    if rc != 0 or not os.path.exists(out):
        build.fail(f"benchmark JVM exited with code {rc}")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    # BENCHMARK.json names the metrics each mode reports, with their units
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    if a.trace:
        values = res["per_layer"]
        spans = res.pop("spans")
        trace_path = os.path.join(build.OUT, "traces",
                                  f"{a.workload}-s{a.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed,
                       "spans": spans}, f)
        res["trace_file"] = os.path.relpath(trace_path, build.ROOT)
    else:
        values = res
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in spec}
    res["failed_frac"] = res["failed"] / res["attempted"]
    res["host"].update({"git_commit": git_commit(), "source_digest": src_digest})
    res["input"] = manifest
    if checkpoint_args:
        res["checkpoint"]["manifest"] = cp_manifest
    res["seed"] = a.seed
    res["wall_s"] = time.time() - t_start
    print(json.dumps(res))
    correct = res["failed"] == 0 and all(
        isinstance(m["value"], (int, float)) for m in metrics.values())
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
