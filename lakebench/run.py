"""Runs one lakebench workload against graft and prints its result.

    python3 lakebench/run.py --workload scd2_batches --seed 1 --seconds 8 --trace 0

Builds graft and the benchmark from source on first use (build.py), then
runs the workload in one JVM with one closed-loop client on
`local[<cores>]`. The first run after a build runs the workload twice:
once unreported, to record a class-data-sharing archive, then measured. The last line of standard output is the result object
(`correct`, `attempted`, `failed`, `metrics`); the line before it, tagged
`LAKEBENCH_DETAIL`, carries sample counts, tail percentiles, set-up
repetitions and the box-speed probe. Each run also leaves both lines in
`.bench_out/<workload>-s<seed>-t<trace>.json` for compare.py; a traced
run also writes its spans to `.bench_out/spans-<workload>-s<seed>.jsonl`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("scd2_batches", "lookup_ingest", "dedup_ingest")


def declared_metrics(trace):
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(run_dir, cds_flag, args, limit_s):
    """Runs one benchmark JVM in a fresh `run_dir`; returns its exit code
    and standard output. The JVM is killed if it outlives `limit_s` or
    this runner."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    proc = subprocess.Popen(build.java_cmd(run_dir, cds_flag, args), stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except BaseException:
        proc.kill()
        proc.wait()
        raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    try:
        build.build()
    except build.BuildError as e:
        sys.exit(f"lakebench: build failed: {e}")

    run_dir = os.path.join(build.BUILD, f"run-{os.getpid()}")
    os.makedirs(build.OUT, exist_ok=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
    # set-up, warm-up, the fixed prefix and the checks take up to two
    # minutes on a 4-core box; the measured loop takes `--seconds`
    limit_s = 120 + 2 * a.seconds
    # a terminated runner must not leave its JVM behind
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        if not os.path.exists(build.ARCHIVE):
            # class-data sharing: after a build, an unreported run of the
            # same command records the classes it loaded, and every
            # measured run maps them instead of loading them from the jars,
            # which shortens JVM and Spark start-up (no metric includes it)
            # by a few seconds a run
            dump = f"{build.ARCHIVE}.{os.getpid()}"
            rc, _ = run_jvm(run_dir, f"-XX:ArchiveClassesAtExit={dump}", args, limit_s)
            if rc != 0 or not os.path.exists(dump):
                sys.exit(f"lakebench: {a.workload} exited with {rc} while recording the class archive")
            os.replace(dump, build.ARCHIVE)
        rc, out = run_jvm(run_dir, f"-XX:SharedArchiveFile={build.ARCHIVE}", args, limit_s)
    except subprocess.TimeoutExpired:
        sys.exit(f"lakebench: {a.workload} stopped before finishing (limit {limit_s} s)")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if rc != 0 or not lines:
        sys.exit(f"lakebench: {a.workload} exited with {rc}")

    detail = next((json.loads(l.split(" ", 1)[1]) for l in lines
                   if l.startswith("LAKEBENCH_DETAIL ")), None)
    result = json.loads(lines[-1])
    want = declared_metrics(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.exit(f"lakebench: metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}")

    with open(os.path.join(build.OUT, f"{a.workload}-s{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"detail": detail, "result": result}, f, indent=1, sort_keys=True)
    print("LAKEBENCH_DETAIL " + json.dumps(detail, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
