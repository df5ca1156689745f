#!/usr/bin/env python3
"""Table-layer benchmark of the graft engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the engine and the benchmark from
source on first use (perfbench/build.py, a few minutes), then runs the workload in a JVM
of its own: Spark local[nproc], one closed-loop client thread, a fixed
heap. Workloads (perfbench/src/perfbench/Workloads.scala):

  merge_upsert     MERGE upserts into a DV-enabled, range-clustered table
  append_read_mix  transactional small appends, each read back

Every op is checked against an oracle built with plain Spark from the same
seeded inputs, and the final table is reopened cold and fingerprinted.
With --trace 0 the last line of output holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics, derived from spans and Spark
listener counts (every other op is traced, the rest give the tracing
overhead). The line before it carries details: tail percentile and sample
counts, the 1-minute load average, and per-layer metrics that do not apply
to the workload. Raw samples, and the spans of a traced run, are kept under
.bench_build/traces.
The exit code is 0 only when every op and the final content matched.
"""
import argparse
import fcntl
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("merge_upsert", "append_read_mix")
# Wall-clock limit for the JVM; the build, when needed, runs before it.
JVM_TIMEOUT_S = 170


def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def run_jvm(args, work, log_path):
    raw_path = os.path.join(work, "raw.json")
    spans_path = os.path.join(work, "spans.jsonl")
    cmd = build.java_cmd(work, *build.archive_flags()) + [
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--dir", work, "--out", raw_path, "--spans", spans_path,
           "--cores", str(cores())]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: JVM timed out after {JVM_TIMEOUT_S}s, log {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if not os.path.exists(raw_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited {proc.returncode} without results")
    with open(raw_path) as f:
        raw = json.load(f)
    spans = []
    if args.trace:
        with open(spans_path) as f:
            spans = [json.loads(line) for line in f if line.strip()]
    return raw, spans, spans_path


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if not os.path.isdir(build.ENGINE_SRC):
        print(f"perfbench: no engine sources at {build.ENGINE_SRC}; run from the root "
              "of a full checkout", file=sys.stderr)
        return 2
    os.makedirs(build.OUT, exist_ok=True)
    started = time.time()
    # One benchmark JVM at a time: an overlapping run skews both.
    with open(os.path.join(build.OUT, "run.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        waited = time.time() - started
        load1 = os.getloadavg()[0]
        build.build()
        work = os.path.join(build.OUT, "work")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        logs = os.path.join(build.OUT, "logs")
        os.makedirs(logs, exist_ok=True)
        tag = f"{args.workload}-s{args.seed}-t{args.trace}"
        steal0, total0 = cpu_ticks()
        raw, spans, spans_path = run_jvm(args, work, os.path.join(logs, tag + ".log"))
        steal1, total1 = cpu_ticks()
        traces = os.path.join(build.OUT, "traces")
        os.makedirs(traces, exist_ok=True)
        shutil.copyfile(os.path.join(work, "raw.json"), os.path.join(traces, tag + ".raw.json"))
        if args.trace:
            shutil.copyfile(spans_path, os.path.join(traces, tag + ".jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        values, info = metrics.per_layer(raw, spans)
        units = metrics.PER_LAYER
    else:
        values, info = metrics.end_to_end(raw)
        units = metrics.END_TO_END
    info.update(workload=args.workload, seed=args.seed, trace=args.trace, cores=raw["cores"],
                load1_at_start=load1, lock_wait_s=round(waited, 3),
                cpu_steal_share=round((steal1 - steal0) / max(1, total1 - total0), 4),
                wall_s=round(time.time() - started, 3), host_control_s=raw["control_s"],
                phase_s=raw["phase_s"])
    out = metrics.result(raw, values, units)
    line = json.dumps(out)
    metrics.parse_result(line, units)
    print(json.dumps({"info": info}))
    print(line, flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
