"""Turns one JVM run's raw samples (and, when traced, its spans) into the
benchmark's metrics, and parses the result line the benchmark prints.

As a script, reports the run-to-run spread of saved outputs of
perfbench/run.py (one file per run) against the bounds in BENCHMARK.json:

    python3 perfbench/metrics.py spread OUT1 OUT2 ...

perfbench/tests/test_metrics.py covers the functions.
"""
import json
import os
import statistics
import sys

# (name, unit) of every end-to-end metric, printed by untraced runs. Op
# times are in units of the run's host control ("ctl": the median time of
# a fixed graft-free parquet scan, run before, during and after the loop),
# because the shared host's speed drifts by up to 40% between runs and the
# control drifts with it; the info line carries them in seconds too.
END_TO_END = [
    ("setup_s", "s"),
    ("rows_per_ctl", "1/ctl"),
    ("op_p50_ctl", "ctl"),
    ("cpu_per_op_ctl", "ctl"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
    ("retained_heap_mb", "MB"),
]

# (name, unit) of every per-layer metric, printed by traced runs.
PER_LAYER = [
    ("log.refresh_s", "s"),
    ("log.commit_bytes_per_op", "bytes"),
    ("log.checkpoints", "count"),
    ("log.checkpoint_op_p50_s", "s"),
    ("log.open_s", "s"),
    ("tx.commit_s", "s"),
    ("tx.retries", "count"),
    ("files.write_s", "s"),
    ("files.bytes_written_per_op", "bytes"),
    ("files.files_added_per_op", "count"),
    ("files.live_files", "count"),
    ("files.scan_files_read_per_op", "count"),
    ("files.scan_bytes_read_per_op", "bytes"),
    ("stats.skip_s", "s"),
    ("stats.files_kept_frac", "ratio"),
    ("stats.rows_returned_per_row_scanned", "ratio"),
    ("dv.dvs_written_per_op", "count"),
    ("dv.files_with_dv_frac", "ratio"),
    ("dv.deleted_rows_frac", "ratio"),
    ("commands.merge_s", "s"),
    ("commands.files_touched_per_op", "count"),
    ("commands.rows_copied_per_row_changed", "ratio"),
    ("spark.jobs_per_op", "count"),
    ("spark.tasks_per_op", "count"),
    ("spark.driver_s_per_op", "s"),
    ("spark.executor_cpu_s_per_op", "s"),
    ("spark.gc_s_per_op", "s"),
    ("spark.shuffle_bytes_per_op", "bytes"),
    ("host.control_s", "s"),
    ("trace.overhead_s_per_op", "s"),
]

RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """First quartile, median, third quartile, as statistics.quantiles
    gives them (its default 'exclusive' method)."""
    return statistics.quantiles(xs, n=4)


def iqr_share(xs):
    """Distance between the first and third quartile, as a share of the
    median: the run-to-run spread a bound is compared against."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2


def tail(xs, beyond=10):
    """Latency at the highest percentile that leaves at least `beyond`
    samples above it: the sample of nearest rank n - beyond.

    Returns (value, percentile, samples beyond)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples: a tail needs more than {beyond}")
    rank = n - beyond
    return s[rank - 1], 100.0 * rank / n, n - rank


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs):
    return median(xs) if xs else 0.0


def _covered_ms(t0, t1, spans):
    """Milliseconds of [t0, t1] covered by the union of `spans`."""
    covered, end = 0, t0
    for a, b in sorted((max(a, t0), min(b, t1)) for a, b in spans):
        if b <= end:
            continue
        covered += b - max(a, end)
        end = b
    return covered


def host_control_s(raw):
    """Median of the host control's timings, less the first (cold) one."""
    return median(raw["control_s"][1:])


def end_to_end(raw):
    """End-to-end metrics of an untraced run, plus details for the info
    line: the tail's percentile and sample count, and the op metrics in
    seconds."""
    ops = raw["ops"]
    lat = [o["lat"] for o in ops]
    value, pct, beyond = tail(lat)
    seconds = {
        "rows_per_s": sum(o["rows"] for o in ops) / sum(lat),
        "op_p50_s": median(lat),
        "op_tail_s": value,
        "cpu_s_per_op": median([o["cpu"] for o in ops]),
    }
    ctl = host_control_s(raw)
    m = {
        "setup_s": raw["session_s"] + median(raw["setup_table_s"]),
        "rows_per_ctl": seconds["rows_per_s"] * ctl,
        "op_p50_ctl": seconds["op_p50_s"] / ctl,
        "cpu_per_op_ctl": seconds["cpu_s_per_op"] / ctl,
        "write_amp": raw["write_amp"],
        "space_amp": raw["space_amp"],
        "retained_heap_mb": raw["retained_heap_mb"],
    }
    info = {"op_samples": len(lat), "tail_percentile": round(pct, 2),
            "tail_samples_beyond": beyond,
            "setup_samples": len(raw["setup_table_s"]),
            "host_control_median_s": ctl, "in_seconds": seconds}
    return m, info


def per_layer(raw, spans):
    """Per-layer metrics of a traced run from its spans and listener
    counts, plus the names of those that do not apply to the workload
    (reported as 0)."""
    ops = raw["ops"]
    traced = [i for i, o in enumerate(ops) if o["traced"]]
    counts = [raw["op_counts"].get(str(i), {}) for i in traced]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def durs(name):
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    def attr(name, key):
        return [s["attrs"].get(key, 0.0) for s in by_name.get(name, [])]

    def per_op(key):
        return _mean([o.get(key, 0) for o in ops])

    def per_traced(key):
        return _mean([c.get(key, 0) for c in counts])

    ckpt_lat = [o["lat"] for o in ops if o.get("ckpt_files", 0) > 0]
    merges = by_name.get("commands.merge", [])
    changed = sum(ops[i]["changed"] for i in traced)
    returned = sum(ops[i]["rows"] - ops[i]["changed"] for i in traced)
    scanned = sum(c.get("scan_rows", 0) for c in counts)
    driver_s = []
    for i, c in zip(traced, counts):
        o = ops[i]
        busy = _covered_ms(o["t0_ms"], o["t1_ms"], c.get("job_spans", []))
        driver_s.append((o["t1_ms"] - o["t0_ms"] - busy) / 1000.0)
    kept, files = sum(attr("stats.skip", "kept")), sum(attr("stats.skip", "files"))
    lat_on = [o["lat"] for o in ops if o["traced"]]
    lat_off = [o["lat"] for o in ops if not o["traced"]]
    m = {
        "log.refresh_s": _med(durs("log.refresh")),
        "log.commit_bytes_per_op": per_op("commit_bytes"),
        "log.checkpoints": float(len(ckpt_lat)),
        "log.checkpoint_op_p50_s": _med(ckpt_lat),
        "log.open_s": median(raw["open_s"]),
        "tx.commit_s": _med(durs("tx.commit")),
        "tx.retries": float(sum(attr("tx.commit", "retries"))),
        "files.write_s": _med(durs("files.write")),
        "files.bytes_written_per_op": per_op("data_bytes"),
        "files.files_added_per_op": per_op("data_files"),
        "files.live_files": float(raw["live_files"]),
        "files.scan_files_read_per_op": per_traced("scan_files"),
        "files.scan_bytes_read_per_op": per_traced("scan_bytes"),
        "stats.skip_s": _med(durs("stats.skip")),
        "stats.files_kept_frac": kept / files if files else 0.0,
        "stats.rows_returned_per_row_scanned": returned / scanned if scanned else 0.0,
        "dv.dvs_written_per_op": per_op("dvs_written"),
        "dv.files_with_dv_frac": raw["files_with_dv"] / raw["live_files"],
        "dv.deleted_rows_frac": raw["dv_rows"] / raw["live_rows_with_deleted"],
        "commands.merge_s": _med(durs("commands.merge")),
        "commands.files_touched_per_op": _mean(
            [s["attrs"].get("numDeletionVectors", 0)
             + s["attrs"].get("numTargetFilesRemoved", 0) for s in merges]),
        "commands.rows_copied_per_row_changed":
            sum(ops[i].get("rows_written", 0) - ops[i]["changed"] for i in traced) / changed
            if merges and changed else 0.0,
        "spark.jobs_per_op": per_traced("jobs"),
        "spark.tasks_per_op": per_traced("tasks"),
        "spark.driver_s_per_op": _mean(driver_s),
        "spark.executor_cpu_s_per_op": per_traced("cpu_s"),
        "spark.gc_s_per_op": per_traced("gc_s"),
        "spark.shuffle_bytes_per_op": per_traced("shuffle_bytes"),
        "host.control_s": host_control_s(raw),
        "trace.overhead_s_per_op": _med(lat_on) - _med(lat_off),
    }
    absent = []
    if not ckpt_lat:
        absent.append("log.checkpoint_op_p50_s")
    for span, name in (("tx.commit", "tx.commit_s"), ("files.write", "files.write_s"),
                       ("commands.merge", "commands.merge_s")):
        if span not in by_name:
            absent.append(name)
    if not merges:
        absent.append("commands.rows_copied_per_row_changed")
    return m, {"not_applicable": absent, "traced_ops": len(traced)}


def result(raw, metrics, units):
    """The result object: every metric with its unit, plus op counts."""
    return {
        "correct": raw["failed"] == 0 and raw["content_ok"],
        "attempted": raw["attempted"],
        "failed": raw["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units},
    }


def parse_result(text, units=None):
    """Parses the last line of the benchmark's output into the result
    object and checks its shape; with `units`, also that it holds exactly
    those metrics with those units."""
    lines = [l for l in text.strip().splitlines() if l.strip()]
    if not lines:
        raise ValueError("no output")
    r = json.loads(lines[-1])
    if set(r) != RESULT_KEYS:
        raise ValueError(f"result keys {sorted(r)}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or isinstance(r[k], bool) or r[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if r["attempted"] < 1:
        raise ValueError("nothing attempted")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)) \
                or isinstance(m["value"], bool):
            raise ValueError(f"metric {name} is malformed")
    if units is not None:
        want = dict(units)
        got = {k: m["unit"] for k, m in r["metrics"].items()}
        if got != want:
            raise ValueError(f"metrics {sorted(got)} differ from {sorted(want)}")
    return r


def spread(paths, bench="BENCHMARK.json"):
    """(metric, median, IQR share, bound) of each end-to-end metric over
    the result lines in `paths`."""
    with open(bench) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    values = {}
    for p in paths:
        with open(p) as f:
            r = parse_result(f.read(), END_TO_END)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    return [(k, median(xs), iqr_share(xs), bounds[k]) for k, xs in values.items()]


if __name__ == "__main__":
    if len(sys.argv) < 3 or sys.argv[1] != "spread":
        sys.exit(__doc__)
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    for name, med, share, bound in spread(sys.argv[2:], bench):
        print(f"{name:18s} median {med:12.4f}  IQR/median {share:6.3f}  bound {bound}")
