"""Metrics of one run, computed from the JVM's raw measurements.

End-to-end metrics come from the untraced passes, per-layer metrics from
the traced ones (``README.md`` lists both with their units).
"""
import os
import statistics

# name -> (unit, description); the order is the order of the report
END_TO_END = {
    "setup_s": ("s", "JVM start to the first timed op: context, set-up and warm-up"),
    "pass_s": ("s", "median wall time of one pass"),
    "pass_cpu_s": ("s", "median JVM process CPU time over one pass"),
    "read_p50_ms": ("ms", "median latency of a read op"),
    "read_p90_ms": ("ms", "90th percentile latency of a read op"),
    "write_p50_ms": ("ms", "median latency of a write op"),
    "peak_rss_mb": ("MB", "peak resident memory of the JVM (VmHWM)"),
}
# printed, but not a BENCHMARK.json metric: it is 0 on a correct run
EXTRA = {"failed_frac": ("ratio", "failed ops / attempted ops")}

MODULES = ["ts", "rel", "text", "vec", "mm", "streaming"]
PER_LAYER = {
    "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    **{f"{m}.{k}": u for m in MODULES for k, u in
       (("build_s", "s"), ("run_s", "s"), ("ops", "count"))},
    "ts.update_s": "s", "write.bytes": "bytes", "write.rows": "count", "store.files": "count",
    "scan.bytes": "bytes", "scan.rows": "count", "scan.rows_per_out_row": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_frac": "ratio",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "memo.cached_scans": "count", "memo.persisted_rdds": "count", "memo.cached_mb": "MB",
    "memo.leftover_rdds": "count",
    "stream.queries": "count", "stream.batches": "count", "stream.input_rows": "count",
    "stream.trigger_s": "s", "stream.add_batch_s": "s", "stream.commit_s": "s",
    "stream.offset_s": "s", "stream.lifecycle_s": "s", "stream.ckpt_left_mb": "MB",
    "trace.pass_s": "s", "trace.overhead_frac": "ratio", "trace.residual_s": "s",
}


def percentile(values, q):
    """Linear-interpolation percentile (numpy's default), q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def op_ms(op):
    """An op's latency; a failed op counts as missing any latency limit."""
    return (op["build_s"] + op["run_s"]) * 1e3 if op["ok"] else float("inf")


def host_sample():
    with open("/proc/stat") as f:
        cpu = f.readline().split()[1:]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"iowait_s": int(cpu[4]) / hz, "steal_s": int(cpu[7]) / hz if len(cpu) > 7 else 0.0,
            "loadavg": load}


def host_record(h0, h1, cpus):
    """Host noise over the run: steal and iowait seconds (all CPUs of the
    host) and the load average at the start and the end."""
    return {"nproc": cpus, "steal_s": round(h1["steal_s"] - h0["steal_s"], 2),
            "iowait_s": round(h1["iowait_s"] - h0["iowait_s"], 2),
            "loadavg_start": h0["loadavg"], "loadavg_end": h1["loadavg"]}


def layers_of(p, rows_of, cpus):
    """Per-layer metrics of one traced pass."""
    lay = dict(p["layers"])
    ops = p["ops"]
    for m in MODULES:
        mine = [o for o in ops if o["module"] == m]
        lay[f"{m}.build_s"] = sum(o["build_s"] for o in mine)
        lay[f"{m}.run_s"] = sum(o["run_s"] for o in mine)
        lay[f"{m}.ops"] = len(mine)
    lay["ts.update_s"] = sum(o["run_s"] for o in ops if o["kind"] == "write" and o["module"] == "ts")
    out_rows = sum(rows_of(o) for o in ops)
    lay["scan.rows_per_out_row"] = lay.get("scan.rows", 0.0) / out_rows if out_rows else 0.0
    lay["exec.busy_frac"] = lay.get("exec.run_s", 0.0) / (p["wall_s"] * cpus)
    stream_wall = sum(o["build_s"] + o["run_s"] for o in ops if o["module"] == "streaming")
    lay["stream.lifecycle_s"] = stream_wall - lay.get("stream.trigger_s", 0.0) if stream_wall else 0.0
    lay["trace.residual_s"] = p["wall_s"] - sum(o["build_s"] + o["run_s"] for o in ops)
    return lay


def report(workload, raw, verdicts, trace, cpus):
    passes = raw["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    ops = [dict(o, ok=verdicts.op_ok(p["index"], o)) for p in passes for o in p["ops"]]
    failed = sum(not o["ok"] for o in ops)
    plain_ops = [dict(o, ok=verdicts.op_ok(p["index"], o)) for p in plain for o in p["ops"]]
    reads = [op_ms(o) for o in plain_ops if o["kind"] == "read"]
    writes = [op_ms(o) for o in plain_ops if o["kind"] == "write"]
    e2e = {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in plain),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in plain),
        "read_p50_ms": percentile(reads, 50) if reads else None,
        "read_p90_ms": percentile(reads, 90) if reads else None,
        "write_p50_ms": percentile(writes, 50) if writes else None,
        "peak_rss_mb": raw["peak_rss_kb"] / 1024.0,
        "failed_frac": failed / len(ops),
    }
    samples = {"setup_s": 1, "pass_s": len(plain), "pass_cpu_s": len(plain),
               "read_p50_ms": len(reads), "read_p90_ms": len(reads), "write_p50_ms": len(writes),
               "peak_rss_mb": 1, "failed_frac": len(ops)}
    layers = {}
    if traced:
        per_pass = [layers_of(p, verdicts.rows_of, cpus) for p in traced]
        for name in PER_LAYER:
            layers[name] = statistics.median(lp.get(name, 0.0) for lp in per_pass)
        t_wall = statistics.median(p["wall_s"] for p in traced)
        layers["trace.pass_s"] = t_wall
        layers["trace.overhead_frac"] = t_wall / e2e["pass_s"] - 1.0
    if trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in END_TO_END.items()}
    line = {"correct": failed == 0 and all(m["value"] is not None for m in metrics.values()),
            "attempted": len(ops), "failed": failed, "metrics": metrics}
    return {"workload": workload, "line": line, "end_to_end": e2e, "samples": samples,
            "per_layer": layers, "failures": verdicts.failures, "measured_s": raw["measured_s"],
            "passes": [{"index": p["index"], "traced": p["traced"], "wall_s": p["wall_s"],
                        "cpu_s": p["cpu_s"], "ops": p["ops"], "layers": p["layers"]}
                       for p in passes]}


def describe(rep):
    """Human-readable lines: every metric with its unit and sample count."""
    e2e, n = rep["end_to_end"], rep["samples"]
    yield f"workload {rep['workload']} seed {rep['seed']}: {len(rep['passes'])} passes in " \
          f"{rep['measured_s']:.1f} s, phases {rep['phases_s']}, host {rep['host']}"
    for k, (unit, what) in {**END_TO_END, **EXTRA}.items():
        v = e2e[k]
        shown = "n/a" if v is None else f"{v:.4f}"
        yield f"  {k:<14} {shown:>12} {unit:<6} n={n[k]:<4} {what}"
    for k, v in rep["per_layer"].items():
        yield f"  {k:<26} {v:14.4f} {PER_LAYER.get(k, '')}"
    for f in rep["failures"][:20]:
        yield f"  FAILED {f}"
