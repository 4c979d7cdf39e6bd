"""End-to-end and per-layer metrics of one benchmark run."""

from __future__ import annotations

import json
import math
import os
import resource
import statistics

# Lifecycle methods index_lifecycle calls; each reports ``_s`` and ``_jobs``.
FAMILY_METHODS = {
    "textops.TrigramLM": ("save", "load", "update", "append_saved", "retract", "retract_saved", "compact", "score"),
    "vectorops.VectorIndex": (
        "save", "load", "update", "append_saved", "retract", "retract_saved", "compact", "search", "live_lists",
    ),
}

# spans whose self time is reported as ``<name>_s``
SPAN_METRICS = (
    "inventory.construct", "graphq.build", "cube.compile", "dcat.build", "tables.load",
    "spark.plan", "spark.exec", "maintenance.vacuum", "maintenance.check", "lease.dir_lease",
)
JOB_METRICS = ("inventory.construct", "graphq.build")

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_eval_s",
)


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    names = ["session.start_s", "session.warmup_s", "session.inputs_s", "session.prepare_s"]
    names += [f"{v}_s" for v in SPAN_METRICS]
    names += [f"{v}_jobs" for v in JOB_METRICS]
    names += ["inventory.cache_builds", "inventory.cache_hit_ratio"]
    names += [f"spark.{c}" for c in SPARK_COUNTERS] + ["spark.job_floor_s"]
    for fam, methods in FAMILY_METHODS.items():
        for m in methods:
            names += [f"{fam}.{m}_s", f"{fam}.{m}_jobs"]
    names += ["fs.bytes_written", "fs.files_written", "fs.write_amp", "fs.space_amp"]
    names += ["bench.self_s", "trace.bookkeeping_s"]
    return names


UNITS = {"_s": "s", "_jobs": "count", "_bytes": "bytes", "_ratio": "ratio", "_amp": "ratio"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def _beta_cdf(x: float, a: float, b: float) -> float:
    """The regularized incomplete beta function I_x(a, b), by its
    continued fraction (modified Lentz)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1.0) / (a + b + 2.0):  # the fraction converges fast on this side
        return 1.0 - _beta_cdf(1.0 - x, b, a)
    tiny = 1e-300

    def step(num: float, c: float, d: float) -> tuple[float, float]:
        d = 1.0 + num * d
        c = 1.0 + num / c
        return (c if abs(c) > tiny else tiny), 1.0 / (d if abs(d) > tiny else tiny)

    _, d = step(-(a + b) * x / (a + 1.0), 1.0, 1.0)
    c, f = 1.0, d
    for m in range(1, 500):
        c, d = step(m * (b - m) * x / ((a + 2 * m - 1.0) * (a + 2 * m)), c, d)
        f *= c * d
        c, d = step(-(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1.0)), c, d)
        f *= c * d
        if abs(c * d - 1.0) < 1e-13:
            break
    log_front = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b) + a * math.log(x) + b * math.log1p(-x)
    return math.exp(log_front) * f / a


def quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: the mean of the
    order statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. It
    moves smoothly as latencies shift, where a single order statistic
    jumps between the clusters that repeated operations form."""
    xs = sorted(samples)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = p * (n + 1), (1.0 - p) * (n + 1)
    cdf = [_beta_cdf(i / n, a, b) for i in range(n + 1)]
    return sum(x * (hi - lo) for x, lo, hi in zip(xs, cdf, cdf[1:]))


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest latency percentile that still
    has at least ten samples above it, estimated by ``quantile``; the
    maximum when there are fewer than eleven samples."""
    xs = sorted(latencies)
    n = len(xs)
    if n < 11:
        return xs[-1], 100.0
    k = n - 11  # exactly ten samples beyond position k
    pct = 100.0 * (k + 1) / n
    return quantile(xs, pct / 100.0), pct


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def host_steal_s() -> float | None:
    """CPU time the hypervisor has taken from this machine's CPUs so far
    (``steal`` in /proc/stat); None where it is not reported."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def tree_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def end_to_end(launch_s: float, warmup_s: float, setup: list[dict], rows: list[dict], rss_mb: float) -> dict:
    lat = [r["s"] for r in rows]
    value, pct = tail(lat)
    failed = sum(r["error"] is not None for r in rows)
    return {
        "setup_s": launch_s + warmup_s + statistics.median(s["inputs"] + s["prepare"] for s in setup),
        "wall_s": rows[-1]["end"] - rows[0]["start"],
        "op_p50_s": quantile(lat, 0.5),
        "op_tail_s": value,
        "op_tail_pct": pct,
        "peak_rss_mb": rss_mb,
        "attempted": len(rows),
        "failed": failed,
        "fail_ratio": failed / len(rows),
    }


def _median_setup(setup: list[dict], key: str) -> float:
    return statistics.median(s[key] for s in setup)


def per_layer(bench, rows, fit_rows, log_path: str, e2e: dict) -> dict:
    """Per-layer metrics of the measured pass, plus the artifact tables."""
    from perfbench.datagen import table_rows
    from perfbench.trace import read_event_log, self_jobs, self_times

    tracer = bench.tracer
    measured = {r["op"] for r in rows}
    spans = tracer.spans
    st, sj = self_times(spans), self_jobs(spans)
    by_name: dict[str, list[float]] = {}
    op_layers: dict[str, dict[str, float]] = {op: {} for op in measured}
    for s, t, j in zip(spans, st, sj):
        if s.op not in measured:
            continue
        acc = by_name.setdefault(s.name, [0.0, 0, 0])
        acc[0] += t
        acc[1] += j
        acc[2] += 1
        op_layers[s.op][s.name] = op_layers[s.op].get(s.name, 0.0) + t
    out: dict[str, float] = {
        "session.start_s": bench.launch_s,
        "session.warmup_s": bench.warmup_s,
        "session.inputs_s": _median_setup(bench.setup, "inputs"),
        "session.prepare_s": _median_setup(bench.setup, "prepare"),
    }
    for span in SPAN_METRICS:
        out[f"{span}_s"] = by_name.get(span, [0.0])[0]
    for metric in JOB_METRICS:
        out[f"{metric}_jobs"] = by_name.get(metric, [0, 0])[1]
    probe = bench.caches
    out["inventory.cache_builds"] = probe.builds
    out["inventory.cache_hit_ratio"] = (probe.calls - probe.builds) / probe.calls if probe.calls else 0.0

    windows = [(r["op"], *r["epoch"]) for r in rows + (fit_rows or [])]
    ev = read_event_log(log_path, windows) if os.path.exists(log_path) else {}
    ev_m = {op: v for op, v in ev.items() if op in measured}
    for c in SPARK_COUNTERS:
        out[f"spark.{c}"] = sum(v.get(c, 0) for v in ev_m.values())
    floors = [x for v in ev_m.values() for x in v.get("single_task_job_s", [])]
    out["spark.job_floor_s"] = statistics.median(floors) if floors else 0.0

    for fam, methods in FAMILY_METHODS.items():
        for m in methods:
            acc = by_name.get(f"{fam}.{m}", [0.0, 0])
            out[f"{fam}.{m}_s"], out[f"{fam}.{m}_jobs"] = acc[0], acc[1]

    fs = getattr(bench, "fs", None)
    absorbed = (e2e.get("input_bytes") or 0) * e2e.get("cycles", 1)  # over every cycle
    out["fs.bytes_written"] = fs.bytes_written if fs else 0
    out["fs.files_written"] = fs.files_written if fs else 0
    out["fs.write_amp"] = fs.bytes_written / absorbed if fs and absorbed else 0.0
    out["fs.space_amp"] = e2e["live_bytes"] / e2e["input_bytes"] if absorbed and e2e.get("live_bytes") else 0.0
    out["bench.self_s"] = sum(v[0] for k, v in by_name.items() if k.startswith("op."))
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s

    attributed = sum(v[0] for v in by_name.values())
    table = []
    fit_lo = {r["name"]: r["s"] for r in fit_rows or [] if r["error"] is None and r["scale"] == bench.sf_scale}
    fit_hi = {r["name"]: r["s"] for r in fit_rows or [] if r["error"] is None and r["scale"] != bench.sf_scale}
    rows_lo = sum(table_rows(bench.sf_scale).values())
    rows_hi = sum(table_rows(bench.fit_scale).values()) if fit_rows else None
    for r in rows:
        entry = {
            "op": r["op"], "s": r["s"], "jobs": r["jobs"], "ok": r["error"] is None,
            "layers_self_s": op_layers.get(r["op"], {}),
            "spark": {k: v for k, v in ev.get(r["op"], {}).items() if k != "single_task_job_s"},
        }
        if fs is not None:
            entry["fs_written"] = dict(zip(("bytes", "files"), fs.per_op.get(r["op"], (0, 0))))
        lay = entry["layers_self_s"]
        if "inventory.construct" in lay:
            entry["split_s"] = {k: lay.get(k, 0.0) for k in ("inventory.construct", "spark.plan", "spark.exec")}
        name = r["name"]
        if name in fit_lo and name in fit_hi:
            lo, hi = fit_lo[name], fit_hi[name]
            per_row = (hi - lo) / (rows_hi - rows_lo)
            entry["fit"] = {
                "s_lo": lo, "s_hi": hi, "rows_lo": rows_lo, "rows_hi": rows_hi,
                "fixed_s": lo - per_row * rows_lo, "per_mrow_s": per_row * 1e6,
            }
        table.append(entry)
    return {
        "metrics": out,
        "artifact": {
            "ops": table,
            "wall_s": e2e["wall_s"],
            "attributed_self_s": attributed,
            "unattributed_s": e2e["wall_s"] - attributed,
            "layer_totals": {k: {"self_s": v[0], "self_jobs": v[1], "calls": v[2]} for k, v in sorted(by_name.items())},
            "spark_totals": {k: out[f"spark.{k}"] for k in SPARK_COUNTERS},
        },
    }


def result_path(base: str, args) -> str:
    """Where an untraced run leaves its ``wall_s`` for the traced run of
    the same workload, seed and length to compute tracing overhead."""
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    return os.path.join(base, "results", f"{args.workload}-seed{args.seed}-s{args.seconds:g}.json")


E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s", "peak_rss_mb": "MB"}


def report(args, bench, result: dict, base: str) -> dict:
    """The summary line, failure lines, artifact and last line."""
    failures = [{"failed_op": r["op"], "error": r["error"][:600]} for r in bench.rows if r["error"]]
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": bench.cpus, "driver_heap": os.environ.get("SPARK_DRIVER_MEMORY"),
        "sf": bench.sf_scale, "setup_repeats": len(bench.setup),
        "attempted": result["attempted"], "failed": result["failed"],
        "op_tail_pct": result["op_tail_pct"], **bench.info,
    }
    e2e = {k: {"value": result[k], "unit": u} for k, u in E2E_UNITS.items()}
    e2e["fail_ratio"] = {"value": result["fail_ratio"], "unit": "ratio"}
    if result.get("live_bytes") is not None:
        e2e["space_amp"] = {"value": result["live_bytes"] / result["input_bytes"], "unit": "ratio"}
    summary["end_to_end"] = e2e
    if args.trace:
        metrics = {
            k: {"value": result["layers"]["metrics"][k], "unit": unit_of(k)} for k in per_layer_names()
        }
        art = result["layers"]["artifact"]
        summary["traced_wall_s"] = art["wall_s"]
        summary["unattributed_s"] = art["unattributed_s"]
        prev = result_path(base, args)
        if os.path.exists(prev):
            with open(prev) as fh:
                summary["trace_overhead_s"] = art["wall_s"] - json.load(fh)["wall_s"]
        artifact = {"summary": summary, **art}
    else:
        metrics = {k: e2e[k] for k in E2E_UNITS}
        artifact = None
    last = {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }
    return {"summary": summary, "failures": failures, "artifact": artifact, "last": last}
