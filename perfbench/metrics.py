"""Turn one run's records into the end-to-end and per-layer metrics.

End-to-end metrics come from untraced passes only; per-layer metrics from
the traced passes of a traced run.  End-to-end walls take each op's fastest
run across the passes; other per-pass figures are medians over passes.
Every metric is reported on every workload; a layer a workload does not use
reads 0.
"""

from __future__ import annotations

import math
import statistics

from .trace import self_time_by_name

MB = 1 << 20
#: chained sha256 digests in one try of the host-speed calibration
CAL_DIGESTS = 20_000
#: what those digests take on the reference host: end-to-end times are
#: seconds on that host, measured seconds x CAL_REF_S / mean calibration
CAL_REF_S = 0.010
#: percentiles op_tail_s may report, highest first
TAIL_GRID = (99, 95, 90, 75, 50)

END_TO_END_UNITS = {
    "setup_s": "s",
    "pass_s": "s",
    "ingest_rows_per_s": "rows/s",
    "cpu_s_per_pass": "s",
}

PER_LAYER_UNITS = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_share": "ratio",
    "catalog.load_calls": "count",
    "catalog.load_s": "s",
    "catalog.input_rows": "rows",
    "catalog.input_mb": "MB",
    "catalog.scan_tasks": "count",
    "catalog.scan_tasks_fed": "count",
    "plans.fusion_s": "s",
    "plans.fusion_write_s": "s",
    "plans.fusion_rows": "rows",
    "sources.write_s": "s",
    "sources.rows_written": "rows",
    "sources.mb_written": "MB",
    "sources.files_written": "count",
    "sources.write_amp": "ratio",
    "operators.dedup_s": "s",
    "operators.similarity_s": "s",
    "operators.text_s": "s",
    "operators.python_cpu_s": "s",
    "operators.python_share": "ratio",
    "streaming.batches": "count",
    "streaming.input_rows": "rows",
    "streaming.batch_ms_p50": "ms",
    "streaming.replay_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.task_run_s": "s",
    "engine.task_cpu_s": "s",
    "engine.gc_s": "s",
    "engine.shuffle_read_mb": "MB",
    "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.task_skew": "ratio",
    "engine.busy_share": "ratio",
    "engine.peak_exec_mem_mb": "MB",
    "trace.overhead": "ratio",
}


def tail(walls: list[float]) -> tuple[float, int, int]:
    """(value, percentile, ops beyond it) of the highest percentile in
    ``TAIL_GRID`` with at least 10 ops beyond it; the median when no grid
    percentile has 10 ops beyond it."""
    w = sorted(walls)
    n = len(w)
    for p in TAIL_GRID:
        rank = max(1, math.ceil(p / 100 * n))
        if n - rank >= 10:
            return w[rank - 1], p, n - rank
    rank = max(1, math.ceil(n / 2))
    return w[rank - 1], 50, n - rank


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class _Pass:
    """Sums over the job groups and op records of one pass."""

    def __init__(self, record: dict, ops: list, groups: dict):
        self.record = record
        self.ops = ops
        self.run = [groups[g] for op in ops for g in (f"{op.group}/build", f"{op.group}/run")
                    if g in groups]
        self.build = [groups[f"{op.group}/build"] for op in ops if f"{op.group}/build" in groups]
        self.by_op = {op.op: [groups[g] for g in (f"{op.group}/build", f"{op.group}/run")
                              if g in groups] for op in ops}

    def sum(self, key: str, ops: tuple[str, ...] | None = None) -> float:
        stats = self.run if ops is None else [g for o in ops for g in self.by_op.get(o, [])]
        return sum(g.sums[key] for g in stats)

    def task_cpu_s(self) -> float:
        return self.sum("executorCpuTime") / 1e9

    def family_wall(self, *families: str) -> float:
        return sum(op.wall for op in self.ops if op.family in families)


def report(*, wl, config, state, groups, inputs, cpus, tracer, progress, peak_rss, env) -> dict:
    failed = sum(1 for c in state.checks if not c["ok"]) + sum(1 for o in state.ops if o.error)
    attempted = len(state.checks) + len(state.ops)
    passes = [
        _Pass(p, [o for o in state.ops if o.pass_no == p["pass"]], groups) for p in state.passes
    ]
    plain = [p for p in passes if not p.record["traced"]]
    traced = [p for p in passes if p.record["traced"]]
    detail = {
        "workload": wl.name, "seed": config.seed, "trace": config.trace, "env": env,
        "inputs": {"rows": inputs.rows, "bytes": inputs.bytes},
        "setup": state.setup, "checks": state.checks,
        "passes": [{**p.record, "ops": {o.op: o.wall for o in p.ops}} for p in passes],
        "errors": [{"pass": o.pass_no, "op": o.op, "error": o.error} for o in state.ops if o.error],
    }
    if config.trace:
        metrics = _per_layer(wl, state, inputs, passes, traced, plain, cpus, tracer, progress,
                             peak_rss)
        units = PER_LAYER_UNITS
    else:
        metrics = _end_to_end(wl, state, plain, inputs, detail)
        units = END_TO_END_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return {"result": result, "detail": detail}


def to_reference_host(values: dict[str, float], cals: list[float]) -> dict[str, float]:
    """Times (and ``*_per_s`` rates) as they would read on the reference
    host, given the calibrations taken around the work that timed them.

    A shared host's speed moves by up to 2x from one minute to the next, CPU
    time with it, and it can switch between a fast and a slow state several
    times in one run; the mean calibration is the mean slow-down."""
    speed = CAL_REF_S / statistics.mean(cals)
    return {k: v / speed if k.endswith("_per_s") else v * speed for k, v in values.items()}


def _end_to_end(wl, state, plain, inputs, detail) -> dict:
    walls = [o.wall for p in plain for o in p.ops]
    tail_value, tail_p, tail_beyond = tail(walls)
    detail["op_tail"] = {"value_s": tail_value, "percentile": tail_p,
                         "ops_beyond": tail_beyond, "ops": len(walls)}
    # each op's wall is its fastest run across the passes: on a shared host
    # the CPU time the hypervisor takes comes and goes within a run and only
    # ever adds to a wall, so the fastest run is the least disturbed one
    op_best = {op.name: min((o.wall for p in plain for o in p.ops if o.op == op.name),
                            default=0.0)
               for op in wl.ops}
    ingest = [op for op in wl.ops if op.name in wl.ingest_ops]
    rows = sum(inputs.rows[t] for op in ingest for t in op.tables)
    detail["ingest_rows_per_pass"] = rows
    # the median op of the per-op walls (a median of all walls jumps between
    # ops as the number of passes in the run changes); a run record only: with
    # four to six ops of different size, it is whichever small op falls in
    # the middle, and it moves more from run to run than a bound allows
    detail["op_p50_s"] = _median(op_best.values())
    setup = {"setup_s": sum(state.setup.values())}
    timed = {
        "pass_s": sum(op_best.values()),
        "ingest_rows_per_s": (rows / sum(op_best[op.name] for op in ingest)
                              if ingest else 0.0),
    }
    cpu = {"cpu_s_per_pass": _median(p.task_cpu_s() + p.record["python_cpu_s"] for p in plain)}
    detail["unscaled"] = {**setup, **timed, **cpu}
    env = detail["env"]
    # walls scale with the calibrations' wall time, CPU time with their CPU
    # time
    return {**to_reference_host(setup, [w for w, _ in env["cal_setup_s"]]),
            **to_reference_host(timed, [w for w, _ in env["cal_pass_s"]]),
            **to_reference_host(cpu, [c for _, c in env["cal_pass_s"]])}


def _per_layer(wl, state, inputs, passes, traced, plain, cpus, tracer, progress,
               peak_rss) -> dict:
    spans = {p.record["pass"]: tracer.spans[slice(*p.record["spans"])] for p in traced}
    self_time = {n: self_time_by_name(s) for n, s in spans.items()}
    ingest = tuple(op.name for op in wl.ops if op.family == "sources")
    ingest_bytes = max(1, sum(inputs.bytes[t] for op in wl.ops if op.name in ingest
                              for t in op.tables))

    def per_pass(fn) -> float:
        return _median(fn(p) for p in traced)

    def span_self(p, prefix: str) -> float:
        return sum(v for k, v in self_time[p.record["pass"]].items() if k.startswith(prefix))

    def outer(p, prefix: str) -> list:
        """Spans named ``prefix*`` not nested in another such span."""
        ss = spans[p.record["pass"]]
        inner = {s.id for s in ss if s.name.startswith(prefix)}
        return [s for s in ss if s.id in inner and s.parent not in inner]

    def fed(p, key):
        return sum(getattr(g, key) for g in p.run)

    batches = len(progress) / len(passes) if passes else 0.0
    stream_rows = sum(r for r, _ in progress) / len(passes) if passes else 0.0
    plans_rows = sum(c.get("rows", c.get("got", {}).get("rows", 0)) for c in state.checks
                     if c["op"] in {op.name for op in wl.ops if op.family == "plans"})
    traced_pass = per_pass(lambda p: p.record["wall_s"])
    return {
        "session.import_s": state.setup["import_s"],
        "session.start_s": state.setup["start_s"],
        "session.warmup_s": state.setup["warmup_s"],
        "session.peak_rss_mb": peak_rss / MB,
        "registry.build_s": per_pass(lambda p: span_self(p, "registry.build")),
        "registry.build_jobs": per_pass(lambda p: sum(g.jobs for g in p.build)),
        "registry.build_share": per_pass(
            lambda p: span_self(p, "registry.build") / p.record["wall_s"]),
        "catalog.load_calls": per_pass(lambda p: len(outer(p, "catalog."))),
        "catalog.load_s": per_pass(lambda p: span_self(p, "catalog.")),
        "catalog.input_rows": per_pass(lambda p: p.sum("inputRecords")),
        "catalog.input_mb": per_pass(lambda p: sum(
            (s.attrs or {}).get("bytes", 0) for s in spans[p.record["pass"]]) / MB),
        "catalog.scan_tasks": per_pass(lambda p: fed(p, "scan_tasks")),
        "catalog.scan_tasks_fed": per_pass(lambda p: fed(p, "scan_tasks_fed")),
        "plans.fusion_s": per_pass(lambda p: p.family_wall("plans")),
        "plans.fusion_write_s": per_pass(lambda p: span_self(p, "plans.write_fusion_table")),
        "plans.fusion_rows": plans_rows,
        "sources.write_s": per_pass(lambda p: span_self(p, "sources.")),
        "sources.rows_written": per_pass(lambda p: p.sum("outputRecords", ingest)),
        "sources.mb_written": per_pass(lambda p: p.sum("outputBytes", ingest) / MB),
        "sources.files_written": per_pass(lambda p: p.record["files_written"]),
        "sources.write_amp": per_pass(lambda p: p.sum("outputBytes", ingest) / ingest_bytes),
        "operators.dedup_s": per_pass(lambda p: p.family_wall("dedup")),
        "operators.similarity_s": per_pass(lambda p: p.family_wall("similarity")),
        "operators.text_s": per_pass(lambda p: p.family_wall("text")),
        "operators.python_cpu_s": per_pass(lambda p: p.record["python_cpu_s"]),
        "operators.python_share": per_pass(
            lambda p: p.record["python_cpu_s"]
            / max(1e-9, p.record["python_cpu_s"] + p.task_cpu_s())),
        "streaming.batches": batches,
        "streaming.input_rows": stream_rows,
        "streaming.batch_ms_p50": _median(ms for _, ms in progress),
        "streaming.replay_s": per_pass(lambda p: p.family_wall("streaming")),
        "engine.jobs": per_pass(lambda p: sum(g.jobs for g in p.run)),
        "engine.stages": per_pass(lambda p: sum(g.stages for g in p.run)),
        "engine.tasks": per_pass(lambda p: p.sum("numCompleteTasks")),
        "engine.task_run_s": per_pass(lambda p: p.sum("executorRunTime") / 1e3),
        "engine.task_cpu_s": per_pass(lambda p: p.task_cpu_s()),
        "engine.gc_s": per_pass(lambda p: p.sum("jvmGcTime") / 1e3),
        "engine.shuffle_read_mb": per_pass(lambda p: p.sum("shuffleReadBytes") / MB),
        "engine.shuffle_write_mb": per_pass(lambda p: p.sum("shuffleWriteBytes") / MB),
        "engine.spill_mb": per_pass(lambda p: p.sum("diskBytesSpilled") / MB),
        "engine.task_skew": per_pass(lambda p: max((g.task_skew for g in p.run), default=0.0)),
        "engine.busy_share": per_pass(
            lambda p: p.sum("executorRunTime") / 1e3 / (p.record["wall_s"] * cpus)),
        "engine.peak_exec_mem_mb": per_pass(
            lambda p: max((g.peak_exec_mem for g in p.run), default=0) / MB),
        "trace.overhead": traced_pass / _median(p.record["wall_s"] for p in plain),
    }
