"""One benchmark run: pinned environment, set-up, checked pass, timed passes.

``run(config)`` is the library entry point; ``perfbench/run.py`` is its
command line.  A run

1. pins and records the environment (``pin_environment``);
2. generates or reuses the seeded inputs (not timed);
3. sets the Spark session up: the package import, ``get_spark``, which
   launches the JVM, and a fixed warm-up job (``setup_s``; the process's one
   cold set-up, so JVM launch and the confs applied at launch are in it);
4. runs one uncounted pass with every op's output checked against the
   DuckDB oracle, then one uncounted plain pass, so the timed passes start
   on JIT-compiled code;
5. runs timed passes until ``config.seconds`` have elapsed, each op under
   its own Spark job group, with a host-speed calibration before every op
   and after the last (and around the set-up);
6. reads the AppStatusStore once and turns everything into metrics.

With ``config.trace`` the timed passes alternate untraced and traced; the
traced ones record spans around the package's public functions and give
the per-layer metrics, and the ratio of the two kinds' median pass times is
the tracing overhead.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
import uuid
from dataclasses import dataclass, field

from . import inputs as _inputs
from . import metrics as _metrics
from .trace import Patch, Tracer

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "etl_for_ecol_fusion_database_spark"
#: plan-selector variables a measured run must not inherit
PLAN_SELECTORS = (
    "SPARK_GRAFT_REBALANCE", "SPARK_GRAFT_PROFILE_SKETCH",
    "SPARK_GRAFT_BARRIER", "SPARK_GRAFT_MATERIALIZE",
)
DRIVER_MEM = "4g"


@dataclass
class RunConfig:
    workload: str
    seed: int
    seconds: float
    trace: bool = False
    #: overrides the workload's input scale (the smoke tests use a tiny one)
    scale: float | None = None
    work_dir: str = os.path.join(REPO, ".perfbench")


@dataclass
class OpRecord:
    pass_no: int
    op: str
    family: str
    group: str
    wall: float
    traced: bool
    error: str | None = None


@dataclass
class RunState:
    setup: dict = field(default_factory=dict)
    checks: list[dict] = field(default_factory=list)
    ops: list[OpRecord] = field(default_factory=list)
    passes: list[dict] = field(default_factory=list)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def calibration() -> tuple[float, float]:
    """(wall, CPU) seconds for ``CAL_DIGESTS`` chained sha256 digests, the
    mean of five tries: how fast the host runs this process right now.  The
    wall time counts the CPU time the hypervisor takes (steal), as walls do;
    the CPU time does not, as CPU times do not."""
    x = b"calibration"
    t0, c0 = time.perf_counter(), time.thread_time()
    for _ in range(5 * _metrics.CAL_DIGESTS):
        x = hashlib.sha256(x).digest()
    return (time.perf_counter() - t0) / 5, (time.thread_time() - c0) / 5


def _steal_s() -> float:
    """CPU time the hypervisor took from this host's CPUs since boot."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _git_state() -> dict:
    if not os.path.isdir(os.path.join(REPO, ".git")):
        return {"head": None, "dirty": None}
    try:
        head = subprocess.run(["git", "-C", REPO, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip()
        dirty = subprocess.run(["git", "-C", REPO, "status", "--porcelain"], capture_output=True,
                               text=True, timeout=10).stdout.strip() != ""
        return {"head": head, "dirty": dirty}
    except (OSError, subprocess.SubprocessError):
        return {"head": None, "dirty": None}


def pin_environment(run_dir: str) -> dict:
    """Pin what the measured process and its Spark workers see; return the
    record of it.  Must run before the JVM starts."""
    inherited = {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")}
    for k in PLAN_SELECTORS:
        os.environ.pop(k, None)
    cpus = cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the Arrow kernels are pickled by reference: workers import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # the JVMs would otherwise write their perf-data files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    tempfile.tempdir = None
    return {
        "cpus": cpus,
        "inherited_spark_graft": inherited,
        "pinned": {k: os.environ[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "python": sys.version.split()[0],
    }


def _spark_conf(run_dir: str) -> dict[str, str]:
    tmp = os.path.join(run_dir, "tmp")
    return {
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
    }


def _warmup(spark) -> None:
    """The fixed warm-up: one small shuffle aggregation."""
    spark.sparkContext.setJobGroup("warmup", "warmup")
    spark.range(1 << 18).selectExpr("id % 101 AS k").groupBy("k").count().collect()


def _order(stages, seed: int, pass_no: int) -> list:
    rng = random.Random(f"{seed}:{pass_no}")
    out = []
    for stage in stages:
        ops = list(stage)
        rng.shuffle(ops)
        out.extend(ops)
    return out


def _trace_targets():
    """(owner, attribute, span name) of the public functions traced."""
    from etl_for_ecol_fusion_database_spark import catalog
    from etl_for_ecol_fusion_database_spark.plans import fusion_etl, valid_collisions
    from etl_for_ecol_fusion_database_spark.sources.writers import ParquetSink
    from etl_for_ecol_fusion_database_spark.streaming import docs_stream

    def table_bytes(spark, sf_dir, name, *args, **kwargs) -> dict:
        path = catalog.table_path(sf_dir, name)
        if os.path.isfile(path):
            return {"bytes": os.path.getsize(path)}
        return {"bytes": sum(os.path.getsize(os.path.join(d, f))
                             for d, _, files in os.walk(path) for f in files)}

    return [
        (catalog, "load_table", "catalog.load_table", table_bytes),
        (catalog, "load_table_rebalanced", "catalog.load_table_rebalanced"),
        (catalog, "load_sampled", "catalog.load_sampled"),
        (valid_collisions, "flagship", "plans.flagship"),
        (valid_collisions, "flagship_flag", "plans.flagship_flag"),
        (fusion_etl, "fusion_collisions_transform", "plans.fusion_transform"),
        (fusion_etl, "write_fusion_table", "plans.write_fusion_table"),
        (ParquetSink, "overwrite", "sources.overwrite"),
        (docs_stream, "run_curation_to_parquet", "streaming.run_curation"),
    ]


def run(config: RunConfig) -> dict:
    """Run one workload; return ``{"result": <final line>, "detail": {...}}``.
    Raises ValueError for an unknown workload."""
    t_process = time.perf_counter()
    # importing the package (pyspark, the query registry) is set-up work
    from .workloads import WORKLOADS

    import_s = time.perf_counter() - t_process
    if config.workload not in WORKLOADS:
        raise ValueError(f"unknown workload {config.workload!r}; one of {sorted(WORKLOADS)}")
    wl = WORKLOADS[config.workload]
    scale = wl.scale if config.scale is None else config.scale
    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(config.work_dir, "runs", f"{config.workload}-{run_id}")
    env = pin_environment(run_dir)
    env["git"] = _git_state()
    env["loadavg_before"] = os.getloadavg()
    env["steal_s"] = -_steal_s()
    try:
        return _run(config, wl, scale, run_id, run_dir, env, t_process, import_s)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(config, wl, scale, run_id, run_dir, env, t_process, import_s) -> dict:
    from etl_for_ecol_fusion_database_spark.session import get_spark

    from .oracle import Oracle
    from .spark_stats import ProcessCpu, StatusStore, StreamProgress, group_stats
    from .workloads import Context

    t0 = time.perf_counter()
    inp = _inputs.prepare(config.work_dir, config.seed, scale)
    inputs_s = time.perf_counter() - t0

    state = RunState()
    spark = None
    try:
        # host-speed calibrations around the set-up and before every timed op
        env["cal_setup_s"] = [calibration() for _ in range(3)]
        t0 = time.perf_counter()
        spark = get_spark("perfbench", extra_conf=_spark_conf(run_dir))
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        _warmup(spark)
        state.setup = {"import_s": import_s, "start_s": t1 - t0,
                       "warmup_s": time.perf_counter() - t1}
        env["cal_setup_s"] += [calibration() for _ in range(3)]
        proc = ProcessCpu(int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
        oracle = Oracle(inp.path, _inputs.TABLES, os.path.join(inp.path, "oracle-digests.json"))
        ctx = Context(spark, inp.path, os.path.join(run_dir, "out"), oracle)

        # the checked pass: uncounted, and every op's first execution
        for op in _order(wl.stages, config.seed, -1):
            t0 = time.perf_counter()
            try:
                ok, info = op.check(ctx, f"check/{op.name}")
                err = None
            except Exception:
                ok, info, err = False, {}, traceback.format_exc(limit=8)
            state.checks.append({"op": op.name, "ok": ok, "wall_s": time.perf_counter() - t0,
                                 "error": err, **info})
        oracle.close()

        def run_op(op, pass_no: int, group: str, traced: bool) -> None:
            t0 = time.perf_counter()
            err = None
            try:
                with ctx.span(f"op.{op.name}"):
                    op.run(ctx, group)
            except Exception:
                err = traceback.format_exc(limit=8)
            state.ops.append(OpRecord(pass_no, op.name, op.family, group,
                                      time.perf_counter() - t0, traced, err))

        # the warm pass: uncounted; its ops count as attempted, not timed
        for op in _order(wl.stages, config.seed, -2):
            run_op(op, -2, f"warm/{op.name}", False)
        time_to_first_op = time.perf_counter() - t_process

        tracer = Tracer(run_id) if config.trace else None
        stream = StreamProgress(spark) if config.trace else None
        peak_rss = 0
        cals = env["cal_pass_s"] = []
        t_measure = time.perf_counter()
        pass_no = 0
        min_passes = 2 if config.trace else 1
        last_wall = 0.0
        # a pass starts only if it is expected to end less than half a pass
        # past the deadline, so the measured time stays near config.seconds
        while (pass_no < min_passes
               or time.perf_counter() - t_measure + last_wall / 2 < config.seconds):
            # traced and untraced passes alternate T U U T, so neither kind
            # always runs first
            traced = config.trace and pass_no % 4 in (0, 3)
            patch = Patch(tracer, PACKAGE, _trace_targets()) if traced else None
            ctx.tracer = tracer if traced else None
            first_span = len(tracer.spans) if tracer else 0
            cpu0 = proc.sample()
            steal0 = _steal_s()
            try:
                for op in _order(wl.stages, config.seed, pass_no):
                    cals.append(calibration())
                    run_op(op, pass_no, f"p{pass_no}/{op.name}", traced)
                    if traced:
                        peak_rss = max(peak_rss, proc.sample()["rss_bytes"])
            finally:
                if patch:
                    patch.remove()
                ctx.tracer = None
            wall = last_wall = sum(o.wall for o in state.ops if o.pass_no == pass_no)
            cpu1 = proc.sample()
            state.passes.append({
                "pass": pass_no, "traced": traced, "wall_s": wall,
                "python_cpu_s": cpu1["python_cpu_s"] - cpu0["python_cpu_s"],
                "steal_s": _steal_s() - steal0,
                "files_written": wl.output_files(ctx),
                "spans": (first_span, len(tracer.spans) if tracer else 0),
            })
            pass_no += 1
        cals.append(calibration())
        measured_s = time.perf_counter() - t_measure

        store = StatusStore(spark)
        groups = group_stats(store.jobs(), store.stages(with_tasks=config.trace))
        progress = stream.take() if stream else []
        if stream:
            stream.close()
        env["loadavg_after"] = os.getloadavg()
        env["steal_s"] += _steal_s()
        if tracer:
            tracer.write(os.path.join(config.work_dir, f"spans-{config.workload}-{run_id}.json"))
        return _metrics.report(
            wl=wl, config=config, state=state, groups=groups, inputs=inp,
            cpus=env["cpus"], tracer=tracer, progress=progress, peak_rss=peak_rss,
            env={**env, "run_id": run_id, "scale": scale, "inputs_s": inputs_s,
                 "time_to_first_op_s": time_to_first_op, "measured_s": measured_s},
        )
    finally:
        if spark is not None:
            spark.stop()
        _shutdown_gateway()


def _shutdown_gateway() -> None:
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except (OSError, AttributeError):
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
