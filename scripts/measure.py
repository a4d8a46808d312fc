"""The one measurement protocol behind ``bench.py`` and every probe script.

Session setup, the noop sink, warm-ups and GC barriers, the host-speed
calibration, load and CPU count, git provenance with the active
``SPARK_GRAFT_*`` knobs, plan text, and the persist-barrier cache release
live here once, so every artifact that compares timings was measured the
same way.

Importing this module puts the checkout it lives in at the front of
``sys.path``; ``get_spark`` hands the package's checkout to Spark's Python
workers (``spark.executorEnv.PYTHONPATH``), so driver and workers import
one tree whatever the working directory.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

#: committed fixtures; the smoke scale compiles a query's code and plan
#: shapes once, so timed runs measure steady-state execution, not codegen
FIXTURES = "/root/testdata"
SMOKE_DIR = f"{FIXTURES}/sf0.001"


def session(app: str, **conf):
    """``get_spark(app, **conf)`` with quiet logs."""
    from etl_for_ecol_fusion_database_spark.session import get_spark

    spark = get_spark(app, **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def materialize(df) -> None:
    """Compute every output column into Spark's no-op sink.  ``count()``
    would let Catalyst prune aggregate evaluation (q1_pricing_summary
    0.36 s under count vs 2.28 s computed at sf0.1 —
    docs/PROBE_PROFILE_SKETCH_r11.json)."""
    df.write.format("noop").mode("overwrite").save()


def _gc_barrier(spark) -> None:
    """Force a JVM collection outside the timing window (best-effort)."""
    try:
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.2)
    except Exception:
        pass


def _shuffle_totals(spark) -> tuple[int, int] | None:
    """Cumulative (shuffle read, shuffle write) bytes over all stages, from
    the AppStatusStore; None if that internal API changes shape."""
    try:
        sc = spark.sparkContext
        jvm = sc._jvm
        stages = sc._jsc.sc().statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList())
        read = write = 0
        it = stages.iterator()
        while it.hasNext():
            s = it.next()
            read += s.shuffleReadBytes()
            write += s.shuffleWriteBytes()
        return read, write
    except Exception:
        return None


def timed_runs(spark, fn, sf_dir: str, runs: int, warm_runs: int = 0,
               gc: bool = False) -> tuple[list[float], dict | None]:
    """Time ``runs`` noop-sink materializations of ``fn(spark, sf_dir)``.

    First an uncounted smoke-scale run (its failure is left to the timed
    runs to report), then ``warm_runs`` uncounted runs at ``sf_dir``; with
    ``gc`` a JVM collection precedes every full-scale run.  The plan is
    rebuilt per run: repeated actions on one DataFrame reuse materialized
    AQE stages.  Returns the run seconds and the first timed run's shuffle
    bytes (``{"read", "write"}``, None if unreadable); raises what a run
    raises."""
    if os.path.isdir(SMOKE_DIR) and os.path.abspath(sf_dir) != SMOKE_DIR:
        try:
            materialize(fn(spark, SMOKE_DIR))
        except Exception:
            pass
    for _ in range(warm_runs):
        if gc:
            _gc_barrier(spark)
        materialize(fn(spark, sf_dir))
    secs: list[float] = []
    shuffle = None
    for i in range(runs):
        if gc:
            _gc_barrier(spark)
        before = _shuffle_totals(spark) if i == 0 else None
        t0 = time.perf_counter()
        materialize(fn(spark, sf_dir))
        secs.append(round(time.perf_counter() - t0, 3))
        after = _shuffle_totals(spark) if i == 0 else None
        if before is not None and after is not None:
            shuffle = {"read": max(0, after[0] - before[0]),
                       "write": max(0, after[1] - before[1])}
    return secs, shuffle


def median(xs: list[float]) -> float:
    """The upper median (an element of ``xs``, as the committed sheets use)."""
    return sorted(xs)[len(xs) // 2]


def calibrate() -> float:
    """Single-thread host speed: seconds for 1M chained sha256 digests,
    recorded with every sheet so cross-host comparisons can normalize the
    machine out instead of blaming the engine."""
    x = b"calibration"
    t0 = time.perf_counter()
    for _ in range(1_000_000):
        x = hashlib.sha256(x).digest()
    return round(time.perf_counter() - t0, 3)


def host() -> dict:
    """1/5/15-min load averages (None where unavailable) and CPU count."""
    try:
        load = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        load = None
    return {"loadavg": load, "cpu_count": os.cpu_count()}


def provenance(repo: str = REPO, exclude: tuple[str, ...] = ()) -> dict:
    """HEAD, dirty flag and dirty paths of ``repo`` (``exclude`` paths, an
    instrument's own output, never count as dirt), every ``SPARK_GRAFT_*``
    variable set in this process (a non-default knob is recorded in the
    artifact it affected), and the class-data-sharing archive state of the
    driver JVM this process launched (``session.jvm_archive()``: state,
    path, bytes, key; None without a session, or with a package that
    predates the archive)."""
    session_mod = sys.modules.get("etl_for_ecol_fusion_database_spark.session")
    out = {
        "git_head": None, "git_dirty": None, "git_dirty_paths": [],
        "knobs": {k: v for k, v in sorted(os.environ.items())
                  if k.startswith("SPARK_GRAFT_")},
        "jvm_archive": getattr(session_mod, "jvm_archive", lambda: None)(),
    }
    try:
        out["git_head"] = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=repo,
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
        # a pathspec, not string-slicing of porcelain lines, so renames and
        # quoted paths are excluded correctly
        porcelain = subprocess.run(
            ["git", "status", "--porcelain", "--", ".",
             *(f":(exclude){p}" for p in exclude)],
            cwd=repo, capture_output=True, text=True, timeout=10,
        ).stdout
        # "XY path" lines: the leading status column is significant, so
        # the output is not stripped before slicing
        out["git_dirty_paths"] = sorted(
            line[3:] for line in porcelain.splitlines() if line.strip())
        out["git_dirty"] = bool(out["git_dirty_paths"]) if out["git_head"] else None
    except Exception:
        pass
    return out


def plan_text(df, mode: str) -> str:
    """``df``'s plan: ``"executed"`` is the physical plan as it stands (run
    the query first for AQE's final plan); any other mode is an
    ``explain`` mode (``"simple"``, ``"formatted"``, ...)."""
    qe = df._jdf.queryExecution()
    if mode == "executed":
        return qe.executedPlan().toString()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def release_barriers(spark) -> None:
    """Drop the DISK_ONLY relations persist-mode extraction barriers leave
    cached (their query cannot release them), between queries of a long
    session.  Nothing to do in the default local mode."""
    from etl_for_ecol_fusion_database_spark.operators.barrier import barrier_mode

    if barrier_mode() == "persist":
        spark.catalog.clearCache()
