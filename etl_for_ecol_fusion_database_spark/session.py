"""SparkSession factory and parity-critical config pinning.

The reference's timestamp semantics are timezone-naive (PostgreSQL
``timestamp without time zone``; type maps at
/root/reference/helper_db_operation.py:178-181,214-217) and its pandas
datetime parsing is lenient (``errors='coerce'`` at
/root/reference/etl_ecollision_fusion_table_collisions.py:29).  Spark 4
defaults to ANSI mode (raise on bad casts) and session-TZ-relative
timestamps, so both knobs are pinned here — see SURVEY.md §7.3 items 1 & 5.

``pin_parity_conf`` only touches runtime-settable SQLConf entries so it is
safe to call on a session we did not create (the driver owns the session in
``__spark_entry__.queries()`` callables).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import subprocess
import threading
import time

from pyspark.sql import SparkSession

#: runtime-settable conf required for reference/oracle parity
PARITY_CONF: dict[str, str] = {
    # naive-timestamp parity with the DuckDB oracle and the reference's
    # `timestamp without time zone` columns
    "spark.sql.session.timeZone": "UTC",
    # pandas to_datetime(errors='coerce') parity: NULL on unparseable input
    "spark.sql.ansi.enabled": "false",
    # map Arrow interop for any pandas_udf extension operators
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

#: session-level conf for scale posture (AQE re-plans shuffles at runtime,
#: coalesces small partitions and splits skewed ones — SURVEY.md §4)
SCALE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # NOTE on the AQE wide-start posture (initialPartitionNum >> conf):
    # round 10 trialled it globally at 2048 to keep the sf100 MinHash
    # SHJ builds bounded, and it worked — but it taxed EVERY small-scale
    # exchange ~0.2-0.5 s (map side writes 2048 buckets; cached plans
    # materialized at full width until canChangeCachedPlanOutputPartitioning
    # was also flipped), a +5% sf0.1 bench headline for a property only
    # the corpus-scaled joins need.  The engine instead pins BOTH sides
    # of those joins to corpus-derived REPARTITION_BY_NUM widths
    # (operators/dedup.minhash_lsh_pairs corpus_count) — user exchanges
    # on both sides co-partition at the user width with no session-wide
    # cost.  On a real cluster, size spark.sql.shuffle.partitions (or
    # re-add initialPartitionNum) for the data; locally the conf default
    # stays CPU-count.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}

#: launch conf for the Python workers (not parity: results do not depend
#: on it).  ``pyspark_ecol_worker`` (beside the package) stops every task
#: from re-parsing ``pyspark.zip``; the name must start with ``pyspark``,
#: or ``pyspark.daemon`` silently falls back to ``pyspark.worker``.
WORKER_CONF: dict[str, str] = {
    "spark.python.worker.module": "pyspark_ecol_worker",
}

#: launch conf for a ``local`` or ``local[...]`` master (not parity:
#: results do not depend on it).  Streaming checkpoints (offset and commit
#: logs, sink metadata, state schemas and state-store deltas) go through
#: the FileSystem checkpoint manager.  The default FileContext manager
#: renames each temp file with ``AbstractFileSystem.renameInternal``, which
#: on ``file:`` calls ``getFileLinkStatus`` on both paths; without
#: libhadoop each call forks a ``readlink`` shell from the driver JVM, ~3 ms
#: each and ~120 per curation replay.  Nothing is lost: on ``file:`` both
#: managers check the destination first and then make the same POSIX
#: rename; the FileSystem manager checks with ``File.exists``.  (Spark
#: before 4.1 keeps the class one package up, in ``...execution.streaming``.)
LOCAL_CONF: dict[str, str] = {
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager",
}

#: the directory holding the package and the worker module
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: seconds the interpreter waits at exit for the JVM it launched to stop its
#: context and end; a JVM still running past it is left to end on the EOF
#: of its stdin, and no archive is dumped
JVM_EXIT_WAIT_S = 30.0
#: seconds the creating interpreter gives ``java -Xshare:dump`` at exit
#: (~30 s on 4 vCPUs) before it kills the dump and publishes nothing
DUMP_WAIT_S = 180.0

# the archive state of the driver JVM get_spark launched in this process
_jvm_archive: dict | None = None


def pin_parity_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable parity conf to an existing session."""
    for k, v in PARITY_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable on this build: leave session default
            pass
    return spark


def archive_dir() -> str:
    """The per-user cache of driver-JVM class-data-sharing archives."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "etl_for_ecol_fusion_database_spark", "jvm-cds")


def jvm_archive() -> dict | None:
    """How the driver JVM that :func:`get_spark` launched in this process
    uses its class-data-sharing archive: ``{"state", "path", "bytes",
    "key"}`` with ``state`` one of ``used`` (the JVM mapped it),
    ``rejected`` (handed to the JVM, which refused it and runs without
    class-data sharing), ``created`` (this JVM
    records its class list; the archive is dumped from it and published at
    interpreter exit) or ``skipped:<reason>``; None if it launched none."""
    return dict(_jvm_archive) if _jvm_archive else None


#: CDS log lines go to stderr, never to stdout (the JVM's default)
_CDS_LOG = ["-Xlog:cds*=off", "-Xlog:cds*=warning:stderr"]


def _stat_line(path: str) -> str:
    st = os.stat(path)
    return f"{path} {st.st_size} {st.st_mtime_ns}\n"


def _alive(pid: int) -> bool:
    """Whether process ``pid`` runs (a zombie does not)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return True


#: JVM options that install a class-file-load hook.  With the archive
#: mapped, ``-XX:StartFlightRecording`` kills the JDK 17 driver JVM at its
#: first job (SIGSEGV in ``KlassFactory::check_shared_class_file_load_hook``);
#: the agents use the same hook, but that they crash too is not verified
_AGENT_OPTIONS = ("-XX:StartFlightRecording", "-javaagent:", "-agentlib:", "-agentpath:")


def _plan_archive(java_options: str) -> tuple[dict, list[str], str | None]:
    """(state, driver JVM options, conf dir to launch with) for a JVM about
    to launch with the caller's ``java_options``.  The archive holds JDK
    and Spark classes only, so its key is the ``java`` binary, ``libjvm``
    and the Spark jar listing."""
    from pyspark.find_spark_home import _find_spark_home

    state = {"state": None, "path": None, "bytes": None, "key": None}

    def skip(reason: str) -> tuple[dict, list[str], None]:
        return {**state, "state": f"skipped:{reason}"}, [], None

    if any(a in java_options for a in _AGENT_OPTIONS):
        return skip("jvm-agent")
    home = _find_spark_home()
    # CDS refuses a non-empty directory on the classpath, and the launcher
    # puts the conf directory first: an empty one stands in for it only
    # when it holds nothing but templates
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(home, "conf")
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        return skip("conf-dir")
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return skip("extra-classpath")
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME")
            else shutil.which("java"))
    java = os.path.realpath(java) if java else ""
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    jars = os.path.join(home, "jars")
    try:
        # the format tag keeps a dynamic archive of the same JDK and Spark
        # (which maps over the JDK's own, so the JVM reports sharing even
        # when it refuses it) from being taken for a static one
        state["key"] = hashlib.sha256("".join(
            ["static\n", _stat_line(java), _stat_line(libjvm)]
            + [_stat_line(os.path.join(jars, f)) for f in sorted(os.listdir(jars))]
        ).encode()).hexdigest()[:16]
    except OSError:
        return skip("no-java-or-jars")
    root = archive_dir()
    jsa = state["path"] = os.path.join(root, f"{state['key']}.jsa")
    empty = os.path.join(root, "empty-conf")
    try:
        os.makedirs(empty, exist_ok=True)
    except OSError:
        return skip("cache-unwritable")
    if os.listdir(empty):
        return skip("conf-dir")
    if os.path.isfile(jsa):
        size = os.path.getsize(jsa)
        if _sidecar_size(jsa) != size:
            return skip("size-mismatch")
        return ({**state, "state": "used", "bytes": size},
                [f"-XX:SharedArchiveFile={jsa}", *_CDS_LOG], empty)
    # each key is dumped once: this claim, holding the claimant's pid,
    # stays behind if the dump fails
    try:
        fd = os.open(f"{jsa}.tried", os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        _remove_orphans(jsa)
        return skip("dump-tried")
    except OSError:
        return skip("cache-unwritable")
    os.write(fd, str(os.getpid()).encode())
    os.close(fd)
    return ({**state, "state": "created"},
            [f"-XX:DumpLoadedClassList={jsa}.classlist-{os.getpid()}", *_CDS_LOG], empty)


def _remove_orphans(jsa: str) -> None:
    """Delete the class list and partial archive of a claimant that died
    without its exit hook (SIGTERM, SIGKILL, ``os._exit``)."""
    try:
        with open(f"{jsa}.tried") as fh:
            pid = int(fh.read())
    except (OSError, ValueError):
        return
    if pid != os.getpid() and not _alive(pid):
        _remove(f"{jsa}.classlist-{pid}", f"{jsa}.tmp-{pid}", f"{jsa}.tmp-{pid}.size")


def _remove(*paths: str) -> None:
    for path in paths:
        try:
            os.remove(path)
        except OSError:
            pass


def _sidecar_size(jsa: str) -> int | None:
    """The archive size recorded when ``jsa`` was published."""
    try:
        with open(f"{jsa}.size") as fh:
            return int(fh.read())
    except (OSError, ValueError):
        return None


def _await_jvm(proc: subprocess.Popen, state: dict, dump: list[str] | None) -> None:
    """At interpreter exit: stop a context still running on the JVM this
    process launched, end the JVM (EOF on its stdin) and wait for it, all
    within :data:`JVM_EXIT_WAIT_S`.  A JVM still running then is left to
    end on its own, as it would without this hook.  If the JVM recorded
    its class list and exited with 0, dump the archive (``dump``: the
    ``java -Xshare:dump`` command) and publish it."""
    from pyspark import SparkContext

    deadline = time.monotonic() + JVM_EXIT_WAIT_S
    sc = SparkContext._active_spark_context
    if sc is not None and proc.poll() is None and getattr(sc._gateway, "proc", None) is proc:
        # a context left running would see its JVM vanish: the accumulator
        # server thread prints an EOFError traceback.  sc.stop() talks to
        # the JVM without a timeout, so it runs on a thread held to the
        # deadline
        stopper = threading.Thread(target=_stop_quietly, args=(sc,), daemon=True)
        stopper.start()
        stopper.join(max(0.0, deadline - time.monotonic()))
    try:
        proc.stdin.close()
    except (OSError, AttributeError):
        pass
    try:
        rc = proc.wait(timeout=max(0.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        return
    if dump is not None:
        if rc == 0:
            _dump_archive(state["path"], dump)
        _remove(f"{state['path']}.classlist-{os.getpid()}")


def _stop_quietly(sc) -> None:
    try:
        sc.stop()
    except Exception:
        pass


def _dump_archive(jsa: str, dump: list[str]) -> None:
    """Run ``dump`` with a bound and, after exit code 0, publish the
    archive it wrote: the size sidecar first, then the archive by
    ``os.replace``, so a reader never maps a partial file.  A failed dump
    leaves its claim behind."""
    tmp = f"{jsa}.tmp-{os.getpid()}"
    try:
        proc = subprocess.Popen(dump, stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            rc = proc.wait()
        if rc == 0 and os.path.getsize(tmp) > 0:
            with open(f"{tmp}.size", "w") as fh:
                fh.write(str(os.path.getsize(tmp)))
            os.replace(f"{tmp}.size", f"{jsa}.size")
            os.replace(tmp, jsa)
            os.remove(f"{jsa}.tried")
    except OSError:
        pass
    _remove(tmp, f"{tmp}.size")


def _dump_command(jvm, jsa: str) -> list[str]:
    """The static dump of the class list the running JVM records: the
    same ``java``, classpath, heap size and added modules, so the archive
    matches the JVMs that later map it."""
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    flags = [a for a in runtime.getInputArguments()
             if a.startswith(("-Xmx", "--add-modules"))]
    return [os.path.join(jvm.System.getProperty("java.home"), "bin", "java"),
            "-Xshare:dump", f"-XX:SharedClassListFile={jsa}.classlist-{os.getpid()}",
            f"-XX:SharedArchiveFile={jsa}.tmp-{os.getpid()}", *flags,
            "-Xlog:cds*=off", "-Xlog:cds*=error:stderr",
            "-cp", jvm.System.getProperty("java.class.path")]


def get_spark(
    app_name: str = "etl-for-ecol-fusion-database-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for local[N] testing.

    On a real cluster the same declarative plans run unchanged; only
    ``master`` / partition counts differ (AQE owns shuffle sizing either
    way).  The Python workers get :data:`PACKAGE_ROOT` on their path
    (ahead of any ``spark.executorEnv.PYTHONPATH`` in ``extra_conf``), so
    they import this package and the worker module from any working
    directory.

    When this call launches the driver JVM, the JVM maps a class-data-
    sharing archive of the JDK and Spark classes from :func:`archive_dir`
    (``-XX:SharedArchiveFile``, merged into any
    ``spark.driver.extraJavaOptions`` in ``extra_conf``).  When none is
    published yet, the JVM records the classes it loads and the
    interpreter dumps the archive from that list at exit;
    :func:`jvm_archive` reports which.  Either way the interpreter waits
    at exit, with a bound, for the JVM to end.
    """
    global _jvm_archive
    from pyspark import SparkContext

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    local = LOCAL_CONF if master.split("[")[0] == "local" else {}
    for k, v in {**SCALE_CONF, **WORKER_CONF, **local, **PARITY_CONF}.items():
        builder = builder.config(k, v)
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    builder = builder.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    builder = builder.config("spark.ui.enabled", "false")
    builder = builder.config("spark.ui.showConsoleProgress", "false")
    conf = dict(extra_conf or {})
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (PACKAGE_ROOT, conf.get("spark.executorEnv.PYTHONPATH")) if p)
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    state, opts, conf_dir = (_plan_archive(conf.get("spark.driver.extraJavaOptions", ""))
                             if launching else (None, [], None))
    if opts:
        conf["spark.driver.extraJavaOptions"] = " ".join(
            o for o in (conf.get("spark.driver.extraJavaOptions"), *opts) if o)
    for k, v in conf.items():
        builder = builder.config(k, v)
    # the launcher reads SPARK_CONF_DIR from the environment of this launch
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir and saved is None:
            del os.environ["SPARK_CONF_DIR"]
        elif conf_dir:
            os.environ["SPARK_CONF_DIR"] = saved
    if launching:
        jvm = SparkContext._jvm
        dump = None
        if state["state"] == "used" and "sharing" not in jvm.System.getProperty("java.vm.info"):
            state["state"] = "rejected"
        elif state["state"] == "created":
            dump = _dump_command(jvm, state["path"])
        _jvm_archive = state
        # the gateway's Popen, held here: callers may drop SparkContext._gateway
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            atexit.register(_await_jvm, proc, state, dump)
    return pin_parity_conf(spark)
