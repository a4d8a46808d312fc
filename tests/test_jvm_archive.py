"""The driver JVM's class-data-sharing archive (``session.get_spark``).

Every case runs ``get_spark`` in a child interpreter with its own
``XDG_CACHE_HOME``, so the archive cache under test is a temporary
directory.  In each, the session starts, a query returns its known rows,
and no CDS log line reaches the child's stdout.

- Publication: a session with an empty cache records its JVM's class
  list, dumps the archive from it at interpreter exit and publishes
  exactly one ``<key>.jsa`` plus its size sidecar before its interpreter
  returns (so no JVM outlives it); the next session maps it.  A session
  whose dump is killed while it writes publishes nothing, and the next
  session does not dump that key again.  A claimant that dies without its
  exit hook leaves files the next session removes.
- Exit: a session whose JVM is stopped (SIGSTOP) still lets its
  interpreter return within the exit bound.
- Fallbacks: a truncated archive whose size differs from the sidecar, an
  archive built for another classpath, a cache that cannot be written,
  and a conf directory holding a real ``spark-defaults.conf`` (whose
  property must reach the session, with no archive).
- Flight recording: a session started with ``-XX:StartFlightRecording``
  over a published archive maps no archive (with one, the JVM crashes at
  its first job), runs its jobs and a curation stream replay, and the
  recording shows the replay forked no ``readlink``: local checkpoints go
  through the FileSystem checkpoint manager (``session.LOCAL_CONF``).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import signal
import sys
import tempfile
import time
from collections import Counter

import pytest

from etl_for_ecol_fusion_database_spark import session as session_mod
from .conftest import SF_SMOKE

REPO = session_mod.PACKAGE_ROOT
#: the query every child runs, and its rows
EXPECTED = sorted(Counter(i % 7 for i in range(1000)).items())

CHILD = r"""
import atexit, json, os, signal, subprocess, sys, threading, time
sys.path.insert(0, {repo!r})
from etl_for_ecol_fusion_database_spark import session
t_start = []
# registered first, so it runs after the session's exit hook
atexit.register(lambda: t_start and print("EXIT_HOOKS_S", time.monotonic() - t_start[0], flush=True))
spark = session.get_spark("jvm-archive", master="local[1]", shuffle_partitions=1,
                          extra_conf={extra!r})
sc = spark.sparkContext
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k").collect()
print("RESULT " + json.dumps({{
    "archive": session.jvm_archive(),
    "rows": [list(r) for r in rows],
    "pid": os.getpid(),
    "jvm_pid": sc._gateway.proc.pid,
    "java_options": sc.getConf().get("spark.driver.extraJavaOptions") or "",
    "marker": spark.conf.get("spark.ecol.test.marker", None),
}}), flush=True)
mode = {mode!r}
if mode == "kill_dump":
    # kill the dump once it has written part of the archive
    popen = subprocess.Popen
    def killing_popen(cmd, *args, **kwargs):
        proc = popen(cmd, *args, **kwargs)
        tmp = session.jvm_archive()["path"] + f".tmp-{{os.getpid()}}"
        def kill():
            deadline = time.time() + 240
            while proc.poll() is None and time.time() < deadline and not (
                    os.path.exists(tmp) and os.path.getsize(tmp) > 0):
                time.sleep(0.002)
            size = os.path.getsize(tmp) if os.path.exists(tmp) else 0
            proc.kill()
            print("KILLED_AT", size, proc.wait(), flush=True)
        threading.Thread(target=kill).start()
        return proc
    subprocess.Popen = killing_popen
elif mode == "stop_jvm":
    session.JVM_EXIT_WAIT_S = 5.0
    os.kill(sc._gateway.proc.pid, signal.SIGSTOP)
    t_start.append(time.monotonic())
elif mode == "sigterm":
    os.kill(os.getpid(), signal.SIGTERM)
elif mode == "replay":
    from etl_for_ecol_fusion_database_spark import registry
    n = registry.QUERIES["x5_stream_curation_replay"](spark, {sf!r}).count()
    print("REPLAY_ROWS", n, flush=True)
"""


def _child(cache: str, *, mode: str = "", returncode: int = 0, extra: dict | None = None, **env):
    """Run one session in a child; return its report and the finished
    process."""
    full = dict(os.environ, XDG_CACHE_HOME=cache, SPARK_GRAFT_CPUS="1",
                SPARK_GRAFT_DRIVER_MEM="1g", **env)
    # files, not pipes: a JVM left running holds its copy of them open
    with tempfile.TemporaryFile("w+") as fo, tempfile.TemporaryFile("w+") as fe:
        code = CHILD.format(repo=REPO, mode=mode, extra=extra or {}, sf=SF_SMOKE)
        rc = subprocess.run([sys.executable, "-c", code],
                            stdout=fo, stderr=fe, timeout=600, env=full, cwd=REPO).returncode
        fo.seek(0)
        fe.seek(0)
        out = subprocess.CompletedProcess([], rc, fo.read(), fe.read())
    assert out.returncode == returncode, out.stderr[-3000:]
    assert "[cds" not in out.stdout, out.stdout[-3000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT ")]
    assert len(lines) == 1, out.stdout[-3000:]
    report = json.loads(lines[0][len("RESULT "):])
    assert [tuple(r) for r in report["rows"]] == EXPECTED
    return report, out


def _cache_files(cache: str) -> set[str]:
    root = os.path.join(cache, "etl_for_ecol_fusion_database_spark", "jvm-cds")
    return set(os.listdir(root)) if os.path.isdir(root) else set()


def _no_archive(java_options: str) -> bool:
    return "SharedArchiveFile" not in java_options and "DumpLoadedClassList" not in java_options


def _alive(pid: int) -> bool:
    return session_mod._alive(pid)


def _await_exit(pid: int, timeout: float = 60.0) -> None:
    deadline = time.monotonic() + timeout
    while _alive(pid) and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not _alive(pid), f"process {pid} still runs"


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    """A cache in which one child created and published the archive."""
    cache = str(tmp_path_factory.mktemp("cds-published"))
    report, _ = _child(cache)
    return cache, report


def test_creating_session_publishes_one_archive_before_it_returns(published):
    cache, report = published
    arch = report["archive"]
    assert arch["state"] == "created" and arch["bytes"] is None
    assert "-XX:DumpLoadedClassList=" in report["java_options"]
    key = arch["key"]
    assert _cache_files(cache) == {"empty-conf", f"{key}.jsa", f"{key}.jsa.size"}
    size = os.path.getsize(arch["path"])
    assert size > 1 << 20
    with open(arch["path"] + ".size") as fh:
        assert int(fh.read()) == size
    assert not _alive(report["jvm_pid"]), "the JVM outlived the interpreter that started it"


def test_published_archive_is_used(published):
    cache, created = published
    before = _cache_files(cache)
    report, _ = _child(cache)
    arch = report["archive"]
    assert arch["state"] == "used" and arch["key"] == created["archive"]["key"]
    assert arch["bytes"] == os.path.getsize(arch["path"])
    assert f"-XX:SharedArchiveFile={arch['path']}" in report["java_options"]
    assert _cache_files(cache) == before
    assert not _alive(report["jvm_pid"])


def test_killed_dump_publishes_nothing_and_is_not_retried(tmp_path):
    cache = str(tmp_path)
    report, out = _child(cache, mode="kill_dump")
    key = report["archive"]["key"]
    assert report["archive"]["state"] == "created"
    # killed by SIGKILL with part of the archive written
    killed_at, rc = out.stdout.split("KILLED_AT")[1].split()[:2]
    assert int(killed_at) > 0 and int(rc) == -9
    assert _cache_files(cache) == {"empty-conf", f"{key}.jsa.tried"}
    again, _ = _child(cache)
    assert again["archive"]["state"] == "skipped:dump-tried"
    assert _no_archive(again["java_options"])
    assert _cache_files(cache) == {"empty-conf", f"{key}.jsa.tried"}


def test_claimant_killed_before_its_exit_hook_leaves_no_orphans(tmp_path):
    cache = str(tmp_path)
    report, _ = _child(cache, mode="sigterm", returncode=-signal.SIGTERM)
    key, pid = report["archive"]["key"], report["pid"]
    # the JVM ends on the EOF of its stdin and leaves its class list behind
    _await_exit(report["jvm_pid"])
    assert _cache_files(cache) == {"empty-conf", f"{key}.jsa.classlist-{pid}", f"{key}.jsa.tried"}
    # and a dump it had started would have left a partial archive
    with open(report["archive"]["path"] + f".tmp-{pid}", "wb") as fh:
        fh.write(b"partial")
    again, _ = _child(cache)
    assert again["archive"]["state"] == "skipped:dump-tried"
    assert _cache_files(cache) == {"empty-conf", f"{key}.jsa.tried"}


def test_stopped_jvm_does_not_hold_the_interpreter(published):
    report, out = _child(published[0], mode="stop_jvm")
    try:
        assert report["archive"]["state"] == "used"
        waited = float(out.stdout.split("EXIT_HOOKS_S")[1].split()[0])
        assert waited < 5.0 + 2.0, waited
        assert _alive(report["jvm_pid"])
    finally:
        if _alive(report["jvm_pid"]):
            os.kill(report["jvm_pid"], signal.SIGKILL)
    _await_exit(report["jvm_pid"])


def _copy_archive(published, cache: str, size: int | None = None) -> str:
    """The published archive copied into ``cache`` (its first ``size``
    bytes), with the full archive's size in the sidecar."""
    src = published[1]["archive"]["path"]
    root = os.path.join(cache, "etl_for_ecol_fusion_database_spark", "jvm-cds")
    os.makedirs(root)
    dst = os.path.join(root, os.path.basename(src))
    with open(src, "rb") as fi, open(dst, "wb") as fo:
        if size is None:
            shutil.copyfileobj(fi, fo)
        else:
            fo.write(fi.read(size))
    shutil.copy(src + ".size", dst + ".size")
    return dst


def test_truncated_archive_is_not_used(published, tmp_path):
    jsa = _copy_archive(published, str(tmp_path),
                        size=os.path.getsize(published[1]["archive"]["path"]) // 2)
    report, _ = _child(str(tmp_path))
    assert report["archive"]["state"] == "skipped:size-mismatch"
    assert report["archive"]["path"] == jsa
    assert _no_archive(report["java_options"])


def test_archive_for_another_classpath_is_rejected(published, tmp_path):
    # the classpath starts with the cache's own empty conf directory, so an
    # archive dumped under another cache does not match this one's
    jsa = _copy_archive(published, str(tmp_path))
    report, _ = _child(str(tmp_path))
    assert report["archive"]["state"] == "rejected"
    assert f"-XX:SharedArchiveFile={jsa}" in report["java_options"]


def test_unwritable_cache_starts_without_archive(tmp_path):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    report, _ = _child(str(blocker / "cache"))
    assert report["archive"]["state"] == "skipped:cache-unwritable"
    assert _no_archive(report["java_options"])


def test_real_conf_dir_keeps_its_defaults_and_uses_no_archive(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ecol.test.marker  42\n")
    cache = str(tmp_path / "cache")
    report, _ = _child(cache, SPARK_CONF_DIR=str(conf))
    assert report["marker"] == "42"
    assert report["archive"]["state"] == "skipped:conf-dir"
    assert _no_archive(report["java_options"])
    assert _cache_files(cache) == set()


@pytest.fixture(scope="module")
def flight_recording(published, tmp_path_factory):
    """A session over the published archive with a JFR recording on,
    which replays the curation stream: its report, its output and the
    commands of the processes its JVM started."""
    rec = str(tmp_path_factory.mktemp("jfr") / "session.jfr")
    report, out = _child(published[0], mode="replay", extra={
        "spark.driver.extraJavaOptions": f"-XX:StartFlightRecording=filename={rec},dumponexit=true"})
    jfr = os.path.join(os.path.dirname(os.path.realpath(shutil.which("java"))), "jfr")
    printed = subprocess.run([jfr, "print", "--events", "jdk.ProcessStart,jdk.JVMInformation",
                              "--json", rec], capture_output=True, text=True, check=True)
    events = json.loads(printed.stdout)["recording"]["events"]
    assert any(e["type"] == "jdk.JVMInformation" for e in events), "the recording is empty"
    commands = [e["values"]["command"] for e in events if e["type"] == "jdk.ProcessStart"]
    return report, out, commands


def test_flight_recording_session_maps_no_archive(flight_recording):
    report, _, _ = flight_recording
    assert report["archive"]["state"] == "skipped:jvm-agent"
    assert "-XX:StartFlightRecording" in report["java_options"]
    assert _no_archive(report["java_options"])


def test_stream_replay_forks_no_readlink(flight_recording):
    _, out, commands = flight_recording
    assert int(out.stdout.split("REPLAY_ROWS")[1].split()[0]) > 0
    # the FileContext checkpoint manager forks one per path it renames
    # through (~70 in this replay); the FileSystem manager forks none
    readlinks = [c for c in commands if os.path.basename(c.split()[0]) == "readlink"]
    assert not readlinks, readlinks[:3]
