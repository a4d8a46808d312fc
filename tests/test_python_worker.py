"""The Python worker entry (``pyspark_ecol_worker``) and the workers' path.

Without Spark, in child interpreters so this process keeps its own
``zipimport``: the guard parses an unchanged zip once however often the
import caches are invalidated, re-reads a rewritten one, and leaves
``zipimport`` alone on Python >= 3.13.  In a session: the workers run under
``pyspark.daemon`` with the guard active, a zip added with ``addPyFile``
after the first task is importable in the next, and a session started
outside the checkout with no ``PYTHONPATH`` still runs an Arrow kernel.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import uuid
import zipfile

import pytest

from etl_for_ecol_fusion_database_spark import session as session_mod
from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import similarity

REPO = session_mod.PACKAGE_ROOT
WORKER = session_mod.WORKER_CONF["spark.python.worker.module"]
GUARDS = sys.version_info < (3, 13)

#: builds a zip package with a subpackage (three zipimporters), then counts
#: directory reads over three rounds of ``importlib.invalidate_caches()``
#: with the interpreter's method and with the guard, then rewrites the zip
#: with one more module
_GUARD_SCRIPT = r"""
import importlib, json, sys, zipfile, zipimport
archive = sys.argv[1]

def write(extra):
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("ecol_zpkg/__init__.py", "")
        z.writestr("ecol_zpkg/sub/__init__.py", "")
        z.writestr("ecol_zpkg/sub/mod.py", "VALUE = 1\n")
        for name, src in extra.items():
            z.writestr(name, src)

write({})
import pyspark_ecol_worker as w
sys.path.insert(0, archive)
import ecol_zpkg.sub.mod
importers = [v for v in sys.path_importer_cache.values()
             if isinstance(v, zipimport.zipimporter) and v.archive == archive]
reads = []
read = zipimport._read_directory
zipimport._read_directory = lambda path: (reads.append(path == archive), read(path))[1]

def count(rounds=3):
    reads.clear()
    for _ in range(rounds):
        importlib.invalidate_caches()
    return sum(reads)

zipimport.zipimporter.invalidate_caches = w._EAGER_INVALIDATE
eager = count()
w.install()
guarded = count()
write({"ecol_zpkg/sub/added.py": "VALUE = 2\n"})
rewritten = count(1)
import ecol_zpkg.sub.added
print(json.dumps({"importers": len(importers), "eager": eager, "guarded": guarded,
                  "rewritten": rewritten, "added": ecol_zpkg.sub.added.VALUE}))
"""

#: imports the worker module with ``pyspark.worker`` stubbed out (the
#: interpreter need not have pyspark) and reports whether zipimport moved
_UNTOUCHED_SCRIPT = r"""
import json, sys, types, zipimport
stub = types.ModuleType("pyspark.worker")
stub.main = None
sys.modules["pyspark"] = types.ModuleType("pyspark")
sys.modules["pyspark.worker"] = stub
before = zipimport.zipimporter.invalidate_caches
import pyspark_ecol_worker as w
print(json.dumps({"guarded": w.GUARDED,
                  "untouched": zipimport.zipimporter.invalidate_caches is before}))
"""


def _run_json(cmd: list[str], **kw) -> dict:
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300, **kw)
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.skipif(not GUARDS, reason="CPython >= 3.13 does not re-read eagerly")
def test_guard_parses_unchanged_zip_once_and_rereads_a_rewrite(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = _run_json([sys.executable, "-c", _GUARD_SCRIPT, str(tmp_path / "pkg.zip")], env=env)
    assert r["importers"] >= 3
    # the interpreter's method: every importer, every round
    assert r["eager"] == 3 * r["importers"]
    assert r["guarded"] <= 1
    assert r["rewritten"] >= 1 and r["added"] == 2


def test_guard_leaves_zipimport_alone_on_313(tmp_path):
    exe = shutil.which("python3.13")
    if exe is None:
        pytest.skip("no python3.13 on PATH")
    r = _run_json([exe, "-c", _UNTOUCHED_SCRIPT], env=dict(os.environ, PYTHONPATH=REPO),
                  cwd=tmp_path)
    assert r == {"guarded": False, "untouched": True}


def _worker_report(it):
    import zipimport

    import pandas as pd

    w = sys.modules.get(WORKER)
    try:
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
    except OSError:
        parent = None
    for _ in it:
        yield pd.DataFrame({
            "loaded": [w is not None],
            "guarded": [bool(w is not None and w.GUARDED)],
            "patched": [w is not None
                        and zipimport.zipimporter.invalidate_caches is w._invalidate_caches],
            "parent": [parent],
        })


def test_worker_runs_guard_under_pyspark_daemon(spark):
    r = spark.range(1, numPartitions=1).mapInPandas(
        _worker_report, "loaded boolean, guarded boolean, patched boolean, parent string"
    ).collect()[0]
    assert r.loaded
    assert r.guarded is GUARDS and r.patched is GUARDS
    if r.parent is None:
        pytest.skip("no /proc: the daemon's command line is not readable")
    # a wrong module name falls back to pyspark.worker without a word
    assert "pyspark.daemon" in r.parent.split() and WORKER in r.parent.split()


def test_addpyfile_zip_is_importable_in_the_next_task(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.parallelize([0], 1).map(lambda x: x + 1).collect() == [1]
    name = f"ecol_added_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    sc.addPyFile(str(archive))
    assert sc.parallelize([0], 1).map(
        lambda _: __import__(name).VALUE).collect() == [42]


def test_session_outside_the_checkout_runs_arrow_kernel(spark, sf_dir, tmp_path):
    """Workers find the package through ``spark.executorEnv.PYTHONPATH``,
    not the working directory or an inherited ``PYTHONPATH``."""
    script = f"""
import json, sys
sys.path.insert(0, {REPO!r})
from etl_for_ecol_fusion_database_spark.session import get_spark
from etl_for_ecol_fusion_database_spark.catalog import load_table
from etl_for_ecol_fusion_database_spark.operators import similarity
spark = get_spark("outside-checkout", master="local[2]", shuffle_partitions=2)
emb = load_table(spark, {sf_dir!r}, "embeddings")
rows = similarity.brute_force_topk(emb, k=3, n_queries=5, kernel="arrow").collect()
worker = spark.sparkContext.parallelize([0], 1).map(
    lambda _: __import__("etl_for_ecol_fusion_database_spark").__file__).first()
print(json.dumps({{"rows": sorted([r.q_id, r.cand_id, r.cosine] for r in rows),
                   "worker": worker}}))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    r = _run_json([sys.executable, "-c", script], env=env, cwd=tmp_path)
    fold = similarity.brute_force_topk(
        load_table(spark, sf_dir, "embeddings"), k=3, n_queries=5, kernel="fold").collect()
    assert r["rows"] and r["rows"] == sorted([x.q_id, x.cand_id, x.cosine] for x in fold)
    assert r["worker"].startswith(os.path.join(REPO, ""))
