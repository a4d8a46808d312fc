"""Static lint: one measurement harness, no env-var plan selectors.

``bench.py`` and the probe scripts each carried their own noop sink, git
provenance, load and calibration capture and plan-text code, and the copies
drifted (a probe's "dirty" flag counted the bench's own output file, one
script verified a hard-coded checkout instead of its own).  The protocol now
lives once in ``scripts/measure.py``.  This lint fails if

- ``bench.py`` or a ``scripts/`` file other than ``measure.py`` writes to the
  noop sink, runs ``git rev-parse``, reads ``os.getloadavg``, builds plan
  text (``explainString``/``executedPlan``) or loops over ``sha256`` (the
  calibration);
- a script is named by round (``scripts/*_r<N>*.py``): one script takes the
  round as an argument instead;
- a package module other than ``session.py`` and ``operators/barrier.py``
  reads a ``SPARK_GRAFT_*`` variable: a plan chosen by an environment
  variable is invisible in the code under measurement;
- the package, ``scripts/`` or a top-level module names
  ``spark.python.daemon.module`` (the benchmark finds the Python workers'
  CPU under their ``pyspark.daemon`` parent), or sets
  ``spark.python.worker.module`` to anything but a literal name that starts
  with ``pyspark`` and is a module beside the package (``pyspark.daemon``
  silently runs ``pyspark.worker`` for any other name), or ``session.py``
  stops setting it;
- a module other than ``session.py`` in the package, ``scripts/`` or the
  top level names ``SharedArchiveFile``, ``ArchiveClassesAtExit`` or
  ``SPARK_CONF_DIR``: the driver JVM's class-data-sharing archive is
  published, checked and handed to the JVM in one place, and an archive
  handed over elsewhere skips the size check that keeps a truncated one
  from crashing the JVM.
"""

from __future__ import annotations

import ast
import glob
import os
import re

import etl_for_ecol_fusion_database_spark as pkg

PKG_DIR = os.path.dirname(os.path.abspath(pkg.__file__))
REPO = os.path.dirname(PKG_DIR)
HARNESS = os.path.join("scripts", "measure.py")
#: the package's deployment knobs: session sizing and the barrier mode
ENV_READERS = {"session.py", os.path.join("operators", "barrier.py")}
DAEMON_KEY = "spark.python.daemon.module"
SESSION = os.path.join(os.path.basename(PKG_DIR), "session.py")
#: names only session.py may use: the JVM's CDS flags and the launcher's
#: conf directory
ARCHIVE_NAMES = ("SharedArchiveFile", "DumpLoadedClassList", "SharedClassListFile",
                 "SPARK_CONF_DIR")
WORKER_KEY = "spark.python.worker.module"
PROTOCOL_KINDS = {"noop sink", "git rev-parse", "os.getloadavg", "plan text",
                  "sha256 calibration loop"}
CODE_IN_STRINGS = {
    "noop sink": r"""format\(["']noop["']\)""",
    "git rev-parse": r"rev-parse",
    "os.getloadavg": r"getloadavg",
    "plan text": r"explainString|executedPlan",
    "sha256 calibration loop": r"for .*:\s*\n.*sha256\(",
}


def _is_call_to(node, attr: str) -> bool:
    f = node.func if isinstance(node, ast.Call) else None
    return (isinstance(f, ast.Attribute) and f.attr == attr) or (
        isinstance(f, ast.Name) and f.id == attr)


def _protocol_sites(path: str) -> list[tuple[int, str]]:
    """(line, kind) of every piece of measurement protocol in ``path``."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and _is_call_to(node, "format") and any(
                isinstance(a, ast.Constant) and a.value == "noop" for a in node.args):
            found.append((node.lineno, "noop sink"))
        if isinstance(node, ast.Constant) and node.value == "rev-parse":
            found.append((node.lineno, "git rev-parse"))
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and "\n" in node.value:
            # code a child process runs from a string
            found += [(node.lineno, kind) for kind, pat in CODE_IN_STRINGS.items()
                      if re.search(pat, node.value)]
        if isinstance(node, ast.Attribute) and node.attr == "getloadavg":
            found.append((node.lineno, "os.getloadavg"))
        if isinstance(node, ast.Attribute) and node.attr in ("explainString", "executedPlan"):
            found.append((node.lineno, "plan text"))
        if isinstance(node, (ast.For, ast.While)) and any(
                isinstance(n, ast.Call) and _is_call_to(n, "sha256")
                for stmt in node.body for n in ast.walk(stmt)):
            found.append((node.lineno, "sha256 calibration loop"))
    return found


def _env_reads(path: str) -> list[int]:
    """Lines where a ``SPARK_GRAFT_*`` name is used as a value (an argument,
    subscript or comparison operand), not merely mentioned in a docstring."""
    tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
    lines = []
    for parent in ast.walk(tree):
        if not isinstance(parent, (ast.Call, ast.Subscript, ast.Compare)):
            continue
        for child in ast.iter_child_nodes(parent):
            if isinstance(child, ast.Constant) and isinstance(child.value, str) \
                    and child.value.startswith("SPARK_GRAFT_"):
                lines.append(child.lineno)
    return lines


def test_measurement_protocol_only_in_measure():
    files = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py"))) + [
        os.path.join(REPO, "bench.py")]
    offenders, harness_kinds = [], set()
    for path in files:
        rel = os.path.relpath(path, REPO)
        for line, kind in _protocol_sites(path):
            if rel == HARNESS:
                harness_kinds.add(kind)
            else:
                offenders.append(f"{rel}:{line}: {kind}")
    assert not offenders, (
        "measurement protocol outside scripts/measure.py (call it instead):\n"
        + "\n".join(offenders))
    # the lint would pass vacuously if the harness moved or changed shape
    assert harness_kinds == PROTOCOL_KINDS, f"{HARNESS} holds only {harness_kinds}"


def test_no_round_named_scripts():
    named = [os.path.basename(p) for p in glob.glob(os.path.join(REPO, "scripts", "*.py"))
             if re.search(r"_r[0-9]", os.path.basename(p))]
    assert not named, f"scripts named by round (take the round as an argument): {named}"


def test_env_knobs_only_in_session_and_barrier():
    offenders, readers = [], set()
    for root, _dirs, files in os.walk(PKG_DIR):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(root, f), PKG_DIR)
            lines = _env_reads(os.path.join(root, f))
            if lines and rel in ENV_READERS:
                readers.add(rel)
            elif lines:
                offenders += [f"{rel}:{n}" for n in lines]
    assert not offenders, "SPARK_GRAFT_* read outside session/barrier:\n" + "\n".join(offenders)
    assert readers == ENV_READERS, f"the knob readers moved: found {readers}"


def _worker_conf_values(tree) -> list:
    """Value nodes given to ``WORKER_KEY`` in a dict display or a
    ``config(key, value)``-style call."""
    values = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            values += [v for k, v in zip(node.keys, node.values)
                       if isinstance(k, ast.Constant) and k.value == WORKER_KEY]
        elif isinstance(node, ast.Call) and len(node.args) >= 2 and isinstance(
                node.args[0], ast.Constant) and node.args[0].value == WORKER_KEY:
            values.append(node.args[1])
    return values


def _checkout_files(repo: str) -> list[str]:
    """The package, ``scripts/`` and top-level modules of checkout ``repo``."""
    pkg = os.path.join(repo, os.path.basename(PKG_DIR))
    return sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
                  + glob.glob(os.path.join(repo, "scripts", "*.py"))
                  + glob.glob(os.path.join(repo, "*.py")))


def _worker_conf_violations(repo: str) -> list[str]:
    """Breaches of the Python-worker launch rules under checkout ``repo``."""
    out, set_in_session = [], False
    for path in _checkout_files(repo):
        rel = os.path.relpath(path, repo)
        tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
        out += [f"{rel}:{n.lineno}: names {DAEMON_KEY}" for n in ast.walk(tree)
                if isinstance(n, ast.Constant) and isinstance(n.value, str)
                and DAEMON_KEY in n.value]
        for v in _worker_conf_values(tree):
            name = v.value if isinstance(v, ast.Constant) else None
            if not (isinstance(name, str) and name.startswith("pyspark")
                    and os.path.isfile(os.path.join(repo, name + ".py"))):
                out.append(f"{rel}:{v.lineno}: {WORKER_KEY} is not a pyspark* module "
                           f"beside the package: {ast.unparse(v)}")
            set_in_session |= rel == SESSION
    if not set_in_session:
        out.append(f"session.py does not set {WORKER_KEY}")
    return out


def test_python_worker_launch_conf():
    assert _worker_conf_violations(REPO) == []


def test_python_worker_lint_catches_each_rule(tmp_path):
    """The lint on copies of this checkout that each break one rule."""
    pkg = os.path.basename(PKG_DIR)

    def copy(session_src: str, script_src: str = "") -> str:
        root = tmp_path / f"c{len(list(tmp_path.iterdir()))}"
        (root / pkg).mkdir(parents=True)
        (root / "scripts").mkdir()
        (root / pkg / "session.py").write_text(session_src)
        (root / "scripts" / "probe.py").write_text(script_src)
        (root / "pyspark_ecol_worker.py").write_text("")
        return str(root)

    good = open(os.path.join(PKG_DIR, "session.py"), encoding="utf-8").read()
    assert _worker_conf_violations(copy(good)) == []
    broken = {
        "daemon module": copy(good, f'CONF = {{"{DAEMON_KEY}": "pyspark_ecol_daemon"}}\n'),
        "non-pyspark name": copy(good.replace('"pyspark_ecol_worker"', '"ecol_worker"')),
        "missing module": copy(good.replace('"pyspark_ecol_worker"', '"pyspark_ecol_wrker"')),
        "not set": copy(good.replace(WORKER_KEY, "spark.python.worker.reuse")),
        "set elsewhere": copy(good, f'spark.conf.set("{WORKER_KEY}", "ecol_worker")\n'),
    }
    for rule, root in broken.items():
        assert _worker_conf_violations(root), f"lint missed: {rule}"


def _archive_name_violations(repo: str) -> list[str]:
    """Strings naming a CDS flag or ``SPARK_CONF_DIR`` outside
    ``session.py`` under checkout ``repo``, and names ``session.py`` lacks."""
    out, in_session = [], set()
    for path in _checkout_files(repo):
        rel = os.path.relpath(path, repo)
        tree = ast.parse(open(path, encoding="utf-8").read(), filename=path)
        for node in ast.walk(tree):
            if not (isinstance(node, ast.Constant) and isinstance(node.value, str)):
                continue
            for name in ARCHIVE_NAMES:
                if name not in node.value:
                    continue
                if rel == SESSION:
                    in_session.add(name)
                else:
                    out.append(f"{rel}:{node.lineno}: names {name}")
    out += [f"{SESSION} does not name {n}" for n in ARCHIVE_NAMES if n not in in_session]
    return out


def test_jvm_archive_names_only_in_session():
    assert _archive_name_violations(REPO) == []


def test_jvm_archive_lint_catches_each_rule(tmp_path):
    """The lint on copies of this checkout that each break one rule."""
    pkg = os.path.basename(PKG_DIR)
    good = open(os.path.join(PKG_DIR, "session.py"), encoding="utf-8").read()

    def copy(session_src: str, rel: str = "", src: str = "") -> str:
        root = tmp_path / f"c{len(list(tmp_path.iterdir()))}"
        for d in (pkg, "scripts"):
            (root / d).mkdir(parents=True)
        (root / pkg / "session.py").write_text(session_src)
        if rel:
            (root / rel).write_text(src)
        return str(root)

    assert _archive_name_violations(copy(good)) == []
    broken = {
        "flag in a script": copy(
            good, "scripts/probe.py",
            'CONF = {"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"}\n'),
        "dump in the package": copy(
            good, f"{pkg}/catalog.py", 'OPTS = f"-XX:DumpLoadedClassList={path}"\n'),
        "conf dir at the top level": copy(
            good, "bench.py", 'import os\nos.environ["SPARK_CONF_DIR"] = "/tmp/c"\n'),
        "moved out of session": copy(good.replace("SharedClassListFile", "ClassListFile")),
    }
    for rule, root in broken.items():
        assert _archive_name_violations(root), f"lint missed: {rule}"
