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
  variable is invisible in the code under measurement.
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
