"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The smoke tests run every workload end to end on the smallest inputs
(scale 0.001, the sf0.001 fixture sizes) with and without tracing, and
check that every metric BENCHMARK.json names is reported with its unit.
They start a Spark JVM per run, so they take a few minutes.
"""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import inputs
from perfbench.metrics import (CAL_REF_S, END_TO_END_UNITS, PER_LAYER_UNITS, tail,
                               to_reference_host)
from perfbench.trace import Span, self_time_by_name, self_times

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _span(i, parent, start, end, name="x"):
    return Span(i, parent, name, start, end)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, 0.0, 10.0, "op"),
        _span(1, 0, 1.0, 3.0, "load"),
        _span(2, 0, 2.0, 5.0, "load"),   # overlaps span 1: covered once
        _span(3, 0, 8.0, 12.0, "run"),   # clipped to the parent's end
        _span(4, 1, 1.5, 2.5, "inner"),  # a grandchild never counts for span 0
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["load"] == pytest.approx(1.0 + 3.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_times([_span(0, None, 2.0, 2.5)]) == {0: pytest.approx(0.5)}


def test_tail_picks_highest_percentile_with_ten_beyond():
    walls = [float(i) for i in range(1, 201)]
    value, p, beyond = tail(walls)
    assert (p, beyond, value) == (95, 10, 190.0)
    value, p, beyond = tail(walls[:30])
    assert (p, beyond) == (50, 15)


def test_reference_host_scaling():
    # a host at half the reference speed on average: times halve, rates double
    got = to_reference_host({"pass_s": 4.0, "ingest_rows_per_s": 100.0},
                            [CAL_REF_S, 3 * CAL_REF_S])
    assert got == {"pass_s": 2.0, "ingest_rows_per_s": 200.0}


def test_inputs_are_deterministic_per_seed():
    a = inputs.generate(7, 0.001)
    b = inputs.generate(7, 0.001)
    c = inputs.generate(8, 0.001)
    assert all(a[t].equals(b[t]) for t in inputs.TABLES)
    assert not a["orders"].equals(c["orders"])
    assert {t: a[t].num_rows for t in inputs.TABLES} == inputs.row_counts(0.001)


def test_flagship_ranking_keys_are_unique():
    ev = inputs.generate(3, 0.001)["events"].to_pylist()
    keys = {(r["user_id"], r["ts"], r["event_type"]) for r in ev}
    assert len(keys) == len(ev)


def test_inputs_keep_the_documented_fixture_properties():
    t = inputs.generate(4, 0.01)
    ts = t["events"].column("ts")
    assert ts.type == pa.timestamp("ns")
    ns = pc.cast(ts, pa.int64()).to_numpy()
    assert (ns % 1000 != 0).mean() > 0.9  # digits the readers truncate
    ev = t["events"].to_pydict()
    keys = set(zip(ev["user_id"], (v // 1000 for v in ns), ev["event_type"]))
    assert len(keys) == t["events"].num_rows
    share = t["orders"].column("o_orderdate").null_count / t["orders"].num_rows
    assert 0.01 < share < 0.03
    users = set(ev["user_id"])
    assert sum(k not in users for k in t["orders"].column("o_orderkey").to_pylist()) > 0
    texts = t["documents"].column("text").to_pylist()
    assert all(text[0].isupper() and text[-1] in ".?!" for text in texts)
    assert sum("," in text for text in texts) > len(texts) / 2
    assert len({w.strip(",.?!").lower() for text in texts for w in text.split()}) > 150
    assert 0 < len(texts) - len(set(texts)) < 0.03 * len(texts)
    assert t["documents"].column("n_chars").to_pylist() == [len(x) for x in texts]


def _fixture_dir() -> str | None:
    """The smallest committed fixture set, where the repository's tests
    find it; None when this checkout has none."""
    try:
        from tests.conftest import SF_SMOKE
    except ImportError:
        return None
    return SF_SMOKE if os.path.isdir(SF_SMOKE) else None


def test_inputs_have_the_fixture_schemas():
    fixtures = _fixture_dir()
    if fixtures is None:
        pytest.skip("no fixture set in this checkout")
    generated = inputs.generate(1, 0.001)
    for name in inputs.TABLES:
        want = pq.read_schema(os.path.join(fixtures, f"{name}.parquet")).remove_metadata()
        if name == "events":  # stored in nanoseconds on purpose (see inputs.py)
            want = want.set(want.get_field_index("ts"), pa.field("ts", pa.timestamp("ns")))
        assert generated[name].schema.remove_metadata() == want, name
        rows = pq.ParquetFile(os.path.join(fixtures, f"{name}.parquet")).metadata.num_rows
        assert generated[name].num_rows == rows, name


def test_stale_cache_fails_loudly(tmp_path):
    s = inputs.prepare(str(tmp_path), 5, 0.001)
    table = pq.read_table(s.table_path("orders"))
    pq.write_table(table.slice(0, 10), s.table_path("orders"))
    with pytest.raises(RuntimeError, match="stale or partial"):
        inputs.prepare(str(tmp_path), 5, 0.001)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_matches_reported_metrics():
    bench = _benchmark()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in bench["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", ["refresh_sf005", "cohort_sf01", "curation_sf002"])
@pytest.mark.parametrize("trace", [False, True])
def test_workload_smoke(tmp_path, workload, trace):
    from perfbench.harness import RunConfig, run

    out = run(RunConfig(workload, seed=1, seconds=0, trace=trace, scale=0.001,
                        work_dir=str(tmp_path)))
    result = out["result"]
    assert result["correct"], out["detail"]["checks"]
    assert result["failed"] == 0 and result["attempted"] >= 1
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    assert {k: v["unit"] for k, v in result["metrics"].items()} == units
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), k
    if not trace:
        from perfbench.workloads import WORKLOADS

        positive = set(END_TO_END_UNITS) - (
            set() if WORKLOADS[workload].ingest_ops else {"ingest_rows_per_s"})
        assert all(result["metrics"][k]["value"] > 0 for k in positive)
    assert all(c["ok"] for c in out["detail"]["checks"])
