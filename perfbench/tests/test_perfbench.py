"""Tests of the benchmark's own machinery (no program code is changed):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import eventlog  # noqa: E402
import gate  # noqa: E402
import inputs  # noqa: E402
import spans  # noqa: E402

RECORDED_LOG = os.path.join(HERE, "fixtures", "eventlog_small.jsonl")


@pytest.fixture()
def tiny_inputs(tmp_path, monkeypatch):
    """500 image rows, a 2x replicated checks table, cached under tmp."""
    monkeypatch.setattr(inputs, "SF", 0.0005)
    monkeypatch.setattr(inputs, "CHECKS_REPLICAS", 2)

    def at(root):
        monkeypatch.setattr(inputs, "CACHE_ROOT", str(tmp_path / root))
        return inputs
    return at


def _tables(d):
    return {f: pq.read_table(os.path.join(d, f)) for f in sorted(os.listdir(d))
            if f.endswith(".parquet")}


def test_inputs_are_deterministic_per_seed(tiny_inputs):
    a = tiny_inputs("a")
    da = a.ensure_images(3)
    a.ensure_checks_table(3)
    b = tiny_inputs("b")
    db = b.ensure_images(3)
    _, report = b.ensure_checks_table(3)
    ta, tb = _tables(da), _tables(db)
    assert sorted(ta) == ["checks_table.parquet", "images_sf0.0005.parquet",
                          "labels.parquet"]
    for f in ta:
        assert ta[f].equals(tb[f]), f
    assert report[0]["total"] == 1000

    other = b.ensure_images(4)
    img = "images_sf0.0005.parquet"
    assert not _tables(other)[img].equals(ta[img])


def test_cache_is_reused(tiny_inputs):
    inp = tiny_inputs("c")
    d = inp.ensure_images(5)
    path = os.path.join(d, "labels.parquet")
    before = os.stat(path).st_mtime_ns
    assert inp.ensure_images(5) == d
    assert os.stat(path).st_mtime_ns == before


def test_gate_catches_a_flipped_verdict(tiny_inputs, tmp_path):
    inp = tiny_inputs("g")
    inp.ensure_images(6)
    labels = inp.read_labels(6)

    def results_dir(df, name):
        root = tmp_path / name
        pq.write_to_dataset(pa.Table.from_pandas(df, preserve_index=False),
                            str(root / "results"), partition_cols=["bucket"])
        return str(root)

    cols = ["image_id", "keep", "drop_reasons", "caption_scrubbed"]
    good = gate.read_table(results_dir(labels, "good"), "results", cols)
    t = gate.compare_results(good, labels)
    assert (t.attempted, t.failed, t.f1) == (len(labels), 0, 1.0)

    flipped = labels.copy()
    i = int(flipped.index[flipped["keep"]][0])
    flipped.loc[i, "keep"] = False
    bad = gate.read_table(results_dir(flipped, "flipped"), "results", cols)
    t = gate.compare_results(bad, labels)
    assert t.failed == 1 and t.fn == 1 and t.f1 < 1.0

    dup = gate.compare_results(
        pd.concat([good, good.iloc[[0]]], ignore_index=True), labels)
    assert dup.failed == 1
    missing = gate.compare_results(good.iloc[1:], labels)
    assert missing.failed == 1


def test_gate_commit_problems_on_missing_ledger(tmp_path):
    problems = gate.commit_problems(str(tmp_path), "rk", 10)
    assert any("ledger holds 0/64" in p for p in problems)
    assert any("audit n_rows total 0 != 10" in p for p in problems)


def test_gate_checks_report(tiny_inputs):
    inp = tiny_inputs("r")
    _, expected = inp.ensure_checks_table(7)
    got = [dict(r) for r in expected]
    assert gate.compare_report(got, expected).failed == 0
    got[2]["violations"] += 1
    got[7]["value"] *= 1.001
    t = gate.compare_report(got, expected)
    assert t.failed == 2


def test_self_time_subtracts_child_coverage():
    s = [
        {"id": 0, "parent": None, "name": "root", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "a", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "name": "b", "start": 2.0, "end": 5.0},   # overlaps a
        {"id": 3, "parent": 2, "name": "c", "start": 2.5, "end": 4.0},
        {"id": 4, "parent": 0, "name": "d", "start": 9.0, "end": 12.0},  # clipped
    ]
    st = spans.self_times(s)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 1.5)
    assert st[3] == pytest.approx(1.5)


def test_tracer_nests_spans():
    tr = spans.Tracer()
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s["end"] >= s["start"] for s in tr.spans)


def test_eventlog_totals_on_recorded_log():
    """The recorded log: a 1000-row parquet table in 2 files, read back
    with op=0 / span=7 set, through a pandas UDF and a 3-way shuffle, then
    counted (fixtures/record_eventlog.py)."""
    log = eventlog.parse(RECORDED_LOG)
    assert sorted(log.jobs) == [0, 1, 2]
    assert sum(st.tasks for st in log.stages.values()) == 11
    assert sum(st.failed_tasks for st in log.stages.values()) == 0
    assert all(len(st.run_ms) == st.tasks for st in log.stages.values())

    op_stages = [st for st in log.stages.values() if st.op == 0]
    assert sorted(st.stage_id for st in op_stages) == [2, 3, 4, 5]
    assert {st.span for st in op_stages} == {7}
    assert sum(st.input_records for st in op_stages) == 1000
    assert sum(st.shuffle_write_bytes for st in op_stages) == 6668 + 177
    udf = [st for st in op_stages if "data sent to Python workers" in st.sql]
    assert [st.stage_id for st in udf] == [3] and udf[0].tasks == 2
    assert udf[0].sql["data sent to Python workers"] == 8416

    untagged = [st for st in log.stages.values() if st.op is None]
    assert sorted(st.stage_id for st in untagged) == [0, 1]
    assert sum(st.input_records for st in untagged) == 1000
    assert sum(st.shuffle_write_bytes for st in untagged) == 6331
    assert sum(st.sql.get("task commit time", 0) for st in untagged) == 20
