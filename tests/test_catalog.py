"""LocalParquetCatalog commits: per-key overwrite of flat key-sorted
files tracked by the manifest (copy-on-write for files holding only
some replaced keys), crash leftovers, and snapshot ids under
concurrent commits."""

from __future__ import annotations

import json
import os
import shutil
import threading

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from data_quality_check_spark.plans.catalog import LocalParquetCatalog


def _rows(cat, name="results"):
    return sorted((r.bucket, r.v) for r in cat.read_table(name).collect())


def _manifest(cat, name="results"):
    path = os.path.join(cat._manifest_dir(name), f"{cat.snapshot_id(name)}.json")
    with open(path) as f:
        return json.load(f)


def _overwrite(spark, cat, rows, files=1):
    df = spark.createDataFrame(rows, "bucket int, v string")
    cat.overwrite_partitions("results", df.coalesce(files), ["bucket"])


def test_overwrite_replaces_only_the_written_keys(spark, tmp_path):
    cat = LocalParquetCatalog(spark, str(tmp_path))
    _overwrite(spark, cat, [(0, "a"), (1, "b"), (2, "c"), (2, "cc")], files=2)
    _overwrite(spark, cat, [(1, "B"), (3, "D")])
    assert _rows(cat) == [(0, "a"), (1, "B"), (2, "c"), (2, "cc"), (3, "D")]

    # a key replaced by fewer rows loses the old ones
    _overwrite(spark, cat, [(2, "C")])
    assert _rows(cat) == [(0, "a"), (1, "B"), (2, "C"), (3, "D")]

    # files stay flat; the manifest lists exactly the files on disk and
    # each file's keys cover its rows
    m = _manifest(cat)
    d = os.path.join(str(tmp_path), "results")
    on_disk = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert m["files"] == on_disk
    for f in m["files"]:
        held = {r[0] for r in m["keys"][f]}
        assert set(pq.read_table(os.path.join(d, f))["bucket"].to_pylist()) <= held


def test_partial_overlap_is_rewritten(spark, tmp_path):
    cat = LocalParquetCatalog(spark, str(tmp_path))
    _overwrite(spark, cat, [(0, "old0"), (1, "old1")])
    (first,) = _manifest(cat)["files"]

    _overwrite(spark, cat, [(0, "new0")])
    assert _rows(cat) == [(0, "new0"), (1, "old1")]
    m = _manifest(cat)
    assert first not in m["files"] and len(m["files"]) == 2
    assert sorted(k for f in m["files"] for k in m["keys"][f]) == [[0], [1]]
    d = os.path.join(str(tmp_path), "results")
    assert not os.path.exists(os.path.join(d, first))


def test_appended_files_are_overwritten_by_key(spark, tmp_path):
    """Files a Spark append wrote carry no key set in the manifest: the
    overwrite reads their key column instead."""
    cat = LocalParquetCatalog(spark, str(tmp_path))
    cat.append("results", spark.createDataFrame(
        [(0, "a"), (1, "b")], "bucket int, v string").coalesce(1))
    _overwrite(spark, cat, [(0, "A")])
    assert _rows(cat) == [(0, "A"), (1, "b")]


def test_crash_leftovers(spark, tmp_path):
    """A crash mid-commit leaves a `.staging-*` dir (before the move)
    or overwrite files no manifest names (after the move, before the
    rename).  Staging dirs are hidden from Spark's listing and from
    the pyarrow hive dataset the benchmark gate reads; orphaned
    overwrite files stay out of every later manifest and the next
    overwrite deletes them."""
    cat = LocalParquetCatalog(spark, str(tmp_path))
    _overwrite(spark, cat, [(0, "a"), (1, "b")])
    d = os.path.join(str(tmp_path), "results")
    (live,) = _manifest(cat)["files"]

    staging = os.path.join(d, ".staging-crashed")
    os.makedirs(staging)
    shutil.copy(os.path.join(d, live),
                os.path.join(staging, "part-00000-x-c000.snappy.parquet"))
    assert _rows(cat) == [(0, "a"), (1, "b")]
    got = ds.dataset(d, format="parquet", partitioning="hive").to_table()
    assert sorted(got["v"].to_pylist()) == ["a", "b"]

    orphan = "part-ow-crashed-00000.parquet"
    shutil.copy(os.path.join(d, live), os.path.join(d, orphan))
    _overwrite(spark, cat, [(1, "B")])
    assert orphan not in os.listdir(d)
    assert _rows(cat) == [(0, "a"), (1, "B")]

    os.makedirs(os.path.join(str(tmp_path), "ledger"))
    shutil.copy(os.path.join(d, _manifest(cat)["files"][0]),
                os.path.join(str(tmp_path), "ledger", orphan))
    cat.append_rows("ledger", [{"wave": 0}])
    assert orphan not in _manifest(cat, "ledger")["files"]


def test_concurrent_appends_get_distinct_ordered_snapshots(spark, tmp_path):
    cat = LocalParquetCatalog(spark, str(tmp_path))
    start = threading.Barrier(8)
    errs: list[Exception] = []

    def work(i):
        try:
            start.wait()
            cat.append_rows("ledger", [{"wave": i}])
        except Exception as e:  # pragma: no cover - surfaced below
            errs.append(e)

    threads = [threading.Thread(target=work, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
        assert not t.is_alive()
    assert errs == []

    snaps = cat.snapshots("ledger")
    assert len(snaps) == 8
    ms = [int(s.split("-")[0]) for s in snaps]
    assert all(a < b for a, b in zip(ms, ms[1:])), ms
    d = os.path.join(str(tmp_path), "ledger")
    data = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    assert _manifest(cat, "ledger")["files"] == data and len(data) == 8
    assert sorted(r.wave for r in cat.read_table("ledger").collect()) == list(range(8))
