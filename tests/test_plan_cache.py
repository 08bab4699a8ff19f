"""The verdict plan's Columns are built once per live SparkContext
(functions.built_once): a cached frame equals a freshly built one, and
a stopped-and-restarted session rebuilds instead of reusing Columns
that pin the dead context."""

from __future__ import annotations

import os
import subprocess
import sys

from data_quality_check_spark import functions as FN
from data_quality_check_spark.plans import pipeline as P
from data_quality_check_spark.sources import images as IM

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return df.toPandas().sort_values("image_id").reset_index(drop=True)


def test_cached_frame_matches_fresh_build(spark):
    df = IM.read_images(spark, 0.001)
    FN._BUILT.clear()
    fresh = P.results_select(P.quality_frame(df))
    built = dict(FN._BUILT)
    assert built, "quality_frame built nothing through built_once"
    cached = P.results_select(P.quality_frame(df))
    assert {k: v[1] for k, v in FN._BUILT.items()} == \
        {k: v[1] for k, v in built.items()}
    assert cached.schema == fresh.schema
    assert _rows(fresh).equals(_rows(cached))


_RESTART = r"""
import sys
sys.path.insert(0, sys.argv[1])
from data_quality_check_spark import functions as FN
from data_quality_check_spark.plans import pipeline as P
from data_quality_check_spark.session import get_spark
from data_quality_check_spark.sources import images as IM

def verdicts(spark):
    df = P.results_select(P.quality_frame(IM.read_images(spark, 0.001)))
    return sorted((r.image_id, r.keep, tuple(r.drop_reasons)) for r in df.collect())

spark = get_spark(master="local[2]", shuffle_partitions=4, app_name="restart-1")
first = verdicts(spark)
old = {k: v[1] for k, v in FN._BUILT.items()}
spark.stop()
spark = get_spark(master="local[2]", shuffle_partitions=4, app_name="restart-2")
second = verdicts(spark)
assert first == second and len(first) == 1000
assert all(FN._BUILT[k][1] is not v for k, v in old.items())
spark.stop()
print("RESTART_OK")
"""


def test_restarted_session_rebuilds(tmp_path):
    # own process: stopping the suite's shared session would break
    # every later test
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", _RESTART, REPO], env=env,
                         capture_output=True, text=True, timeout=900,
                         cwd=str(tmp_path))
    assert "RESTART_OK" in out.stdout, out.stderr[-3000:]
