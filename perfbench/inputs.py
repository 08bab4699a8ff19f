"""Seeded benchmark inputs, generated once per seed and cached under
``perfbench/_cache/seed-<n>/``.

Everything here runs before any timer starts: image generation, the
``oracle.evaluate`` labels the filter workloads are gated against, the
replicated metadata table of ``checks_suite`` and its pandas report.

``sources.images.ensure_images`` has no seed argument and its default
root is the seed-42 test-fixture cache, so the images parquet is written
here with ``generate_pandas(SF, seed)`` and later read back through
``read_images(spark, SF, root=<seed dir>)``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_quality_check_spark import oracle
from data_quality_check_spark.constants import N_BUCKETS
from data_quality_check_spark.sources import images as IM

import gate

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE_ROOT = os.path.join(HERE, "_cache")

# 5,000 image+caption rows with the program's own population mix.  The
# size keeps one filter run near 4-6 s on 4 cores, so a whole
# benchmark run (JVM start, cold run, timed runs) stays under a minute.
SF = 0.005
# checks_suite table = the metadata columns of the SF rows, replicated
# with fresh unique image_ids (200,000 rows), in CHECKS_FILES parquet
# files so the scan is not a single task
CHECKS_REPLICAS = 40
CHECKS_FILES = 8
CHECKS_COLUMNS = ["image_id", "w", "h", "fmt", "caption", "phash"]

LABEL_COLUMNS = ["image_id", "keep", "drop_reasons", "caption_scrubbed"]


def seed_dir(seed: int) -> str:
    return os.path.join(CACHE_ROOT, f"seed-{seed}")


def _write_atomic(table: pa.Table, path: str, **kw) -> None:
    # dot-prefixed, so a Spark scan of the directory never lists it
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp, **kw)
    os.replace(tmp, path)


def bucket_of(phash: pd.Series) -> np.ndarray:
    """pmod(coalesce(phash, 0), N_BUCKETS), as ``operators.salt.with_bucket``."""
    return (phash.fillna(0).astype("int64") % N_BUCKETS).to_numpy()


def ensure_images(seed: int) -> str:
    """Images parquet + oracle labels for ``seed``; returns the directory
    to pass as ``root=`` to ``sources.images.read_images``."""
    d = seed_dir(seed)
    path = IM.images_path(SF, d)
    labels_path = os.path.join(d, "labels.parquet")
    if os.path.exists(path) and os.path.exists(labels_path):
        return d
    os.makedirs(d, exist_ok=True)
    pdf = IM.generate_pandas(SF, seed)
    # same layout as sources.images.ensure_images: `bytes` uncompressed,
    # 2048-row groups
    tbl = pa.Table.from_pandas(pdf, schema=IM.ARROW_SCHEMA, preserve_index=False)
    codecs = {name: "zstd" for name in tbl.schema.names}
    codecs["bytes"] = "none"
    _write_atomic(tbl, path, compression=codecs, row_group_size=2048)

    lab = oracle.evaluate(pdf)[LABEL_COLUMNS].copy()
    lab["bucket"] = bucket_of(pdf["phash"])
    _write_atomic(pa.Table.from_pandas(lab, preserve_index=False), labels_path)
    return d


def read_labels(seed: int) -> pd.DataFrame:
    return pq.read_table(os.path.join(seed_dir(seed), "labels.parquet")).to_pandas()


def read_sample(seed: int, n: int) -> pd.DataFrame:
    """First ``n`` image rows of the seed's table (kernel microrun)."""
    return pq.read_table(IM.images_path(SF, seed_dir(seed))).slice(0, n).to_pandas()


def ensure_checks_table(seed: int) -> tuple[str, list[dict]]:
    """Replicated metadata table and its pandas report for ``seed``."""
    d = seed_dir(seed)
    path = os.path.join(d, "checks_table.parquet")
    report_path = os.path.join(d, "checks_expected.json")
    if os.path.exists(report_path):
        with open(report_path) as f:
            return path, json.load(f)
    ensure_images(seed)
    base = pq.read_table(IM.images_path(SF, d), columns=CHECKS_COLUMNS)
    n = base.num_rows
    parts = []
    for r in range(CHECKS_REPLICAS):
        ids = pa.array([f"img_{r * n + i:012d}" for i in range(n)], pa.string())
        parts.append(base.set_column(0, "image_id", ids))
    tbl = pa.concat_tables(parts)
    os.makedirs(path, exist_ok=True)
    step = -(-tbl.num_rows // CHECKS_FILES)
    for k in range(CHECKS_FILES):
        _write_atomic(tbl.slice(k * step, step),
                      os.path.join(path, f"part-{k:02d}.parquet"), compression="zstd")
    report = gate.pandas_report(tbl.to_pandas())
    # written last: its presence marks the table as complete
    tmp = report_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(report, f)
    os.replace(tmp, report_path)
    return path, report
