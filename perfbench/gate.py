"""Correctness gate for every timed run.

Filter workloads: the results table on disk is compared per image_id
with the ``oracle.evaluate`` labels (``keep``, ``drop_reasons``,
``caption_scrubbed``); a missing, duplicated or unexpected image_id is a
failed row.  The ledger must hold all buckets for the run_key and the
audit ``n_rows`` total must equal the input row count, or every row of
the run counts as failed.

checks_suite: each check result of ``api.Suite.run`` is compared with a
pandas evaluation of the same check over the same table.

Tables are read with pyarrow straight from the catalog directory, so
the gate shares no code path with the Spark reads it is checking.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow.dataset as ds

N_BUCKETS = 64

# The ten check kinds of the `api` docstring, with their arguments.
# Both the Spark suite and the pandas reference are built from this.
SUITE_SPEC = [
    ("not_null", ("image_id",)),
    ("unique", ("image_id",)),
    ("in_range", ("w", 1, 10_000)),
    ("matches", ("image_id", r"img_\d{12}")),
    ("accepted_values", ("fmt", ["raw", "ppm", "png"])),
    ("expression", ("caption_ok", "length(caption) >= 12")),
    ("completeness", ("caption", 0.98)),
    ("mean_between", ("w", 16, 4096)),
    ("percentile_between", ("h", 0.5, 16, 2048)),
    ("distinct_count_between", ("phash", 2, 10**12)),
]


@dataclass
class Tally:
    """Operations attempted/failed plus the keep (or pass) confusion
    counts that F1 is computed from."""
    attempted: int = 0
    failed: int = 0
    tp: int = 0
    fp: int = 0
    fn: int = 0

    def add(self, other: "Tally") -> None:
        self.attempted += other.attempted
        self.failed += other.failed
        self.tp += other.tp
        self.fp += other.fp
        self.fn += other.fn

    @property
    def f1(self) -> float:
        denom = 2 * self.tp + self.fp + self.fn
        return 1.0 if denom == 0 else 2 * self.tp / denom


def read_table(catalog_root: str, name: str, columns: list[str]) -> pd.DataFrame:
    """A catalog table as pandas (hive ``bucket=NN`` dirs; ``_``/``.``
    prefixed files such as manifests and temp files are skipped)."""
    path = os.path.join(catalog_root, name)
    if not os.path.isdir(path):
        return pd.DataFrame({c: [] for c in columns})
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns).to_pandas()


def _isnull(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _same(a, b) -> bool:
    if _isnull(a) or _isnull(b):
        return _isnull(a) and _isnull(b)
    return a == b


def compare_results(results: pd.DataFrame, labels: pd.DataFrame) -> Tally:
    """Row verdicts in ``results`` vs oracle ``labels``."""
    t = Tally(attempted=len(labels))
    counts = results["image_id"].value_counts()
    dup_ids = set(counts[counts > 1].index)
    first = results.drop_duplicates("image_id")
    t.failed += int((~first["image_id"].isin(labels["image_id"])).sum())

    m = labels.merge(first, on="image_id", how="left",
                     suffixes=("", "_got"), indicator=True)
    present = (m["_merge"] == "both").to_numpy()
    want = m["keep"].astype(bool).to_numpy()
    got = present & m["keep_got"].eq(True).to_numpy()
    t.tp = int((want & got).sum())
    t.fp = int((~want & got).sum())
    t.fn = int((want & ~got).sum())
    for iid, ok_row, w, g, r_want, r_got, c_want, c_got in zip(
            m["image_id"], present, want, got, m["drop_reasons"],
            m["drop_reasons_got"], m["caption_scrubbed"],
            m["caption_scrubbed_got"]):
        ok = (
            ok_row
            and iid not in dup_ids
            and w == g
            and list(r_want) == list(r_got)
            and _same(c_want, c_got)
        )
        t.failed += int(not ok)
    return t


def commit_problems(catalog_root: str, run_key: str, n_rows: int) -> list[str]:
    """Ledger / audit bookkeeping of one finished run."""
    problems = []
    ledger = read_table(catalog_root, "checkpoint_ledger",
                        ["run_key", "bucket", "status"])
    done = set(ledger.loc[(ledger["run_key"] == run_key)
                          & (ledger["status"] == "done"), "bucket"])
    if done != set(range(N_BUCKETS)):
        problems.append(f"ledger holds {len(done)}/{N_BUCKETS} buckets for {run_key}")
    audit = read_table(catalog_root, "audit", ["n_rows"])
    if int(audit["n_rows"].sum()) != n_rows:
        problems.append(f"audit n_rows total {int(audit['n_rows'].sum())} != {n_rows}")
    return problems


def gate_filter_run(catalog_root: str, run_key: str, labels: pd.DataFrame) -> tuple[Tally, list[str]]:
    results = read_table(catalog_root, "results",
                         ["image_id", "keep", "drop_reasons", "caption_scrubbed"])
    tally = compare_results(results, labels)
    problems = commit_problems(catalog_root, run_key, len(labels))
    if problems:
        tally.failed = tally.attempted
    return tally, problems


# -- checks_suite -------------------------------------------------------------

def pandas_report(pdf: pd.DataFrame) -> list[dict]:
    """SUITE_SPEC evaluated with pandas, in ``Report.to_rows`` form."""
    total = len(pdf)
    rows = []
    for kind, args in SUITE_SPEC:
        value = None
        lo = hi = max_ratio = None
        col = args[0]
        if kind == "not_null":
            name, viol = f"not_null_{col}", int(pdf[col].isna().sum())
        elif kind == "unique":
            s = pdf[col]
            name, viol = f"unique_{col}", int(s.notna().sum() - s.nunique())
        elif kind == "in_range":
            s = pdf[col]
            name = f"in_range_{col}"
            viol = int((~s.between(args[1], args[2]) | s.isna()).sum())
        elif kind == "matches":
            s = pdf[col]
            name = f"matches_{col}"
            hit = s.str.contains(args[1], regex=True, na=False)
            viol = int((~hit | s.isna()).sum())
        elif kind == "accepted_values":
            s = pdf[col]
            name = f"accepted_{col}"
            viol = int((~s.isin(args[1]) | s.isna()).sum())
        elif kind == "expression":
            # the one predicate in SUITE_SPEC: length(caption) >= 12,
            # null when caption is null (counted as a violation)
            name = col
            cap = pdf["caption"]
            viol = int((cap.isna() | (cap.str.len() < 12)).sum())
        elif kind == "completeness":
            name, viol = f"completeness_{col}", int(pdf[col].isna().sum())
            max_ratio = 1.0 - args[1]
        elif kind == "mean_between":
            name, viol = f"mean_{col}", 0
            value, lo, hi = float(pdf[col].mean()), args[1], args[2]
        elif kind == "percentile_between":
            name, viol = f"p{int(round(args[1] * 100))}_{col}", 0
            value = float(pdf[col].quantile(args[1], interpolation="linear"))
            lo, hi = args[2], args[3]
        elif kind == "distinct_count_between":
            name, viol = f"distinct_{col}", 0
            value, lo, hi = float(pdf[col].nunique(dropna=True)), args[1], args[2]
        else:
            raise ValueError(kind)
        if lo is not None:
            passed = lo <= value <= hi
        elif max_ratio is not None:
            passed = total == 0 or viol / total <= max_ratio
        else:
            passed = viol == 0
        rows.append({"check": name, "kind": kind,
                     "column": None if kind == "expression" else col,
                     "violations": viol, "total": total,
                     "value": value, "pass": bool(passed)})
    return rows


def compare_report(got: list[dict], expected: list[dict]) -> Tally:
    """Check results vs the pandas report; F1 is over the pass verdicts."""
    t = Tally(attempted=len(expected))
    by_name = {r["check"]: r for r in got}
    t.failed += sum(1 for r in got if r["check"] not in
                    {e["check"] for e in expected})
    for e in expected:
        g = by_name.get(e["check"])
        if g is None:
            t.failed += 1
            t.fn += int(e["pass"])
            continue
        if e["pass"] and g["pass"]:
            t.tp += 1
        elif g["pass"]:
            t.fp += 1
        elif e["pass"]:
            t.fn += 1
        if e["value"] is None:
            value_ok = g["value"] is None
        else:
            value_ok = g["value"] is not None and math.isclose(
                g["value"], e["value"], rel_tol=1e-9, abs_tol=1e-9)
        ok = (g["violations"] == e["violations"] and g["total"] == e["total"]
              and value_ok and g["pass"] == e["pass"])
        t.failed += int(not ok)
    return t


def bucket_rows(labels: pd.DataFrame, buckets: set[int]) -> int:
    return int(np.isin(labels["bucket"].to_numpy(), list(buckets)).sum())
