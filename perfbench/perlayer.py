"""Per-layer metrics of a traced run, named after the program's modules.

Each traced operation contributes spans (its slice of ``Tracer.spans``),
the event-log stages whose jobs carry its op id, and the catalog files
it left on disk.  A metric is computed per operation and the median
over the traced operations is reported.  A metric a workload cannot
produce is reported as 0 with the reason in ``unavailable``.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from data_quality_check_spark.kernels import codecs
from data_quality_check_spark.kernels.langid import classify
from data_quality_check_spark.kernels.ppl import perplexity
from data_quality_check_spark.kernels.scrub import scrub_series

# (name, unit) in output order
METRICS = [
    ("kernels.codecs.decode_ms_per_krow", "ms"),
    ("kernels.codecs.ahash64_ms_per_krow", "ms"),
    ("kernels.codecs.psnr_ms_per_krow", "ms"),
    ("kernels.langid.classify_ms_per_krow", "ms"),
    ("kernels.ppl.perplexity_ms_per_krow", "ms"),
    ("kernels.scrub.scrub_ms_per_krow", "ms"),
    ("functions.udfs.python_run_task_s", "s"),
    ("functions.udfs.python_start_task_s", "s"),
    ("functions.udfs.bytes_to_python_per_row", "B"),
    ("functions.udfs.bytes_from_python_per_row", "B"),
    ("functions.udfs.stage_tasks", "count"),
    ("functions.udfs.task_skew", "ratio"),
    ("sources.images.scan_task_s", "s"),
    ("sources.images.rows_read_per_row", "ratio"),
    ("operators.shuffle_bytes_per_row", "B"),
    ("operators.fetch_wait_task_s", "s"),
    ("operators.sort_task_s", "s"),
    ("operators.spill_bytes", "B"),
    ("operators.salt.detect_hot_buckets_s", "s"),
    ("plans.pipeline.quality_frame_s", "s"),
    ("plans.checkpoint.pending_buckets_s", "s"),
    ("plans.checkpoint.wave_s", "s"),
    ("plans.checkpoint.waves", "count"),
    ("plans.checkpoint.audit_s", "s"),
    ("plans.checkpoint.resume_s", "s"),
    ("plans.checkpoint.resume_rework_frac", "ratio"),
    ("plans.catalog.overwrite_partitions_s", "s"),
    ("plans.catalog.append_small_s", "s"),
    ("plans.catalog.append_rows_s", "s"),
    ("plans.catalog.task_commit_s", "s"),
    ("plans.catalog.bytes_written_per_row", "B"),
    ("plans.catalog.manifests_written", "count"),
    ("plans.catalog.data_files", "count"),
    ("api.suite_run_s", "s"),
    ("spark.jobs_per_run", "count"),
    ("spark.tasks_per_run", "count"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.failed_tasks", "count"),
    ("spark.core_busy_frac", "ratio"),
    ("trace.overhead_frac", "ratio"),
]
UNITS = dict(METRICS)

KERNEL_REPEATS = 3


def kernel_microrun(sample: pd.DataFrame) -> dict[str, float]:
    """ms per 1000 rows of the public kernels, timed in the driver on a
    fixed row sample (median of KERNEL_REPEATS passes)."""
    rows = list(zip(sample["bytes"], sample["fmt"], sample["w"], sample["h"]))
    caps = sample["caption"]
    filled = caps.fillna("")

    def decode_all():
        out = []
        for b, fmt, w, h in rows:
            try:
                out.append((b, fmt, codecs.decode(b, fmt, int(w), int(h))))
            except Exception:
                pass  # corrupt rows fail to decode, as in the UDF
        return out

    decoded = decode_all()

    def ahash_all():
        for _, _, pix in decoded:
            codecs.ahash64(pix)

    def psnr_all():
        for b, fmt, pix in decoded:
            ref = codecs.decode_ref(b, fmt, pix.shape[1], pix.shape[0])
            if ref is not None:
                codecs.psnr_db(pix, ref)

    fns = {
        "kernels.codecs.decode_ms_per_krow": decode_all,
        "kernels.codecs.ahash64_ms_per_krow": ahash_all,
        "kernels.codecs.psnr_ms_per_krow": psnr_all,
        "kernels.langid.classify_ms_per_krow": lambda: classify(filled),
        "kernels.ppl.perplexity_ms_per_krow": lambda: perplexity(filled),
        "kernels.scrub.scrub_ms_per_krow": lambda: scrub_series(caps),
    }
    out = {}
    for name, fn in fns.items():
        times = []
        for _ in range(KERNEL_REPEATS):
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
        out[name] = statistics.median(times) * 1e6 / len(sample)
    return out


def _sum(spans, name):
    return sum(s["end"] - s["start"] for s in spans if s["name"] == name)


def _waves(spans):
    """(wave seconds list, audit gap seconds) of one op's spans."""
    walls, gaps = [], 0.0
    for q in (s for s in spans if s["name"] == "plans.pipeline.quality_frame"):
        end = next((s["end"] for s in spans if s["name"] == "plans.catalog.append_rows"
                    and s["start"] >= q["start"]), None)
        if end is not None:
            walls.append(end - q["start"])
    for o in (s for s in spans if s["name"] == "plans.catalog.overwrite_partitions"):
        nxt = next((s["start"] for s in spans if s["name"] == "plans.catalog.append_small"
                    and s["start"] >= o["end"]), None)
        if nxt is not None:
            gaps += nxt - o["end"]
    return walls, gaps


SCAN_SPANS = {"plans.catalog.overwrite_partitions",
              "operators.salt.detect_hot_buckets", "api.Suite.run"}


def op_metrics(op: dict, spans: list[dict], stages: list, span_names: dict,
               rows_in: int, cores: int) -> dict[str, float]:
    """Metrics of one traced operation."""
    m: dict[str, float] = {}
    for name, key in [
        ("operators.salt.detect_hot_buckets_s", "operators.salt.detect_hot_buckets"),
        ("plans.pipeline.quality_frame_s", "plans.pipeline.quality_frame"),
        ("plans.checkpoint.pending_buckets_s", "plans.checkpoint.pending_buckets"),
        ("plans.catalog.overwrite_partitions_s", "plans.catalog.overwrite_partitions"),
        ("plans.catalog.append_small_s", "plans.catalog.append_small"),
        ("plans.catalog.append_rows_s", "plans.catalog.append_rows"),
        ("api.suite_run_s", "api.Suite.run"),
    ]:
        m[name] = _sum(spans, key)
    walls, gaps = _waves(spans)
    m["plans.checkpoint.waves"] = len(walls)
    m["plans.checkpoint.wave_s"] = statistics.median(walls) if walls else 0.0
    m["plans.checkpoint.audit_s"] = gaps
    m["plans.checkpoint.resume_s"] = op.get("resume_s") or 0.0
    m["plans.checkpoint.resume_rework_frac"] = op.get("rework_frac") or 0.0
    m["plans.catalog.manifests_written"] = op.get("manifests", 0)
    m["plans.catalog.data_files"] = op.get("data_files", 0)

    def sql(sts, key):
        return sum(st.sql.get(key, 0) for st in sts)

    udf = [st for st in stages if "data sent to Python workers" in st.sql]
    m["functions.udfs.python_run_task_s"] = sql(udf, "time to run Python workers") / 1e3
    m["functions.udfs.python_start_task_s"] = (
        sql(udf, "time to start Python workers")
        + sql(udf, "time to initialize Python workers")) / 1e3
    m["functions.udfs.bytes_to_python_per_row"] = sql(udf, "data sent to Python workers") / rows_in
    m["functions.udfs.bytes_from_python_per_row"] = (
        sql(udf, "data returned from Python workers") / rows_in)
    m["functions.udfs.stage_tasks"] = (
        statistics.median(st.tasks for st in udf) if udf else 0)
    skews = [max(st.run_ms) / max(statistics.median(st.run_ms), 1)
             for st in udf if st.run_ms]
    m["functions.udfs.task_skew"] = statistics.median(skews) if skews else 0.0

    scans = [st for st in stages if span_names.get(st.span) in SCAN_SPANS]
    m["sources.images.scan_task_s"] = sql(scans, "scan time") / 1e3
    m["sources.images.rows_read_per_row"] = sum(st.input_records for st in scans) / rows_in
    m["operators.shuffle_bytes_per_row"] = sum(st.shuffle_write_bytes for st in stages) / rows_in
    m["operators.fetch_wait_task_s"] = sum(st.fetch_wait_ms for st in stages) / 1e3
    m["operators.sort_task_s"] = sql(stages, "sort time") / 1e3
    m["operators.spill_bytes"] = sum(st.spill_bytes for st in stages)
    m["plans.catalog.task_commit_s"] = sql(stages, "task commit time") / 1e3
    m["plans.catalog.bytes_written_per_row"] = sum(st.output_bytes for st in stages) / rows_in

    m["spark.jobs_per_run"] = len({st.job_id for st in stages})
    m["spark.tasks_per_run"] = sum(st.tasks for st in stages)
    m["spark.executor_cpu_s"] = sum(st.cpu_ns for st in stages) / 1e9
    m["spark.gc_s"] = sum(st.gc_ms for st in stages) / 1e3
    m["spark.failed_tasks"] = sum(st.failed_tasks for st in stages)
    busy = sum(sum(st.run_ms) for st in stages) / 1e3
    m["spark.core_busy_frac"] = busy / (op["wall_s"] * cores)
    return m


# metrics that stay 0 on a workload by construction, and why
NOT_APPLICABLE = {
    "filter_mixed": {
        "plans.checkpoint.resume_s": "no crash is injected; one wave, no resume",
        "plans.checkpoint.resume_rework_frac": "no crash is injected; one wave, no resume",
        "api.suite_run_s": "api is not called by the filter job",
    },
    "resume_waves": {
        "api.suite_run_s": "api is not called by the filter job",
    },
    "checks_suite": {
        **{name: "checks_suite calls no kernel, UDF or checkpoint code"
           for name, _ in METRICS
           if name.split(".")[0] in ("kernels", "functions")
           or name.startswith(("plans.", "operators.salt."))},
    },
}


def compute(workload: str, tracer, log, traced_ops: list[dict], untraced_walls: list[float],
            kernels_ms: dict | None, rows_in: int, cores: int) -> tuple[dict, dict]:
    """-> (metrics {name: value}, unavailable {name: reason})."""
    span_names = {s["id"]: s["name"] for s in tracer.spans}
    per_op = []
    for op in traced_ops:
        spans = tracer.spans[op["span_lo"]:op["span_hi"]]
        stages = [st for st in log.stages.values() if st.op == op["index"]]
        per_op.append(op_metrics(op, spans, stages, span_names, rows_in, cores))
    metrics = {name: float(statistics.median(m[name] for m in per_op))
               for name in per_op[0]}
    metrics.update(kernels_ms or {})
    traced = statistics.median(op["wall_s"] for op in traced_ops)
    metrics["trace.overhead_frac"] = traced / statistics.median(untraced_walls) - 1.0
    unavailable = dict(NOT_APPLICABLE[workload])
    for name, _ in METRICS:
        if name not in metrics:
            metrics[name] = 0.0
            unavailable.setdefault(name, "not measured on this workload")
    return {name: metrics[name] for name, _ in METRICS}, unavailable
