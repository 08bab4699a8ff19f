"""Quality-filter benchmark.

    python3 perfbench/run.py --workload filter_mixed --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client, one driver process on
``local[<cores>]``; each operation starts after the previous one ends):

  filter_mixed  one ``plans.checkpoint.run`` into a fresh catalog, all 64
                buckets in one wave: the headline job
  resume_waves  ``plans.checkpoint.run`` in waves of RESUME_WAVE_SIZE buckets
                with a crash injected after RESUME_FAIL_AFTER waves, then a
                resume with the same run_key: the write/commit path (not in
                BENCHMARK.json, which has time for two workloads)
  checks_suite  ``api.Suite.run`` with the ten check kinds of the ``api``
                docstring over a replicated metadata table: read-only, no
                Python worker, no writes

A run is: seeded inputs (cached, untimed), set-up (``get_spark`` plus the
cold first operation), the workload's untimed warm-up operations, then
timed operations for ``--seconds``.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` alternates untraced and traced operations with the
Spark event log on and prints the per-layer metrics.  Every operation is
checked by ``gate``.  The last stdout line is one JSON object; the exit
code is 1 if any check failed and 2 if the program is not next to this
directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(HERE, "_state")

WORKLOADS = ("filter_mixed", "resume_waves", "checks_suite")
RESUME_WAVE_SIZE = 32
RESUME_FAIL_AFTER = 1
# untimed, gated operations after the cold one: measured on 4 cores, the
# first few still run 10-40% slower than later ones (JIT, worker pool)
WARMUP_OPS = 5
MIN_TIMED_OPS = 3
KERNEL_SAMPLE_ROWS = 1000
DRIVER_HEAP = "1g"

END_TO_END = [
    ("wall_s", "s"), ("images_per_s", "rows/s"), ("setup_s", "s"),
    ("f1_keep", "ratio"), ("peak_rss_mb", "MB"),
]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def state_path(*parts: str) -> str:
    return os.path.join(STATE, *parts)


def prepare_state() -> None:
    """Fresh per-run state dir; every file Spark, the JVM and the Python
    workers write goes under it (or under the seed cache)."""
    shutil.rmtree(STATE, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "catalogs"):
        os.makedirs(state_path(d))
    os.environ["TMPDIR"] = state_path("tmp")
    os.environ["SPARK_LOCAL_DIRS"] = state_path("spark-local")
    os.environ["DQC_MODEL_CACHE"] = os.path.join(HERE, "_cache", "models")


def spark_conf(trace: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.local.dir": state_path("spark-local"),
        "spark.sql.warehouse.dir": state_path("warehouse"),
        # a fixed-size heap: with a growing one the JVM's resident set
        # (most of peak_rss_mb) varied by 10% between identical runs
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={state_path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
        # get_spark's default of 32 is sized for 32 cores
        "spark.sql.shuffle.partitions": str(2 * cores()),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": state_path("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# -- processes ----------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process, the JVM and the Python workers."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass  # exited between listing and reading
    return total_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on stdin
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, 9)
                except OSError:
                    pass
            time.sleep(0.5)
            break
        time.sleep(0.1)


# -- workloads -----------------------------------------------------------------

def count_files(root: str, suffix: str, in_manifests: bool) -> int:
    n = 0
    for dirpath, _dirs, files in os.walk(root):
        if ("_manifests" in dirpath) != in_manifests:
            continue
        n += sum(1 for f in files if f.endswith(suffix) and not f.startswith("."))
    return n


class FilterWorkload:
    """filter_mixed and resume_waves: checkpoint runs into a fresh
    catalog per operation, gated against the oracle labels."""

    def __init__(self, name: str, seed: int):
        import gate
        import inputs

        self.name, self.resume = name, name == "resume_waves"
        self.gate, self.inputs = gate, inputs
        self.root = inputs.ensure_images(seed)
        self.labels = inputs.read_labels(seed)
        self.rows = len(self.labels)

    def bind(self, spark) -> None:
        from data_quality_check_spark.sources import images as IM

        self.df = IM.read_images(spark, self.inputs.SF, root=self.root)

    def op(self, spark, i: int, tracer=None) -> dict:
        from data_quality_check_spark.plans import checkpoint as CP
        from data_quality_check_spark.plans.catalog import LocalParquetCatalog

        import spans

        root = state_path("catalogs", f"op-{i}")
        cat = (spans.TracingCatalog(spark, root, tracer) if tracer
               else LocalParquetCatalog(spark, root))
        run = tracer.wrap("plans.checkpoint.run", CP.run) if tracer else CP.run
        run_key = f"{self.name}-{i}"
        out = {"root": root, "run_key": run_key}
        t0 = time.perf_counter()
        if self.resume:
            try:
                run(spark, cat, self.df, run_key=run_key,
                    wave_size=RESUME_WAVE_SIZE, fail_after_wave=RESUME_FAIL_AFTER)
                raise RuntimeError("the injected crash did not happen")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
            t1, resume_at = time.perf_counter(), time.time()
            stats = run(spark, cat, self.df, run_key=run_key, wave_size=RESUME_WAVE_SIZE)
            out["resume_s"] = time.perf_counter() - t1
            out["resume_at_us"] = int(resume_at * 1e6)
            out["resume_rows"] = stats["rows_written"]
        else:
            run(spark, cat, self.df, run_key=run_key)
        out["wall_s"] = time.perf_counter() - t0
        return out

    def check(self, out: dict) -> tuple:
        tally, problems = self.gate.gate_filter_run(out["root"], out["run_key"], self.labels)
        out["manifests"] = count_files(out["root"], ".json", True)
        out["data_files"] = count_files(out["root"], ".parquet", False)
        if self.resume:
            ledger = self.gate.read_table(out["root"], "checkpoint_ledger",
                                          ["bucket", "committed_at"])
            redone = set(ledger.loc[ledger["committed_at"] >= out["resume_at_us"], "bucket"])
            left = self.gate.bucket_rows(self.labels, redone)
            out["rework_frac"] = out["resume_rows"] / left if left else 0.0
        shutil.rmtree(out["root"], ignore_errors=True)
        return tally, problems


class ChecksWorkload:
    def __init__(self, name: str, seed: int):
        import gate
        import inputs

        self.name, self.gate = name, gate
        self.path, self.expected = inputs.ensure_checks_table(seed)
        self.rows = self.expected[0]["total"]

    def bind(self, spark) -> None:
        from data_quality_check_spark.api import Suite, checks

        self.df = spark.read.parquet(self.path)
        self.suite = Suite([getattr(checks, kind)(*args)
                            for kind, args in self.gate.SUITE_SPEC])

    def op(self, spark, i: int, tracer=None) -> dict:
        t0 = time.perf_counter()
        report = self.suite.run(self.df)
        return {"wall_s": time.perf_counter() - t0, "rows": report.to_rows()}

    def check(self, out: dict) -> tuple:
        return self.gate.compare_report(out["rows"], self.expected), []


def make_workload(name: str, seed: int):
    return (ChecksWorkload if name == "checks_suite" else FilterWorkload)(name, seed)


# -- measurement ----------------------------------------------------------------

class Runner:
    """Runs and gates operations; keeps the pooled gate tally."""

    def __init__(self, workload, spark):
        import gate

        self.w, self.spark = workload, spark
        self.tally = gate.Tally()
        self.problems: list[str] = []
        self.n = 0

    def run(self, tracer=None) -> dict | None:
        """One gated operation; None when it raised."""
        i, self.n = self.n, self.n + 1
        sc = self.spark.sparkContext
        if tracer is not None:
            from eventlog import OP_PROPERTY

            sc.setLocalProperty(OP_PROPERTY, str(i))
            lo = len(tracer.spans)
        try:
            if tracer is not None:
                import spans

                with spans.installed(tracer), tracer.span("perfbench.op"):
                    out = self.w.op(self.spark, i, tracer)
                out["span_lo"], out["span_hi"] = lo, len(tracer.spans)
            else:
                out = self.w.op(self.spark, i)
        except Exception as e:  # a failed run counts all its rows as failed
            import gate

            self.tally.add(gate.Tally(attempted=self.w.rows, failed=self.w.rows))
            self.problems.append(f"op {i} raised {type(e).__name__}: {e}")
            return None
        finally:
            if tracer is not None:
                sc.setLocalProperty(OP_PROPERTY, None)
        out["index"] = i
        tally, problems = self.w.check(out)
        self.tally.add(tally)
        self.problems += [f"op {i}: {p}" for p in problems]
        if tally.failed:
            self.problems.append(f"op {i}: {tally.failed}/{tally.attempted} operations failed")
        return out


def timed_loop(runner: Runner, seconds: float, tracers=(None,)) -> dict:
    """Operations until ``seconds`` are used, at least MIN_TIMED_OPS per
    tracer setting; a new operation starts only if the median one so far
    still fits.  Two settings run in ABBA order, so a drift in speed over
    the run does not favour either.  Returns {tracer index: [op outputs]}."""
    order = [0] if len(tracers) == 1 else [0, 1, 1, 0]
    outs: dict[int, list] = {k: [] for k in range(len(tracers))}
    t_end = time.monotonic() + seconds
    n = 0
    while True:
        done = [o["wall_s"] for v in outs.values() for o in v]
        enough = all(len(v) >= MIN_TIMED_OPS for v in outs.values())
        if enough and (not done or time.monotonic() + statistics.median(done) > t_end):
            break
        k = order[n % len(order)]
        out = runner.run(tracers[k])
        if out is None:
            break
        outs[k].append(out)
        n += 1
    return outs


def start(workload, trace: bool):
    """get_spark() plus the first (cold) operation: the set-up.  Then
    the workload's warm-up operations."""
    from data_quality_check_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores()}]", extra_conf=spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    workload.bind(spark)
    runner = Runner(workload, spark)
    ok = runner.run() is not None
    setup_s = time.perf_counter() - t0
    for _ in range(WARMUP_OPS if ok else 0):
        ok = runner.run() is not None
        if not ok:
            break
    return spark, runner, setup_s, ok


def end_to_end(workload, seconds: float):
    spark, runner, setup_s, ok = start(workload, trace=False)
    try:
        outs = timed_loop(runner, seconds)[0] if ok else []
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)
    if not outs:
        return {}, dict(END_TO_END), runner, 0, []
    walls = [o["wall_s"] for o in outs]
    notes = ["wall_s samples: " + " ".join(f"{w:.3f}" for w in walls)]
    if getattr(workload, "resume", False):
        # printed for the reader; gated through wall_s, which contains it
        resume = statistics.median(o["resume_s"] for o in outs)
        notes.append(f"{'resume_s':<46} {resume:14.6g} s")
    wall = statistics.median(walls)
    metrics = {
        "wall_s": wall,
        "images_per_s": workload.rows / wall,
        "setup_s": setup_s,
        "f1_keep": runner.tally.f1,
        "peak_rss_mb": rss,
    }
    return metrics, dict(END_TO_END), runner, len(walls), notes


def traced(workload, seconds: float, seed: int):
    import eventlog
    import inputs
    import perlayer
    import spans

    spark, runner, _setup_s, ok = start(workload, trace=True)
    tracer = spans.Tracer(spark.sparkContext)
    try:
        outs = {0: [], 1: []}
        if ok:
            outs = timed_loop(runner, seconds, tracers=(None, tracer))
    finally:
        stop_spark(spark)
    tracer.write(state_path("spans.json"))
    if not (outs[0] and outs[1]):
        return {}, perlayer.UNITS, runner, 0, []
    log = eventlog.parse(state_path("eventlog"))
    kernels_ms = None
    if workload.name != "checks_suite":
        kernels_ms = perlayer.kernel_microrun(inputs.read_sample(seed, KERNEL_SAMPLE_ROWS))
    metrics, unavailable = perlayer.compute(
        workload.name, tracer, log, outs[1], [o["wall_s"] for o in outs[0]],
        kernels_ms, workload.rows, cores())
    notes = [f"n/a  {name}: {why}" for name, why in unavailable.items()]
    self_s = spans.self_times(tracer.spans)
    by_name: dict[str, float] = {}
    for s in tracer.spans:
        by_name[s["name"]] = by_name.get(s["name"], 0.0) + self_s[s["id"]]
    notes += [f"self {name:<40} {v / len(outs[1]):10.4f} s per traced run"
              for name, v in sorted(by_name.items(), key=lambda kv: -kv[1])]
    return metrics, perlayer.UNITS, runner, len(outs[1]), notes


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "data_quality_check_spark")):
        print("perfbench: the data_quality_check_spark package is not next to "
              "perfbench/; run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    prepare_state()
    workload = make_workload(args.workload, args.seed)   # untimed input generation
    if args.trace:
        metrics, units, runner, n, notes = traced(workload, args.seconds, args.seed)
    else:
        metrics, units, runner, n, notes = end_to_end(workload, args.seconds)

    t = runner.tally
    print(f"workload={args.workload} seed={args.seed} rows={workload.rows} "
          f"cores={cores()} timed_runs={n} (after 1 cold set-up run and "
          f"{WARMUP_OPS} warm-up runs) trace={args.trace}")
    for line in notes:
        print(line)
    for name, value in metrics.items():
        print(f"{name:<46} {value:14.6g} {units[name]}")
    failed_frac = t.failed / t.attempted if t.attempted else 1.0
    print(f"{'failed_frac':<46} {failed_frac:14.6g} ratio  ({t.failed}/{t.attempted})")
    for p in runner.problems:
        print(f"FAIL {p}")
    print(json.dumps({
        "correct": t.failed == 0 and n > 0,
        "attempted": t.attempted,
        "failed": t.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if t.failed == 0 and n > 0 else 1


if __name__ == "__main__":
    sys.exit(main())
