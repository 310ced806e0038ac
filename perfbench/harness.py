"""One benchmark run: set-up, warm-up, the measured window, the traced
layer probes, and the report.

Set-up is repeated ``SETUP_REPS`` times (session start, later stop and
restart; input generation; load; oracle) and ``setup_s`` is the median.
Warm-up operations follow back to back for ``WARMUP_SECONDS``, and for at
least the workload's ``warmup_ops``. Their answers are checked but their
times are not samples: the first operation after a session start takes
two to five times as long as a settled one, and the next three still
drift down by 10-30% while the JVM compiles the planner's hot code. That
drift goes by operations, not seconds, so on a slow machine the count
decides, up to ``WARMUP_CAP_SECONDS``. The window then
runs operations back to back while the next one, predicted at the median
length so far, would end no more than half an operation past
``--seconds`` (at least ``MIN_OPS``). Every timing
reported is the median over the window's operations. A traced run
alternates untraced and traced operations so that ``trace.overhead_s``
compares the two inside one process.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import platform
import signal
import subprocess
import sys
import time
from urllib.parse import unquote, urlparse

from . import stats
from .probes import RssSampler, StatusStore, descendants
from .spans import Tracer
from .workloads import (
    DBI,
    LABEL_WRITE,
    LLOYD,
    RUN,
    WORKLOADS,
    end_to_end_targets,
    layer_targets,
    program,
)

SETUP_REPS = 3
MIN_OPS = 1
MIN_TRACED_OPS = 2
WARMUP_SECONDS = 25.0
# no warm-up operation starts that would end past this (predicted from the
# last one), so that a contended machine keeps a run within its share of
# the time budget
WARMUP_CAP_SECONDS = 40.0

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "fit_s": "s",
    "iter_s": "s",
    "points_per_s": "1/s",
    "label_s": "s",
    "dbi_s": "s",
}
# printed with the end-to-end metrics but not gated: the JVM grows its heap
# on GC timing, so the peak spreads 20-60% across seeds
UNGATED = {"peak_rss_mb": "MiB"}
PER_LAYER = {
    "process.peak_rss_mb": "MiB",
    "kmeans.iter_marginal_s": "s",
    "kmeans.fit_fixed_s": "s",
    "driver.self_s": "s",
    "spark.jobs_per_iter": "count",
    "spark.stages_per_iter": "count",
    "spark.tasks_per_iter": "count",
    "kmeans.assign_s": "s",
    "kmeans.assign_rows_per_s": "1/s",
    "spark.executor_cpu_s": "s",
    "functions.vector.expr_build_s": "s",
    "kmeans.dbi_driver_s": "s",
    "session.get_spark_s": "s",
    "sources.load_s": "s",
    "sources.scan_s": "s",
    "sources.input_partitions": "count",
    "sources.input_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.slot_busy_share": "ratio",
    "spark.shuffle_write_bytes_per_iter": "bytes",
    "spark.input_bytes_per_iter": "bytes",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
# per-layer metrics the single-shot layer probes give, after the window
PROBED = (
    "kmeans.iter_marginal_s",
    "kmeans.fit_fixed_s",
    "sources.scan_s",
    "sources.input_partitions",
    "sources.input_bytes",
    "kmeans.assign_s",
    "kmeans.assign_rows_per_s",
    "functions.vector.expr_build_s",
)


def _source_digest(root: str) -> str:
    """sha256 over the program's .py files, for checkouts without git."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "kmeanwithmapreduce_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(d, fn)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def _cpu_times() -> list[int]:
    with open("/proc/stat", encoding="ascii") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    /proc/stat readings — the usual cause of a slow run on a shared VM."""
    delta = [b - a for a, b in zip(start, end)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _wait_gone(pids: set[int], timeout_s: float) -> set[int]:
    """The pids still alive after waiting up to ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while pids and time.monotonic() < deadline:
        time.sleep(0.1)
        pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
    return pids


def _finite_or_none(value: float) -> float | None:
    return None if math.isnan(value) else value


class Bench:
    def __init__(self, args, nproc: int, work: str, out_dir: str):
        self.args = args
        self.nproc = nproc
        self.work = work
        self.out_dir = out_dir
        self.root = os.path.dirname(out_dir)
        self.workload = WORKLOADS[args.workload]()
        self.outcomes = stats.Outcomes()
        self.spark = None
        self.df = None
        self.timer = Tracer(enabled=False)
        self.tracer = Tracer(enabled=True)
        self.store: StatusStore | None = None
        self.setup: dict[str, list[float]] = {
            "setup_s": [], "session.get_spark_s": [], "sources.load_s": []
        }
        self.cpu_start = _cpu_times()
        self.untraced: list[dict] = []
        self.traced: list[dict] = []
        self.layer: dict[str, float] = dict.fromkeys(PROBED, math.nan)
        self.peak_rss_mb = 0.0
        self.stamp = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "nproc": nproc,
            "shape": self.workload.describe(),
            "load_start": [round(v, 2) for v in os.getloadavg()],
            "python": platform.python_version(),
            "commit": _git_commit(self.root),
            "source_sha256": _source_digest(self.root),
        }

    # -- session -------------------------------------------------------

    def _start_session(self) -> None:
        from kmeanwithmapreduce_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.store = StatusStore(self.spark)

    def close(self) -> None:
        """Stop Spark, the JVM and every process they started, and wait
        for each to end."""
        from pyspark import SparkContext

        pids = descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        # the JVM's children (Python workers) exit on their own once it is
        # gone; they are not ours to reap, so watch /proc for them
        pids = _wait_gone(pids, 20.0)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(pids, 5.0)

    # -- phases --------------------------------------------------------

    def execute(self) -> None:
        for _ in range(SETUP_REPS):
            self._setup_once()
        warmup_s = []
        start = time.perf_counter()
        while (
            len(warmup_s) < self.workload.warmup_ops
            or time.perf_counter() - start < WARMUP_SECONDS
        ):
            predicted_end = time.perf_counter() - start + (warmup_s[-1] if warmup_s else 0.0)
            if len(warmup_s) >= 2 and predicted_end > WARMUP_CAP_SECONDS:
                break
            t0 = time.perf_counter()
            self._op(traced=False)
            warmup_s.append(time.perf_counter() - t0)
        self.stamp["warmup_s"] = warmup_s
        self.stamp["master"] = self.spark.sparkContext.master
        self.stamp["spark"] = self.spark.version
        self.stamp["java"] = self.spark.sparkContext._jvm.System.getProperty("java.version")
        sampler = RssSampler(interval_s=0.25)
        sampler.start()
        try:
            self._window()
        finally:
            self.peak_rss_mb = sampler.stop()
        if self.args.trace:
            try:
                self._layer_probes()
            except Exception as exc:  # reported as a failed operation
                self.outcomes.record([f"layer probes raised {type(exc).__name__}: {exc}"])
        self.stamp["load_end"] = [round(v, 2) for v in os.getloadavg()]
        self.stamp["cpu_steal_share"] = round(_steal_share(self.cpu_start, _cpu_times()), 4)

    def _setup_once(self) -> None:
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self._start_session()
        t1 = time.perf_counter()
        self.workload.generate(self.work, self.args.seed, self.nproc)
        t2 = time.perf_counter()
        self.df = self.workload.load(self.spark)
        program()[2].ensure_min_parallelism(self.df.select("features"))
        t3 = time.perf_counter()
        self.workload.compute_oracle(self.spark, self.df)
        self.setup["setup_s"].append(time.perf_counter() - t0)
        self.setup["session.get_spark_s"].append(t1 - t0)
        self.setup["sources.load_s"].append(t3 - t2)

    def _window(self) -> None:
        """Operations back to back until the next one would end more than
        half an operation past the deadline (predicted from the median so
        far, so the window is ``--seconds`` long on average whatever the
        operation's length), then up to the minimum sample counts — unless
        operations keep raising."""
        start = time.perf_counter()
        deadline = start + self.args.seconds
        lengths: list[float] = []
        n = 0
        # a traced run ends on an untraced operation (U T T U), so that a
        # drift during the window does not land in trace.overhead_s
        min_untraced = 2 if self.args.trace else MIN_OPS
        while True:
            short = len(self.untraced) < min_untraced or (
                self.args.trace and len(self.traced) < MIN_TRACED_OPS
            )
            predicted = stats.median(lengths) if lengths else 0.0
            fits = time.perf_counter() + predicted / 2 <= deadline
            if not (fits or (short and n < 3 * (min_untraced + MIN_TRACED_OPS))):
                break
            t0 = time.perf_counter()
            # untraced, traced, traced, untraced, ...: the order cancels a
            # steady drift out of trace.overhead_s
            sample = self._op(traced=bool(self.args.trace) and n % 4 in (1, 2))
            lengths.append(time.perf_counter() - t0)
            if sample is not None:
                (self.traced if sample["traced"] else self.untraced).append(sample)
            n += 1
        self.stamp["window_s"] = time.perf_counter() - start

    def _op(self, traced: bool) -> dict | None:
        """One operation; returns its timings, or None when it raised."""
        workload = self.workload
        tracer = self.tracer if traced else self.timer
        tracer.reset_totals()
        tracer.run_id = f"{self.args.workload}-s{self.args.seed}-op{self.outcomes.attempted}"
        mark = self.store.mark() if traced else None
        try:
            with tracer.patch(layer_targets() if traced else end_to_end_targets()):
                with tracer.span(RUN) as root:
                    raw = workload.execute(self.df, tracer)
            problems = workload.check(raw)
        except Exception as exc:  # an operation that raises is a failure, not a crash
            self.outcomes.record([f"raised {type(exc).__name__}: {exc}"])
            return None
        self.outcomes.record(problems)
        t = tracer.totals
        iters = workload.iterations(raw)
        sample = {
            "traced": traced,
            "run_s": t[RUN],
            "fit_s": t[LLOYD],
            "iter_s": workload.iter_seconds(t, iters),
            "points_per_s": workload.n * iters / t[LLOYD],
            "label_s": t[LABEL_WRITE],
            "dbi_s": t[DBI],
            "iters": iters,
        }
        if traced:
            self._layer_sample(sample, root, self.store.since(mark), iters)
        return sample

    def _layer_sample(self, sample: dict, root, delta, iters: int) -> None:
        self.tracer.attach_jobs(delta.jobs, root)
        ops = self.tracer.subtree(root)
        lloyd_jobs = [
            j for sp in ops if sp.name == LLOYD for j in delta.jobs_within(sp.start_s, sp.end_s)
        ]
        in_lloyd = delta.totals(lloyd_jobs)
        whole = delta.totals()
        wall = root.duration_s
        sample.update(
            {
                "driver.self_s": wall - delta.covered_s(root.start_s, root.end_s),
                "spark.jobs_per_iter": len(lloyd_jobs) / iters,
                "spark.stages_per_iter": in_lloyd.stages / iters,
                "spark.tasks_per_iter": in_lloyd.tasks / iters,
                "spark.shuffle_write_bytes_per_iter": in_lloyd.shuffle_write_bytes / iters,
                "spark.input_bytes_per_iter": in_lloyd.input_bytes / iters,
                "spark.executor_cpu_s": whole.executor_cpu_s,
                "spark.executor_run_s": whole.executor_run_s,
                "spark.gc_s": whole.gc_s,
                "spark.slot_busy_share": whole.executor_run_s / (wall * self.nproc),
                "spark.failed_tasks": whole.failed_tasks,
                "kmeans.dbi_driver_s": sum(
                    sp.duration_s - delta.covered_s(sp.start_s, sp.end_s)
                    for sp in ops
                    if sp.name == DBI
                ),
            }
        )

    def _layer_probes(self) -> None:
        """Single-shot probes of one layer each, after the window."""
        core, _sweep, readers, vector = program()
        w = self.workload
        caps = w.probe_rounds()
        fit_s = []
        for rounds in caps:
            t0 = time.perf_counter()
            core.lloyd(self.df, w.params(rounds), init_centroids=w.probe_model())
            fit_s.append(time.perf_counter() - t0)
        slope = (fit_s[1] - fit_s[0]) / (caps[1] - caps[0])
        self.layer["kmeans.iter_marginal_s"] = slope
        self.layer["kmeans.fit_fixed_s"] = fit_s[0] - slope * caps[0]

        t0 = time.perf_counter()
        prepared = readers.ensure_min_parallelism(self.df.select("features"))
        prepared.write.format("noop").mode("overwrite").save()
        self.layer["sources.scan_s"] = time.perf_counter() - t0
        self.layer["sources.input_partitions"] = prepared._jdf.rdd().getNumPartitions()
        self.layer["sources.input_bytes"] = sum(
            os.path.getsize(unquote(urlparse(uri).path)) for uri in self.df.inputFiles()
        )

        cached = prepared.cache()
        try:
            cached.count()
            t0 = time.perf_counter()
            core.assign(cached, w.probe_model()).write.format("noop").mode("overwrite").save()
            assign_s = time.perf_counter() - t0
        finally:
            cached.unpersist()
        self.layer["kmeans.assign_s"] = assign_s
        self.layer["kmeans.assign_rows_per_s"] = w.n / assign_s

        quoted = vector.quote_ident("features")
        builds = []
        for _ in range(20):
            t0 = time.perf_counter()
            vector.nearest_centroid_sql(quoted, w.probe_model())
            builds.append(time.perf_counter() - t0)
        self.layer["functions.vector.expr_build_s"] = stats.median(builds)

    # -- report --------------------------------------------------------

    def _end_to_end(self) -> dict[str, dict]:
        out = {"setup_s": stats.summary(self.setup["setup_s"])}
        for name in END_TO_END:
            if name not in out:
                out[name] = stats.summary([s[name] for s in self.untraced])
        out["peak_rss_mb"] = stats.summary([self.peak_rss_mb])
        return out

    def _per_layer(self) -> dict[str, dict]:
        traced_run_s = stats.summary([s["run_s"] for s in self.traced])["median"]
        untraced_run_s = stats.summary([s["run_s"] for s in self.untraced])["median"]
        single = {
            **self.layer,
            "process.peak_rss_mb": self.peak_rss_mb,
            "trace.overhead_s": traced_run_s - untraced_run_s,
        }
        out = {}
        for name in PER_LAYER:
            if name in self.setup:
                out[name] = stats.summary(self.setup[name])
            elif name in single:
                value = single[name]
                out[name] = stats.summary([] if math.isnan(value) else [value])
            else:
                out[name] = stats.summary([s[name] for s in self.traced])
        return out

    def report(self) -> None:
        metrics, units, gated = (
            (self._per_layer(), PER_LAYER, PER_LAYER)
            if self.args.trace
            else (self._end_to_end(), {**END_TO_END, **UNGATED}, END_TO_END)
        )
        os.makedirs(self.out_dir, exist_ok=True)
        base = os.path.join(self.out_dir, f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}")
        record = {
            "stamp": self.stamp,
            "metrics": metrics,
            "attempted": self.outcomes.attempted,
            "failed": self.outcomes.failed,
            "problems": self.outcomes.reasons[:20],
            "untraced_ops": self.untraced,
        }
        with open(base + ".json", "w", encoding="utf-8") as f:
            json.dump(record, f, indent=1)
        if self.args.trace:
            with open(base + ".spans.json", "w", encoding="utf-8") as f:
                json.dump(self.tracer.export(), f)
            self._print_span_summary()

        print("stamp " + json.dumps(self.stamp, sort_keys=True))
        print("run_s per operation: " + " ".join(f"{s['run_s']:.3f}" for s in self.untraced))
        for reason in self.outcomes.reasons[:20]:
            print(f"FAILED: {reason}")
        print(f"{'metric':40s} {'median':>14s} {'q1':>14s} {'q3':>14s} {'n':>3s}  unit")
        for name, s in metrics.items():
            print(f"{name:40s} {s['median']:14.6g} {s['q1']:14.6g} {s['q3']:14.6g} {s['n']:3d}  {units[name]}")
        print(
            f"{'error_rate':40s} {self.outcomes.error_rate:14.6g} "
            f"({self.outcomes.failed} of {self.outcomes.attempted} operations failed)"
        )
        print(
            json.dumps(
                {
                    "correct": self.outcomes.failed == 0,
                    "attempted": self.outcomes.attempted,
                    "failed": self.outcomes.failed,
                    "metrics": {
                        # null when no operation gave a sample
                        name: {"value": _finite_or_none(metrics[name]["median"]), "unit": unit}
                        for name, unit in gated.items()
                    },
                }
            )
        )
        sys.stdout.flush()

    def _print_span_summary(self) -> None:
        by_name: dict[str, list[float]] = {}
        selfs = self.tracer.self_times()
        for sp in self.tracer.spans:
            agg = by_name.setdefault(sp.name, [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += sp.duration_s
            agg[2] += selfs[sp.span_id]
        print(f"spans over {len(self.traced)} traced operations:")
        print(f"{'span':40s} {'count':>6s} {'total_s':>10s} {'self_s':>10s}")
        for name, (count, total, self_s) in sorted(by_name.items(), key=lambda kv: -kv[1][1]):
            print(f"{name:40s} {count:6d} {total:10.4f} {self_s:10.4f}")
