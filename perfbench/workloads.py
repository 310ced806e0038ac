"""The workloads. Each one generates its input from the seed,
computes the NumPy answer once, and runs one operation at a time against
the program's public K-Means functions.

``fit_tall``   many points, small model: the codegen expression argmin.
``sweep_paper`` the paper's model-selection sweep (compat mode, a fixed
               number of Lloyd rounds per k) over a 2,000 x 7
               reference-format CSV, then the points labelled with the
               selected model: driver, planner and scheduler bound.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow.parquet as pq

from . import inputs, oracle

# span names the end-to-end metrics are read from
RUN = "bench.run"
LLOYD = "kmeans.core.lloyd"
LABEL = "kmeans.core.label"
DBI = "kmeans.core.davies_bouldin_index"
LABEL_WRITE = "bench.label_write"

# a threshold no centroid movement can meet, so every fit runs its cap
NEVER = -1.0
# parquet files per core in the fit input, so the table has at least
# nproc files and ensure_min_parallelism leaves it alone
FILES_PER_CORE = 2


def program():
    """The program's modules, imported late so that a missing program
    fails in one place."""
    from kmeanwithmapreduce_spark.functions import vector
    from kmeanwithmapreduce_spark.kmeans import core, sweep
    from kmeanwithmapreduce_spark.sources import readers

    return core, sweep, readers, vector


def end_to_end_targets():
    core, _sweep, _readers, _vector = program()
    return [(core, "lloyd", LLOYD), (core, "label", LABEL), (core, "davies_bouldin_index", DBI)]


def layer_targets():
    """Every layer call a traced run records as a span."""
    core, sweep, readers, vector = program()
    return end_to_end_targets() + [
        (sweep, "sweep", "kmeans.sweep.sweep"),
        (core, "init_random_centroids", "kmeans.core.init_random_centroids"),
        (core, "assign", "kmeans.core.assign"),
        (readers, "ensure_min_parallelism", "sources.ensure_min_parallelism"),
        (vector, "nearest_centroid_sql", "functions.vector.nearest_centroid_sql"),
    ]


class FitWorkload:
    """Fixed-round ``lloyd`` from injected centroids, ``label`` written to
    parquet, then ``davies_bouldin_index``."""

    mode = "native"
    # operations before the settled time: the fifth is within a few
    # percent of it, the third and fourth are still 5-10% slow
    warmup_ops = 4

    def __init__(self, n: int, d: int, k: int, rounds: int):
        self.n, self.d, self.k, self.rounds = n, d, k, rounds

    def describe(self) -> dict:
        return {"n": self.n, "d": self.d, "k": self.k, "rounds": self.rounds}

    def generate(self, work: str, seed: int, nproc: int) -> None:
        rng = np.random.default_rng(seed)
        x = inputs.customer_points(rng, self.n, self.d)
        self.init = x[inputs.distinct_row_indices(rng, x, self.k)].astype(np.float64)
        self.input_dir = os.path.join(work, "input")
        inputs.write_parquet_table(
            x, os.path.join(self.input_dir, "points.parquet"), FILES_PER_CORE * nproc
        )
        self.labels_path = os.path.join(work, "out", "labels.parquet")
        self.x = x.astype(np.float64)

    def load(self, spark):
        _core, _sweep, readers, _vector = program()
        return readers.load_table(spark, self.input_dir, "points")

    def compute_oracle(self, spark, df) -> None:
        self.want = oracle.native_lloyd(self.x, self.init, self.rounds)

    def params(self, rounds: int):
        core = program()[0]
        return core.KMeansParams(k=self.k, thresh=NEVER, max_loop=rounds, mode=self.mode)

    def execute(self, df, tracer):
        core = program()[0]
        res = core.lloyd(df, self.params(self.rounds), init_centroids=self.init.tolist())
        with tracer.span(LABEL_WRITE):
            labeled = core.label(df, res.centroids)
            labeled.write.mode("overwrite").parquet(self.labels_path)
        return res, core.davies_bouldin_index(labeled, res.centroids)

    def iterations(self, raw) -> int:
        return raw[0].n_iter

    def iter_seconds(self, totals: dict, iters: int) -> float:
        return totals[LLOYD] / iters

    def check(self, raw) -> list[str]:
        """Problems with one operation's answer; empty when correct."""
        res, dbi = raw
        clusters = pq.read_table(self.labels_path, columns=["cluster"]).column(0).to_numpy()
        problems = oracle.check_fit(
            self.want,
            res.centroids,
            res.n_iter,
            res.cluster_sizes,
            np.bincount(clusters, minlength=self.k).tolist(),
            dbi,
        )
        if len(clusters) != self.n:
            problems.append(f"label rows {len(clusters)} != {self.n}")
        return problems

    def probe_rounds(self) -> tuple[int, int]:
        return 1, self.rounds

    def probe_model(self) -> list[list[float]]:
        return self.want.centroids.tolist()


class SweepWorkload:
    """One ``kmeans.sweep.sweep`` over several k in compat mode, each fit
    running exactly ``rounds`` Lloyd rounds, then each k's ``label``
    written to parquet, as the reference's final labelling does for the k
    of each of its runs (Main.java:344-355)."""

    mode = "compat"
    # sweeps before the settled time: the fourth is still about 10% slow
    # and the fifth within a few percent, but on a contended machine a
    # fourth warm-up sweep would push a run past its share of the time
    # budget (see README "Time budget")
    warmup_ops = 3

    def __init__(self, n: int, d: int, ks: tuple[int, ...], rounds: int):
        self.n, self.d, self.ks, self.rounds = n, d, ks, rounds
        # compat runs at most max_loop - 1 rounds
        self.max_loop = rounds + 1
        self.k = max(ks)

    def describe(self) -> dict:
        return {"n": self.n, "d": self.d, "k": list(self.ks), "rounds": self.rounds}

    def generate(self, work: str, seed: int, nproc: int) -> None:
        rng = np.random.default_rng(seed)
        x = inputs.customer_points(rng, self.n, self.d)
        self.seed = seed
        self.path = os.path.join(work, "input", "CustomerData.txt")
        inputs.write_reference_csv(x, self.path)
        self.out_dir = os.path.join(work, "out")
        self.x = x.astype(np.float64)

    def labels_path(self, k: int) -> str:
        return os.path.join(self.out_dir, f"labels-k{k}.parquet")

    def load(self, spark):
        _core, _sweep, readers, _vector = program()
        return readers.load_points_csv(spark, self.path, dim=self.d)

    def compute_oracle(self, spark, df) -> None:
        """Compat Lloyd per k from the centroids ``init_random_centroids``
        draws on the frame ``lloyd`` prepares (the draw is Spark's; the
        rounds after it are checked)."""
        core, _sweep, readers, _vector = program()
        prepared = readers.ensure_min_parallelism(df.select("features"))
        self.want = {}
        for k in self.ks:
            init = np.asarray(core.init_random_centroids(prepared, k, self.seed))
            self.want[k] = oracle.compat_lloyd(self.x, init, NEVER, self.max_loop)
        valid = {k: a.dbi for k, a in self.want.items() if not math.isnan(a.dbi)}
        self.best_k = min(valid, key=valid.get) if valid else None

    def params(self, rounds: int):
        core = program()[0]
        return core.KMeansParams(
            k=self.k, thresh=NEVER, max_loop=rounds + 1, seed=self.seed, mode=self.mode
        )

    def execute(self, df, tracer) -> dict:
        core, sweep, _readers, _vector = program()
        # the sweep reports no centroids: keep each fit's result on the
        # way out of lloyd
        fits = {}
        fit = core.lloyd

        def keep(frame, params, *args, **kwargs):
            fits[params.k] = res = fit(frame, params, *args, **kwargs)
            return res

        core.lloyd = keep
        try:
            out = sweep.sweep(
                df, self.ks, thresh=NEVER, max_loop=self.max_loop,
                seed=self.seed, mode=self.mode,
            )
        finally:
            core.lloyd = fit
        for k in self.ks:
            with tracer.span(LABEL_WRITE):
                labeled = core.label(df, fits[k].centroids)
                labeled.write.mode("overwrite").parquet(self.labels_path(k))
        return out

    def iterations(self, out: dict) -> int:
        return sum(r["loop"] for r in out["results"].values())

    def iter_seconds(self, totals: dict, iters: int) -> float:
        # the whole operation per Lloyd round: init, label, DBI and the
        # final label write included
        return totals[RUN] / iters

    def check(self, out: dict) -> list[str]:
        problems = []
        for k, want in self.want.items():
            got = out["results"].get(k)
            if got is None:
                problems.append(f"k={k}: no result")
                continue
            if got["loop"] != want.n_iter:
                problems.append(f"k={k}: loops {got['loop']} != {want.n_iter}")
            if not oracle.same_dbi(got["dbi"], want.dbi):
                problems.append(f"k={k}: DBI {got['dbi']} != {want.dbi}")
            path = self.labels_path(k)
            clusters = pq.read_table(path, columns=["cluster"]).column(0).to_numpy()
            sizes = np.bincount(clusters, minlength=k).tolist()
            if sizes != want.label_sizes:
                problems.append(f"k={k}: label sizes {sizes} != {want.label_sizes}")
        if out["best_k"] != self.best_k:
            problems.append(f"best_k {out['best_k']} != {self.best_k}")
        return problems

    def probe_rounds(self) -> tuple[int, int]:
        return 1, self.rounds

    def probe_model(self) -> list[list[float]]:
        return self.want[self.k].centroids.tolist()


# name -> factory; each run builds its own workload object
WORKLOADS = {
    "fit_tall": lambda: FitWorkload(n=400_000, d=7, k=8, rounds=4),
    # about the paper's 10 rounds per k (77 over k = 3..10 at thresh 0.01),
    # over two of its eight values of k to fit a run's share of the time
    # budget
    "sweep_paper": lambda: SweepWorkload(n=2_000, d=7, ks=(4, 8), rounds=10),
}
