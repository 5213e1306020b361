"""covergrid benchmark: seeded point sets through the engine's public calls.

Usage (from the repository root):

    python3 perfbench/run.py --workload uniform-knn --seed 1 --seconds 20 --trace 0

One process, one closed-loop client, Spark ``local[4]``. A run starts the
session, sets up its inputs five times (setup_s is the median), runs the
workload's operation three times untimed to warm up, then repeats it while
the last run's duration still fits in ``--seconds`` (at least three times);
op_s is the median. Every call's output is checked against a numpy brute
force outside the timed region. The last stdout line is the result object;
the line before it holds the raw samples and any errors.

``--trace 1`` enables Spark's event log, runs every call of every layer
(not only the workload's operation) and records spans around them; it
reports per-layer metrics instead of end-to-end ones. See
``perfbench/NOTES.md`` for the workloads, the layer map and host facts.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen  # noqa: E402  (sibling modules; this file runs as a script)
import oracle  # noqa: E402
from stats import median, summary  # noqa: E402
from tracing import Tracer  # noqa: E402

# each workload times one operation, a call kind (Bench.cycle); the first
# warm-up runs the ``prep`` kinds before the operation
WORKLOADS = {
    # the bench.py kNN line: a whole-corpus kNN self-join on the geometry
    # the engine's radius estimates assume
    "uniform-knn": {"geometry": "uniform", "n": 60_000, "prep": (), "op": "knn"},
    # the reference's build_graph driver on its create_points distribution:
    # the ε-graph through a cover tree, built once before the warm-up
    "gaussian-graph": {"geometry": "gaussian", "n": 30_000, "prep": ("build",),
                       "op": "tree_graph"},
}
DEGREE = 16.0          # mean ε-graph degree, self-loop included
K = 10                 # kNN k
CORES = 4              # Spark local[CORES]
PARTITIONS = 16        # shuffle partitions and input partitions
HUB_CUTOFF = 64        # build_cover_tree(hub_cutoff=...), as in bench.py
TREE_KNN_QUERIES = 10  # queries per tree_knn batch
CHECK_SOURCES = 128    # sources compared with brute force per call
SETUPS = 5             # set-ups per run; setup_s is their median
WARMUPS = 3            # untimed runs of the operation before measuring
MIN_OPS = 3            # timed runs of the operation per untraced run, at least
LOCAL_TREE_N = 20_000  # fixed slice for the driver-side numpy kernel spans
LOCAL_QUERIES = 1_000  # queries of that slice for radii_query_np

# call kind → (its sample in the detail line, the span around it)
CALLS = {
    "eps": ("eps_join_s", "operators.epsilon_join.self"),
    "knn": ("knn_join_s", "operators.knn.self"),
    "build": ("build_s", "plans.covertree.build"),
    "tree_graph": ("tree_graph_s", "plans.query.tree_epsilon_graph"),
    "tree_query": ("tree_query_s", "sinks.edges.write_graph_dir"),
    "tree_knn": ("tree_knn_s", "plans.query.tree_knn"),
}
# a traced run's cycle: the workload's operation first, as in an untraced
# run, then every other call kind in this order. The build comes last, so
# the cycle's tree kinds query the tree of the warm-up or the previous cycle,
# one already queried, as the untraced gaussian-graph operation does.
TRACED_KINDS = ("eps", "knn", "local_tree", "tree_graph", "tree_query", "tree_knn", "build")
# spans that run Spark jobs get every event-log family; the others only wall_s
SPARK_SPANS = [span for _, span in CALLS.values()]
DRIVER_SPANS = ["session.start", "plans.local_tree.build_np", "plans.local_tree.radii_query_np"]
# the ε-self-join's grid plan: the cell offsets each point is paired with
_HALF_RING = ((0, 0), (1, 0), (1, 1), (0, 1), (-1, 1))


class Skipped(Exception):
    """Raised by Bench.call for a call that failed; the failure is recorded."""


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        spec = WORKLOADS[workload]
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.geometry, self.n, self.op = spec["geometry"], spec["n"], spec["op"]
        self.prep = spec["prep"]
        self.radius = gen.degree_radius(self.geometry, self.n, DEGREE)
        self.work = work
        self.tracer = Tracer(f"{workload}-seed{seed}-pid{os.getpid()}", enabled=False)
        self.spark = None
        self.radius_rows = None  # exact ε-self-join row count, from brute force
        self.model = None  # the last cover tree built; later cycles query it
        self.recording = True
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.errors: list[dict] = []
        self.hit_ratios: list[float] = []
        self.gc_s = 0.0  # time spent collecting garbage between calls

    # --- session and inputs -------------------------------------------------
    def _conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start_session(self) -> None:
        from parallelcovertree_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(master=f"local[{CORES}]", app_name="perfbench",
                                   shuffle_partitions=PARTITIONS, extra_conf=self._conf())
        self.tracer.spark_context = self.spark.sparkContext

    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for the JVM to end
        (Spark's Python workers end with it)."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.spark_context = None
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        SparkContext._gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def load(self, xy: np.ndarray):
        import pandas as pd

        pdf = pd.DataFrame({"id": np.arange(len(xy), dtype=np.int64),
                            "x": xy[:, 0], "y": xy[:, 1]})
        pts = self.spark.createDataFrame(pdf).repartition(PARTITIONS).persist()
        pts.count()
        return pts

    def setup(self, n: int, seed: int):
        """Generate the workload's points and load them into Spark."""
        xy = gen.GENERATORS[self.geometry](np.arange(n, dtype=np.int64), seed)
        return xy, self.load(xy)

    # --- one timed, checked call ---------------------------------------------
    def call(self, metric: str | None, span: str, fn, check=None):
        """Time ``fn`` (call plus consumption of its output), then check the
        output outside the timed region. Returns fn's result, or raises
        Skipped when the call failed."""
        self.attempted += 1
        # collect the garbage of earlier calls here, outside the timed
        # region, so that a collection does not land inside a later call
        g0 = time.perf_counter()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        self.gc_s += time.perf_counter() - g0
        try:
            t0 = time.perf_counter()
            with self.tracer.span(span):
                out = fn()
            dt = time.perf_counter() - t0
            err = check(out) if check is not None else None
        except Exception as e:  # a failing call is counted, not fatal
            err, out = f"{type(e).__name__}: {e}", None
        if err is not None:
            self.errors.append({"call": metric or span, "error": err[:2000]})
            print(f"perfbench: {metric or span} failed: {err[:2000]}", file=sys.stderr)
            raise Skipped(span)
        if metric is not None and self.recording:
            self.samples.setdefault(metric, []).append(dt)
        return out

    # --- the cycle ---------------------------------------------------------------
    def cycle(self, xy: np.ndarray, pts, cycle_no: int, kinds: tuple) -> None:
        """One cycle: each call kind in ``kinds`` once, in this order.

        ``eps``: ε-self-join. ``knn``: kNN self-join. ``build``: the cover
        tree. ``local_tree``: the driver-side numpy kernels. ``tree_graph``:
        the tree's ε-graph. ``tree_query``: the same ε-graph written as an
        edge list. ``tree_knn``: tree kNN of 10 queries. The ε-join, kNN and
        ε-graph calls end in one aggregate job that counts the rows and
        collects those of the checked sources.

        The tree kinds query the last tree built. Each cycle checks a new
        residue of source ids, so no plan is reused.
        """
        from pyspark.sql import functions as F

        from parallelcovertree_spark.operators.epsilon_join import epsilon_self_join
        from parallelcovertree_spark.operators.knn import knn_join_block_kernel
        from parallelcovertree_spark.plans.covertree import build_cover_tree
        from parallelcovertree_spark.plans.local_tree import build_cover_tree_np, radii_query_np
        from parallelcovertree_spark.plans.query import tree_epsilon_graph, tree_knn
        from parallelcovertree_spark.sinks.edges import write_graph_dir

        n, r = len(xy), self.radius
        xy64 = xy.astype(np.float64)
        # brute force covers the sources with id % smod == sres
        smod = max(n // CHECK_SOURCES, 1)
        sres = (self.seed + cycle_no) % smod
        checked = np.arange(sres, n, smod)
        tmod = max(n // TREE_KNN_QUERIES, 1)
        tres = (3 * self.seed + cycle_no) % tmod
        graph_dir = os.path.join(self.work, "graph")

        def sampled(df, cols):
            """One job: the row count, and the rows of the checked sources."""
            pred = (F.col(cols[0]) % smod) == sres
            row = df.agg(F.count(F.lit(1)).alias("n"),
                         F.collect_list(F.when(pred, F.struct(*cols))).alias("s")).collect()[0]
            rows = np.array([tuple(x) for x in row["s"]], dtype=np.int64).reshape(-1, len(cols))
            return int(row["n"]), rows

        def check_rows(what: str, rows: int, pairs: np.ndarray):
            if self.radius_rows is None:
                self.radius_rows = oracle.radius_count(xy64, r, np.arange(n))
            if rows != self.radius_rows:
                return f"{what} has {rows} rows, brute force {self.radius_rows}"
            return oracle.check_radius(xy64, r, checked, pairs[np.isin(pairs[:, 0], checked)])

        fns = {
            "eps": (lambda: sampled(epsilon_self_join(pts, r), ["src", "dst"]),
                    lambda out: check_rows("ε-join", *out)),
            "knn": (lambda: sampled(knn_join_block_kernel(pts, k=K), ["src", "nbr_rank", "dst"]),
                    lambda out: oracle.check_knn(xy64, K, checked, out[1])),
            "build": (lambda: build_cover_tree(pts, hub_cutoff=HUB_CUTOFF), None),
            "tree_graph": (lambda: sampled(tree_epsilon_graph(model, r), ["src", "dst"]),
                           lambda out: check_rows("tree ε-graph", *out)),
            "tree_query": (lambda: write_graph_dir(tree_epsilon_graph(model, r), graph_dir),
                           lambda _: check_rows("edge list", *_read_edge_lines(graph_dir))),
            "tree_knn": (lambda: tree_knn(model, pts.where(F.col("id") % tmod == tres), k=K)
                         .select("src", "nbr_rank", "dst").toPandas().to_numpy(dtype=np.int64),
                         lambda rows: oracle.check_knn(xy64, K, np.arange(tres, n, tmod), rows)),
        }
        model = self.model
        for kind in kinds:
            if kind == "local_tree":
                sl = xy[:LOCAL_TREE_N]
                with self.tracer.span("plans.local_tree.build_np"):
                    tree = build_cover_tree_np(sl)
                with self.tracer.span("plans.local_tree.radii_query_np"):
                    radii_query_np(tree, sl[:LOCAL_QUERIES], r)
                continue
            if kind in ("tree_graph", "tree_query", "tree_knn") and model is None:
                self.attempted += 1
                self.errors.append({"call": kind, "error": "skipped: no cover tree"})
                continue
            metric, span = CALLS[kind]
            fn, check = fns[kind]
            if kind == "build":
                model = self.model = None  # a failed build leaves no tree
            try:
                out = self.call(metric, span, fn, check)
            except Skipped:
                continue
            if kind == "build":
                model = self.model = out
            if kind == "eps" and self.tracer.enabled:
                self.hit_ratios.append(_grid_hit_ratio(xy64, r, out[0]))

    # --- run -------------------------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        self.tracer.enabled = self.trace
        self.start_session()
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if i:
                pts.unpersist()
            xy, pts = self.setup(self.n, self.seed)
            setups.append(time.perf_counter() - t0)
        self.samples["setup_s"] = setups
        # warm-up: unrecorded, untraced runs of the operation on the
        # workload's own points pay Python worker start, code generation
        # and JIT
        self.tracer.enabled = self.recording = False
        t0 = time.perf_counter()
        # a traced run always builds a tree before its cycles query one
        prep = ("build",) if self.trace else self.prep
        for i in range(WARMUPS):
            self.cycle(xy, pts, i, (self.op,) if i else prep + (self.op,))
        warmup_s = time.perf_counter() - t0
        self.tracer.enabled, self.recording = self.trace, True
        # closed loop: start another cycle while fewer than the minimum have
        # run or the previous cycle's duration still fits in the window
        kinds = (self.op,)
        if self.trace:
            kinds += tuple(k for k in TRACED_KINDS if k != self.op)
        min_cycles = 1 if self.trace else MIN_OPS
        t0 = time.perf_counter()
        cycles, last = 0, 0.0
        while cycles < min_cycles or time.perf_counter() - t0 + last <= self.seconds:
            c0 = time.perf_counter()
            self.cycle(xy, pts, WARMUPS + cycles, kinds)
            last = time.perf_counter() - c0
            cycles += 1
        measured_s = time.perf_counter() - t0
        rss = _peak_rss_mb(os.getpid())
        jvm_rss = _peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)
        self.stop()

        med = {m: median(v) for m, v in self.samples.items() if v}
        med["op_s"] = med.get(CALLS[self.op][0])  # the operation's call samples
        e2e = {m: {"value": med[m], "unit": "s"} for m in ("setup_s", "op_s") if med.get(m)}
        e2e["peak_rss_mb"] = {"value": rss, "unit": "MB"}  # the Python driver
        detail = {
            "workload": self.workload, "seed": self.seed, "n": self.n, "radius": self.radius,
            "warmup_s": warmup_s, "cycles": cycles, "measured_s": measured_s,
            "gc_between_calls_s": self.gc_s, "jvm_peak_rss_mb": jvm_rss,
            "samples": {m: summary(v) | {"raw": v} for m, v in self.samples.items()},
            "error_rate": len(self.errors) / max(self.attempted, 1),
            "errors": self.errors, "e2e": e2e,
        }
        return e2e, detail

    def layers(self) -> dict:
        """Per-layer metrics from the spans and the event log (traced run)."""
        import eventlog

        spans = self.tracer.closed()
        counters = eventlog.span_counters(
            spans, eventlog.parse_dir(os.path.join(self.work, "eventlog")), Tracer.key)
        by_name: dict[str, list[dict]] = {}
        for s in spans:
            by_name.setdefault(s["name"], []).append(counters[s["id"]])
        out = {}
        for name in SPARK_SPANS + DRIVER_SPANS:
            fams = eventlog.FAMILIES if name in SPARK_SPANS else ("wall_s",)
            for fam in fams:
                vals = [c[fam] for c in by_name.get(name, [])]
                if vals:
                    out[f"{name}.{fam}"] = {"value": median(vals), "unit": _unit(fam)}
        rounds = [c["knn_rounds"] for c in by_name.get(CALLS["knn"][1], [])]
        if rounds:
            out["operators.knn.self.rounds"] = {"value": median(rounds), "unit": "count"}
        if self.hit_ratios:
            out["operators.epsilon_join.self.hit_ratio"] = {
                "value": median(self.hit_ratios), "unit": "ratio"}
        write = out.get("sinks.edges.write_graph_dir.wall_s")
        query = out.get("plans.query.tree_epsilon_graph.wall_s")
        if write and query:
            out["sinks.edges.write_graph_dir.self_s"] = {
                "value": write["value"] - query["value"], "unit": "s"}
        return out


def _unit(family: str) -> str:
    if family.endswith("_s"):
        return "s"
    if family.endswith("_bytes"):
        return "bytes"
    return "count" if family == "jobs" else "ratio"


def _grid_hit_ratio(xy64: np.ndarray, r: float, rows: int) -> float:
    """Pairs out over candidate pairs of the ε-self-join's grid plan, cells
    of side r: each point meets its own cell and four half-ring cells, and
    each unordered pair is emitted once."""
    cells = np.floor(xy64 / r).astype(np.int64)
    keys, counts = np.unique(cells, axis=0, return_counts=True)
    table = {tuple(k): int(c) for k, c in zip(keys.tolist(), counts.tolist())}
    cand = sum(c * table.get((cx - dx, cy - dy), 0)
               for (cx, cy), c in table.items() for dx, dy in _HALF_RING)
    pairs = (rows - len(xy64)) / 2
    return pairs / max(cand, 1)


def _read_edge_lines(path: str) -> tuple[int, np.ndarray]:
    """(line count, 0-indexed (src, dst) pairs) of a write_graph_dir output."""
    chunks = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), "rb") as f:
                chunks.append(f.read())
    text = b"".join(chunks)
    lines = text.count(b"\n")
    vals = np.fromstring(text, dtype=np.int64, sep=" ")
    return lines, vals.reshape(-1, 2) - 1


def _peak_rss_mb(pid: int) -> float:
    """Peak resident memory (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # every file a run writes stays under the checkout
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "eventlog"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the engine is imported from the checkout; Spark's Python workers
    # inherit PYTHONPATH, so they import the same copy
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    try:
        import parallelcovertree_spark  # noqa: F401  (fail before any set-up)
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        e2e, detail = bench.run()
        metrics = e2e
        if args.trace:
            metrics = bench.layers()
            detail["layers"] = metrics
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
                {"layers": metrics, "e2e": e2e})
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps({"correct": not bench.errors, "attempted": bench.attempted,
                      "failed": len(bench.errors), "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
