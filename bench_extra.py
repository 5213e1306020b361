"""Optimization-round measurement harness (guide §1) — NOT the driver bench.

`bench.py` is frozen for measurement; this file holds the extra
instrumentation the optimization round needs:

- per-query isolation: run ONE bench line at a time with the same warmup
  discipline, so a measurement isn't polluted by JVM state from earlier lines;
- noop-sink timing (`--sink noop`) per guide §1.4 (the frozen bench uses
  .count(); both are reported so the two methodologies can be compared);
- phase breakdown for the cover-tree build and the routed tree query (the
  build's phase timers are `tools/profile_build.py`, which sets
  `covertree._TRACE`);
- plan capture: `--plans DIR` writes `.explain("formatted")` for each timed
  query into DIR/<query>.txt (the judge-facing plan evidence).

Usage:
  python bench_extra.py q_knn10 q_covertree_epsilon --reps 5
  python bench_extra.py all --reps 3 --plans plans/r06
"""

from __future__ import annotations

import argparse
import io
import json
import math
import os
import sys
import time
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from parallelcovertree_spark.functions import geo
from parallelcovertree_spark.operators.epsilon_join import epsilon_join, epsilon_self_join
from parallelcovertree_spark.operators.knn import knn_join_block_kernel
from parallelcovertree_spark.session import get_spark

DEG_TARGET = 16.0


def density_radius(n: int) -> float:
    area = (2 * geo.SCALE) ** 2
    return math.sqrt(DEG_TARGET * area / (math.pi * n))


def build_points(spark, sf_dir: str, scale: int):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n_docs = docs.count()
    reps = spark.range(scale).withColumnRenamed("id", "rep")
    pts = (
        docs.crossJoin(F.broadcast(reps))
        .select((F.col("doc_id") + F.col("rep") * F.lit(n_docs)).alias("id"))
    )
    pts = pts.select("id", geo.x_col("id").alias("x"), geo.y_col("id").alias("y"))
    return pts, n_docs * scale


def capture_plan(df, path: str) -> None:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(buf.getvalue())


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--sink", choices=["count", "noop"], default="count")
    ap.add_argument("--plans", default=None, help="dir to dump explain() per query")
    ap.add_argument("--suffix", default="", help="plan filename suffix (_before/_after)")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    scale = int(os.environ.get("BENCH_SCALE", "200"))
    shuffle_parts = int(os.environ.get("BENCH_SHUFFLE_PARTITIONS", max(cpus * 2, 16)))
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="covergrid-bench-extra",
        shuffle_partitions=shuffle_parts,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext

    want = set(args.queries)
    if "all" in want:
        want = {
            "q_epsilon_join", "q_knn10", "q_minhash_dedup", "q_minhash_dedup_engine",
            "q_covertree_build", "q_covertree_epsilon", "q_covertree_selective",
            "q_epsilon_selective",
        }

    def run(df):
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
            return -1
        return df.count()

    out: dict[str, dict] = {}

    def timed(name: str, fn, plan_df_fn=None):
        sc.setJobDescription(f"bench_extra:{name}")
        raws = []
        rows = None
        for _ in range(args.reps):
            t0 = time.time()
            rows = fn()
            raws.append(round(time.time() - t0, 3))
        out[name] = {"raws": raws, "min": min(raws), "rows": rows}
        print(f"{name}: min={min(raws):.3f} raws={raws} rows={rows}", flush=True)
        if args.plans and plan_df_fn is not None:
            capture_plan(plan_df_fn(), os.path.join(args.plans, f"{name}{args.suffix}.txt"))
        sc.setJobDescription(None)

    from parallelcovertree_spark.registry import minhash_dup_pairs

    # warmup at 1/10 scale (same discipline as the frozen bench)
    wscale = max(scale // 10, 1)
    wpts, wn = build_points(spark, sf_dir, wscale)
    wpts = wpts.persist()
    if "q_epsilon_join" in want or "q_epsilon_selective" in want:
        epsilon_self_join(wpts, density_radius(wn)).count()
    if "q_knn10" in want:
        knn_join_block_kernel(wpts, k=10).count()
    if "q_minhash_dedup" in want or "q_minhash_dedup_engine" in want:
        minhash_dup_pairs(spark, sf_dir).count()
    wpts.unpersist()

    pts, n = build_points(spark, sf_dir, scale)
    pts = pts.repartition(shuffle_parts).persist()
    pts.count()
    radius = density_radius(n)

    if "q_epsilon_join" in want:
        timed("q_epsilon_join", lambda: run(epsilon_self_join(pts, radius)),
              lambda: epsilon_self_join(pts, radius))
    if "q_knn10" in want:
        timed("q_knn10", lambda: run(knn_join_block_kernel(pts, k=10)))
    if "q_minhash_dedup" in want:
        timed("q_minhash_dedup", lambda: run(minhash_dup_pairs(spark, sf_dir)),
              lambda: minhash_dup_pairs(spark, sf_dir))
    if "q_minhash_dedup_engine" in want:
        from parallelcovertree_spark.operators.dedup import minhash_dup_pairs_np

        docs_tbl = spark.read.parquet(f"{sf_dir}/documents.parquet")
        timed("q_minhash_dedup_engine",
              lambda: run(minhash_dup_pairs_np(docs_tbl, 128, 16)),
              lambda: minhash_dup_pairs_np(docs_tbl, 128, 16))

    tree_wanted = {"q_covertree_build", "q_covertree_epsilon",
                   "q_covertree_selective", "q_epsilon_selective"} & want
    if tree_wanted:
        import gc as _gc

        from parallelcovertree_spark.plans.covertree import build_cover_tree
        from parallelcovertree_spark.plans.query import tree_epsilon_graph, tree_radius_join

        def _jvm_gc():
            _gc.collect()
            sc._jvm.System.gc()

        wsample = pts.where(F.col("id") % 10 == 3)
        wmodel = build_cover_tree(wsample, hub_cutoff=64)
        tree_epsilon_graph(wmodel, radius).count()
        del wmodel

        model = None
        braws, qraws = [], []
        for _ in range(args.reps):
            model = None
            _jvm_gc()
            t0 = time.time()
            model = build_cover_tree(pts, hub_cutoff=64)
            braws.append(round(time.time() - t0, 3))
            if "q_covertree_epsilon" in want:
                t0 = time.time()
                rows = run(tree_epsilon_graph(model, radius))
                qraws.append(round(time.time() - t0, 3))
        if "q_covertree_build" in want:
            out["q_covertree_build"] = {"raws": braws, "min": min(braws),
                                        "rows": model.vertices.count()}
            print(f"q_covertree_build: min={min(braws):.3f} raws={braws}", flush=True)
        if qraws:
            out["q_covertree_epsilon"] = {"raws": qraws, "min": min(qraws), "rows": rows}
            print(f"q_covertree_epsilon: min={min(qraws):.3f} raws={qraws}", flush=True)
            if args.plans:
                capture_plan(tree_epsilon_graph(model, radius),
                             os.path.join(args.plans, f"q_covertree_epsilon{args.suffix}.txt"))

        _jvm_gc()
        if "q_covertree_selective" in want:
            qs = pts.where(F.col("id") % 100 == 7)
            timed("q_covertree_selective",
                  lambda: run(tree_radius_join(model, qs, radius)),
                  lambda: tree_radius_join(model, qs, radius))
        if "q_epsilon_selective" in want:
            qs = pts.where(F.col("id") % 100 == 7)
            timed("q_epsilon_selective",
                  lambda: run(epsilon_join(qs, pts, radius, left_id="id")),
                  lambda: epsilon_join(qs, pts, radius, left_id="id"))

    print(json.dumps({k: v for k, v in out.items()}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
