"""Isolation probes for the optimization round (guide §1.4): time each
heavy bench stage's components with the noop sink on freshly built plans,
and dump .explain("formatted") to plans/r06/.

NOT part of the frozen driver bench — bench.py stays the official
measurement. Usage:

    python bench_extra.py [probe ...]        # default: all probes
    SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in bench.py

Probes: line_rel poly_rel line_packed poly_packed fused fused_generic
        line_sink poly_sink mz small
Each probe prints `probe component seconds` lines (best of N fresh plans).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

PLANS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans", "r06")


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timeit(label, build, n=2, sink=noop):
    obs = []
    sink(build())  # warm
    for _ in range(n):
        t0 = time.perf_counter()
        sink(build())
        obs.append(time.perf_counter() - t0)
    print(f"{label}: {min(obs):.3f}s  (samples {[round(o,3) for o in obs]})",
          flush=True)
    return min(obs)


def save_plan(df, name):
    os.makedirs(PLANS, exist_ok=True)
    if os.path.exists(os.path.join(PLANS, name)):
        return  # never clobber a captured (committed) plan snapshot
    with open(os.path.join(PLANS, name), "w") as fh:
        fh.write(df._jdf.queryExecution().explainString(
            __import__("pyspark").sql.SparkSession.getActiveSession()
            ._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")))


def agg_consume(df):
    df.agg(F.countDistinct("z", "x", "y").alias("tiles"),
           F.count("*").alias("feats")).collect()


def tile_consume(df):
    df.agg(F.count("*").alias("tiles"),
           F.sum(F.length("tile")).alias("bytes")).collect()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    only = set(sys.argv[1:]) or None

    from vtcomposite_spark.schema import get_spark
    spark = get_spark(app="bench-extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8),
                      extra_conf={"spark.sql.adaptive.coalescePartitions"
                                  ".minPartitionNum": str(cpus)})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    import bench as B
    n_events = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    N_LINE_SRC = max(32, n_events // 400)
    N_POLY_SRC = max(16, n_events // 800)
    N_LINE_SINK = 4 * N_LINE_SRC
    N_POLY_SINK = 4 * N_POLY_SRC
    stages, counters, samples = None, None, None  # build fixtures only
    wl_builder = B.build_workload  # reuse its fixture materialization
    # building the workload materializes every /tmp fixture table
    stages, counters, samples = wl_builder(spark, sf_dir)
    _grid = B.build_workload.__globals__  # not used; fixtures are on disk

    def paths(fix, n, dz=1, compress=False):
        tag = fix.split("-")[0]
        suffix = ("_dz%d" % dz if dz != 1 else "") + ("_gz" if compress else "")
        f = spark.read.parquet(f"/tmp/vtc_bench_{tag}_feats_{n}")
        t = spark.read.parquet(f"/tmp/vtc_bench_{tag}_targets_{n}{suffix}")
        return f, t

    from vtcomposite_spark.operators.composite import (
        composite, composite_encode_tiles, composite_packed,
        overzoom_encode_tiles)

    LFIX = "linestrings-properties-16-10498-22872.mvt"
    PFIX = "polygons-properties-16-10498-22872.mvt"

    def run(name):
        return only is None or name in only

    if run("line_rel") or run("poly_rel"):
        for probe, fix, n in (("line_rel", LFIX, N_LINE_SRC),
                              ("poly_rel", PFIX, N_POLY_SRC)):
            if not run(probe):
                continue
            f, t = paths(fix, n)
            sc.setJobDescription(f"{probe}: full composite noop")
            timeit(f"{probe} composite (noop)", lambda: composite(f, t))
            sc.setJobDescription(f"{probe}: composite agg (bench shape)")
            timeit(f"{probe} composite (agg)", lambda: composite(f, t),
                   sink=agg_consume)
            save_plan(composite(f, t), f"{probe}_composite_before.txt")
            sc.setJobDescription(None)

    if run("line_packed") or run("poly_packed"):
        for probe, fix, n in (("line_packed", LFIX, N_LINE_SINK),
                              ("poly_packed", PFIX, N_POLY_SINK)):
            if not run(probe):
                continue
            f, t = paths(fix, n)
            sc.setJobDescription(f"{probe}: packed agg (bench shape)")
            timeit(f"{probe} packed (agg)", lambda: composite_packed(f, t),
                   sink=agg_consume)
            sc.setJobDescription(f"{probe}: packed noop")
            timeit(f"{probe} packed (noop)", lambda: composite_packed(f, t))
            sc.setJobDescription(f"{probe}: sink same grid (contrast)")
            timeit(f"{probe} sink-contrast", lambda: overzoom_encode_tiles(
                f, t, src_zoom=8), sink=tile_consume)
            save_plan(composite_packed(f, t), f"{probe}_before.txt")
            sc.setJobDescription(None)

    if run("fused") or run("fused_generic"):
        f, t = paths(LFIX, N_LINE_SINK)
        if run("fused"):
            sc.setJobDescription("fused declared")
            timeit("fused declared", lambda: composite_encode_tiles(
                f, t, src_zooms=[8]), n=3, sink=tile_consume)
            save_plan(composite_encode_tiles(f, t, src_zooms=[8]),
                      "fused_declared_before.txt")
        if run("fused_generic"):
            sc.setJobDescription("fused undeclared")
            timeit("fused undeclared", lambda: composite_encode_tiles(f, t),
                   n=3, sink=tile_consume)
            save_plan(composite_encode_tiles(f, t),
                      "fused_undeclared_before.txt")
        sc.setJobDescription(None)

    if run("line_sink") or run("poly_sink"):
        for probe, fix, n, parts in (("line_sink", LFIX, N_LINE_SINK, None),
                                     ("poly_sink", PFIX, N_POLY_SINK,
                                      3 * cpus)):
            if not run(probe):
                continue
            f, t = paths(fix, n)
            sc.setJobDescription(probe)
            timeit(probe, lambda: overzoom_encode_tiles(
                f, t, src_zoom=8, partitions=parts), n=3, sink=tile_consume)
            sc.setJobDescription(f"{probe}: group+join only (noop)")

            def groups_only():
                keys = ["src_z", "src_x", "src_y"]
                feats = f.filter(F.col("src_z") == 8)
                tt = (t.filter(F.col("z") >= 8)
                      .withColumn("src_z", F.lit(8))
                      .withColumn("src_x", F.expr("x >> (z - 8)").cast("long"))
                      .withColumn("src_y", F.expr("y >> (z - 8)").cast("long")))
                tgrp = (tt.groupBy(*keys)
                        .agg(F.collect_list(F.struct(
                            "z", "x", "y", "buffer_size", "compress"))
                            .alias("tgts")))
                data_cols = [c for c in feats.columns if c not in keys]
                if parts:
                    feats = feats.repartition(parts, *keys)
                fgrp = (feats.groupBy(*keys)
                        .agg(F.collect_list(F.struct(*data_cols))
                             .alias("feats")))
                return fgrp.join(tgrp, on=keys)
            timeit(f"{probe} group+join (noop)", groups_only)
            save_plan(overzoom_encode_tiles(f, t, src_zoom=8,
                                            partitions=parts),
                      f"{probe}_before.txt")
            sc.setJobDescription(None)

    if run("mz"):
        from vtcomposite_spark.sources.tables import read_features
        f8, t = paths(LFIX, N_LINE_SRC)
        mz = read_features(spark, f"/tmp/vtc_bench_mz_table_{N_LINE_SRC}") \
            .select(*f8.columns)
        sc.setJobDescription("multizoom sink")
        timeit("mz sink", lambda: composite_encode_tiles(
            mz, t, src_zooms=[7, 8]), n=3, sink=tile_consume)
        save_plan(composite_encode_tiles(mz, t, src_zooms=[7, 8]),
                  "multizoom_sink_before.txt")
        sc.setJobDescription(None)

    if run("small"):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        from vtcomposite_spark.operators import similarity as SIM
        from vtcomposite_spark.operators import retrieval as R
        from vtcomposite_spark.operators import dedupe as D
        from vtcomposite_spark.operators import graph as GG
        import vtcomposite_spark.functions.text as TX
        sc.setJobDescription("semdedup")
        timeit("semdedup", lambda: SIM.semdedup(
            emb, threshold=0.25, n_centroids=8).filter(F.col("kept")),
            sink=lambda df: df.count())
        save_plan(SIM.semdedup(emb, threshold=0.25, n_centroids=8)
                  .filter(F.col("kept")), "semdedup_before.txt")
        sc.setJobDescription("bm25")
        qdf = docs.filter(F.col("doc_id") % 97 == 0).select(
            F.col("doc_id").alias("query_id"),
            F.concat_ws(" ", F.slice(TX.tokens_col(F.col("text")), 1, 3))
            .alias("query"))
        timeit("bm25", lambda: R.bm25_topk(docs, qdf, k=5),
               sink=lambda df: df.count())
        save_plan(R.bm25_topk(docs, qdf, k=5), "bm25_before.txt")
        sc.setJobDescription("minhash")
        timeit("minhash", lambda: D.minhash_candidate_pairs(docs, k=8, bands=4),
               sink=lambda df: df.count())
        sc.setJobDescription("ann_topk")
        timeit("ann_topk", lambda: SIM.ann_topk_brute(
            emb.filter(F.col("vec_id") < 50), emb, k=10),
            sink=lambda df: df.count())
        sc.setJobDescription("pagerank")
        timeit("pagerank", lambda: GG.pagerank(
            GG.doc_link_edges(docs, out_degree=3, mod=256), iters=3),
            sink=lambda df: df.count())
        sc.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
