"""Skew (salted two-phase agg), lineage/checkpoint-resume, and physical-
join-strategy tests (J1 scale fallback: VERDICT r1 items 4-5)."""

import contextlib
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from vtcomposite_spark.plans import lineage as L
from vtcomposite_spark.plans import skew as K


@contextlib.contextmanager
def _no_broadcast(spark):
    """Disable every automatic broadcast so 'auto' strategies must survive
    on shuffle joins — the planet-scale-target regime, simulated."""
    keys = ["spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold"]
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k in keys:
            spark.conf.set(k, "-1")
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _points_fixture(spark):
    from vtcomposite_spark.sources import ingest
    feats = spark.range(0, 2000).select(
        F.lit(0).alias("tile_idx"), F.lit(4).alias("src_z"),
        (F.col("id") % 16).cast("long").alias("src_x"),
        ((F.col("id") * 7) % 16).cast("long").alias("src_y"),
        F.lit("pts").alias("layer"), F.lit(2).alias("layer_version"),
        F.lit(4096).alias("extent"), F.col("id").cast("int").alias("feature_idx"),
        F.col("id").alias("feature_id"), F.lit(1).cast("byte").alias("geom_type"),
        F.array((F.col("id") * 13 % 4096).cast("long")).alias("xs"),
        F.array((F.col("id") * 29 % 4096).cast("long")).alias("ys"),
        F.array(F.lit(0)).alias("part_offsets"),
        F.array(F.lit(0).cast("byte")).alias("ring_types"),
        F.create_map(F.lit("k"), F.col("id").cast("string")).alias("properties"))
    targets = (spark.range(0, 32).select(F.col("id").alias("x"))
               .crossJoin(spark.range(0, 32).select(F.col("id").alias("y")))
               .select(F.lit(5).alias("z"), F.col("x").cast("long"),
                       F.col("y").cast("long"), F.lit(64).alias("buffer_size"),
                       F.lit(None).cast("array<string>").alias("keep_layers"),
                       F.lit(False).alias("compress")))
    return feats, targets


def _canon(df):
    return sorted((r.z, r.x, r.y, r.feature_id, tuple(r.xs), tuple(r.ys))
                  for r in df.collect())


def test_composite_auto_join_no_broadcast_regime(spark):
    """J1 scale fallback: with every auto-broadcast disabled (the regime a
    planet-scale target set forces), the unhinted ancestor join and
    ``winners_join='auto'`` must run the whole composite on shuffle joins —
    no BroadcastExchange anywhere — and produce exactly the
    forced-broadcast results."""
    from vtcomposite_spark.operators.composite import composite_points
    feats, targets = _points_fixture(spark)
    want = _canon(composite_points(feats, targets, winners_join="broadcast"))
    assert want  # non-trivial output
    with _no_broadcast(spark):
        out = composite_points(feats, targets, winners_join="auto")
        got = _canon(out)  # collect first: AQE finalizes the plan on run
        plan = _final_plan(out)
    assert got == want
    assert "BroadcastExchange" not in plan
    # forced hints still broadcast even in the no-auto regime
    hinted = composite_points(feats, targets, winners_join="broadcast")
    with _no_broadcast(spark):
        hinted.collect()
        assert "BroadcastExchange" in _final_plan(hinted)


def test_ann_ivf_probe_join_regimes(spark):
    """VERDICT r3 item 2: the IVF probe join must not FORCE a broadcast —
    under the no-auto-broadcast (planet-query-set) regime, probe_join=
    'auto' runs the bucket equi-join as a shuffle join with identical
    results; 'broadcast' still forces the hint (one more BroadcastExchange
    than auto, beyond the always-forced tiny centroid joins)."""
    import numpy as np

    from vtcomposite_spark.operators import similarity as S
    rng = np.random.default_rng(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)],
        "vec_id long, embedding array<double>")
    q = emb.limit(10)
    kw = dict(n_centroids=4, nprobe=2, centroids="seed")
    want = sorted((r.query_id, r.corpus_id, r.cos, r.rank) for r in
                  S.ann_topk_ivf(q, emb, 3, probe_join="broadcast",
                                 **kw).collect())
    assert want
    with _no_broadcast(spark):
        auto = S.ann_topk_ivf(q, emb, 3, probe_join="auto", **kw)
        got = sorted((r.query_id, r.corpus_id, r.cos, r.rank)
                     for r in auto.collect())
        auto_plan = _final_plan(auto)
        forced = S.ann_topk_ivf(q, emb, 3, probe_join="broadcast", **kw)
        forced.collect()
        forced_plan = _final_plan(forced)
    assert got == want
    assert "SortMergeJoin" in auto_plan or "ShuffledHashJoin" in auto_plan
    assert forced_plan.count("BroadcastExchange") \
        > auto_plan.count("BroadcastExchange")


def test_knn_grid_site_join_regimes(spark):
    """VERDICT r3 item 7: knn_join(grid) site-side strategy — 'auto' under
    the no-auto-broadcast regime runs a shuffle join (zero
    BroadcastExchange with exact=False) with results identical to the
    forced-broadcast default."""
    from vtcomposite_spark.operators.joins import knn_join
    pts = spark.range(0, 200).select(
        F.col("id").cast("string").alias("url"),
        ((F.col("id") * 37 % 160) / F.lit(1.0) - 80).alias("lat"),
        ((F.col("id") * 53 % 360) / F.lit(1.0) - 180).alias("lon"))
    sites = spark.range(0, 40).select(
        F.col("id").alias("site_id"),
        ((F.col("id") * 41 % 160) / F.lit(1.0) - 80).alias("lat"),
        ((F.col("id") * 59 % 360) / F.lit(1.0) - 180).alias("lon"))
    key = lambda df: sorted(  # noqa: E731
        (r.url, r.site_id, r.knn_rank) for r in df.collect())
    want = key(knn_join(pts, sites, 3, zoom=2, exact=False,
                        site_join="broadcast"))
    assert want
    with _no_broadcast(spark):
        auto = knn_join(pts, sites, 3, zoom=2, exact=False, site_join="auto")
        got = key(auto)
        assert "BroadcastExchange" not in _final_plan(auto)
        forced = knn_join(pts, sites, 3, zoom=2, exact=False,
                          site_join="broadcast")
        forced.collect()
        assert "BroadcastExchange" in _final_plan(forced)
    assert got == want


def test_ancestor_join_src_zooms_restriction(spark):
    """Exploding targets only over the zooms present in the features table
    must not change results (and shrinks the exploded side)."""
    from vtcomposite_spark.operators.composite import ancestor_join
    feats, targets = _points_fixture(spark)
    full = ancestor_join(feats, targets)
    restricted = ancestor_join(feats, targets, src_zooms=[4])
    key = lambda df: sorted(  # noqa: E731
        (r.z, r.x, r.y, r.feature_id) for r in df.collect())
    assert key(full) == key(restricted)
    exploded_full = targets.withColumn(
        "src_z", F.explode(F.sequence(F.lit(0), F.col("z")))).count()
    exploded_restricted = targets.withColumn(
        "src_z", F.explode(F.filter(F.array(F.lit(4)),
                                    lambda z: z <= F.col("z")))).count()
    assert exploded_restricted * 6 == exploded_full  # z=5 ⇒ 6 levels vs 1


def test_salted_counts_match_plain(spark):
    # hot key: 80% of rows on one tile
    df = spark.range(0, 5000).select(
        F.when(F.col("id") % 5 < 4, F.lit(99)).otherwise(F.col("id") % 50)
        .alias("tile"),
        F.col("id"))
    plain = {r.tile: r.n for r in
             df.groupBy("tile").agg(F.count("*").alias("n")).collect()}
    salted = {r.tile: r.n for r in
              K.salted_tile_counts(df, ["tile"], ["id"], nsalt=8).collect()}
    assert salted == plain
    assert salted[99] == 4000


def test_salted_agg_min_max_sum(spark):
    df = spark.range(0, 1000).select((F.col("id") % 3).alias("k"), "id")
    out = {r.k: (r.s, r.mn, r.mx) for r in K.salted_agg(
        df, ["k"], {"s": ("id", "sum"), "mn": ("id", "min"), "mx": ("id", "max")},
        ["id"], nsalt=4).collect()}
    want = {r.k: (r.s, r.mn, r.mx) for r in df.groupBy("k").agg(
        F.sum("id").alias("s"), F.min("id").alias("mn"),
        F.max("id").alias("mx")).collect()}
    assert out == want


def test_partition_lineage(spark):
    df = spark.range(0, 100, numPartitions=4).select(
        (F.col("id") % 2).alias("z"), F.col("id").cast("string").alias("s"))
    lin = L.partition_lineage(df, ["z"]).collect()
    assert sum(r.rows for r in lin) == 100
    assert all(r.bytes > 0 for r in lin)
    assert {r.partition_id for r in lin} <= {0, 1, 2, 3}


def test_write_level_and_resume(spark):
    root = tempfile.mkdtemp(prefix="vtc_lineage_")
    try:
        calls = []

        def build(z):
            calls.append(z)
            return spark.range(0, 10 * (z + 1)).select(
                F.lit(z).alias("z"), F.col("id"))

        r1 = L.run_levels(spark, root, [0, 1], build)
        assert r1[0]["rows"] == 10 and r1[1]["rows"] == 20
        assert calls == [0, 1]
        # resume: both levels done, nothing recomputed, a new level runs
        r2 = L.run_levels(spark, root, [0, 1, 2], build)
        assert r2[0] == {"skipped": True} and r2[1] == {"skipped": True}
        assert r2[2]["rows"] == 30
        assert calls == [0, 1, 2]
        # data actually written and partitioned
        z1 = spark.read.parquet(f"{root}/z=1__data")
        assert z1.count() == 20
        assert L.completed_levels(spark, root) == {0, 1, 2}
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _features_exchanges(plan: str) -> int:
    """Exchanges whose child carries the FEATURE structs (geom_type is a
    feature field, never a target one): the features side of the
    source-grouped join. One means the payload moves once, hashed by
    source address; a second would re-shuffle it."""
    lines = plan.splitlines()
    return sum(1 for i, ln in enumerate(lines[:-1])
               if "Exchange " in ln and "geom_type" in lines[i + 1])


def test_packed_relational_plan_shape(spark):
    """The declared-single-zoom relational plan keeps the source-grouped
    shape: features shuffle ONCE (hash by source address, unduplicated
    rows, bytes ∝ input), exactly one python seam (MapInArrow), and the
    row restore is a JVM Generate (inline), not a second seam. Rows stay
    identical to the per-row reference."""
    from tests.reference_plans import composite_rows
    from vtcomposite_spark.operators.composite import composite
    feats, targets = _points_fixture(spark)
    out = composite(feats, targets, [4])
    got = _canon(out)  # collect first: AQE finalizes the plan on run
    want = _canon(composite_rows(feats, targets))
    assert got == want and want
    # the AQE executedPlan string carries Final AND Initial plan copies —
    # count nodes in the final section only
    plan = _final_plan(out).split("== Initial Plan ==")[0]
    assert plan.count("MapInArrow") == 1
    assert plan.count("Generate") == 1
    assert _features_exchanges(plan) == 1


def test_source_grouped_plan_no_broadcast(spark):
    """Scale regime: with every automatic broadcast disabled, the one
    composite plan — declared single zoom and undeclared — runs without a
    BroadcastExchange (nothing is force-broadcast) and shuffles the
    features exactly once by source address; rows equal the reference."""
    from tests.reference_plans import composite_rows
    from vtcomposite_spark.operators.composite import composite
    feats, targets = _points_fixture(spark)
    want = _canon(composite_rows(feats, targets))
    assert want
    with _no_broadcast(spark):
        for zooms in ([4], None):
            out = composite(feats, targets, src_zooms=zooms)
            assert _canon(out) == want, zooms
            plan = _final_plan(out).split("== Initial Plan ==")[0]
            assert "BroadcastExchange" not in plan, zooms
            assert _features_exchanges(plan) == 1, zooms


def test_single_group_targets_encode_whole(spark):
    """The sink picks whole-tile output from what it observes, not from
    an option: on an undeclared single-zoom input every target's winners
    lie in one source group, so the half of the plan that encodes
    multi-group targets through ``encode_tiles`` runs on nothing (AQE
    turns it into an EmptyRelation), and the bytes equal the declared
    mode's."""
    from vtcomposite_spark.operators.composite import composite_encode_tiles
    feats, targets = _points_fixture(spark)

    def tiles(df):
        return sorted((r.z, r.x, r.y, bytes(r.tile)) for r in df.collect())

    out = composite_encode_tiles(feats, targets)
    got = tiles(out)
    assert got and got == tiles(
        composite_encode_tiles(feats, targets, src_zooms=[4]))
    plan = _final_plan(out).split("== Initial Plan ==")[0]
    below_encode = plan.split("MapInArrow encode_packed")[1].splitlines()[1]
    assert "EmptyRelation" in below_encode


def test_composite_plans_start_no_job(spark):
    """Building the plans of composite, composite_packed and
    composite_encode_tiles starts zero Spark jobs, with zooms declared
    and with none (no eager zoom inference, checkpoint or guard count)."""
    from vtcomposite_spark.operators import composite as C
    feats, targets = _points_fixture(spark)
    sc = spark.sparkContext
    group = "composite-plan-build"
    sc.setJobGroup(group, "plan build only")
    try:
        for build in (C.composite, C.composite_packed,
                      C.composite_encode_tiles):
            for zooms in ([4], [4, 5], None):
                before = len(sc.statusTracker().getJobIdsForGroup(group))
                df = build(feats, targets, src_zooms=zooms)
                df.schema  # analysis only
                after = len(sc.statusTracker().getJobIdsForGroup(group))
                assert after == before, (build.__name__, zooms)
        # the probe counts jobs: an action in the group does register
        spark.range(1).collect()
        assert sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_arrow_seam_batch_caps(spark):
    """The Arrow seam's batch sizing is a measured performance invariant
    (OPTIMIZATION_r06.md item 7): a small BYTE cap keeps each kernel
    batch's flat arrays inside L2/L3 across the kernels' many numpy
    passes (256 MB -> 2 MB measured 1.25-1.5x per run on the packed
    sink/fused stages and collapses run-to-run spread under memory-
    bandwidth contention), while the large ROW cap preserves the
    per-feature relational seam's per-batch-cost amortization
    (16k/64k/128k rows measured 5.34/4.59/4.20s in round 2). Guard both
    so a session-helper edit can't silently regress either regime."""
    assert int(spark.conf.get(
        "spark.sql.execution.arrow.maxBytesPerBatch")) <= (2 << 20)
    assert int(spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch")) >= (64 << 10)
