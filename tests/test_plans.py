"""Physical-plan audits: the shapes that must survive a 100x scale-up.

Asserts on the executed/physical plan text, not just results:
  * small sides are BROADCAST (no shuffle of the big table for PIP/kNN);
  * no CartesianProduct outside the documented exact-baseline paths;
  * parquet scans get predicate pushdown + column pruning.
"""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from proj_spark.operators import textops
from proj_spark.operators.joins import knn_join, pip_join, radius_join


def _plan(df) -> str:
    return df._jdf.queryExecution().toString()


def _pts(spark, n=2000, seed=21):
    rng = np.random.default_rng(seed)
    return spark.createDataFrame(pd.DataFrame({
        "point_id": np.arange(n),
        "lon": rng.uniform(-60, 60, n),
        "lat": rng.uniform(-60, 60, n),
    }))


def _squares(spark, n=40, seed=33):
    # n unit squares scattered over the _pts extent: 4 edges each
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        x0, y0 = rng.uniform(-60, 60), rng.uniform(-60, 60)
        rows.append({"poly_id": f"p{i}", "rings": [[
            [x0, y0], [x0 + 1.0, y0], [x0 + 1.0, y0 + 1.0],
            [x0, y0 + 1.0], [x0, y0]]]})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_pip_join_plan_broadcasts_polygons(spark, tmp_path):
    # the cover is built on the driver and enters the plan as a local
    # relation: the executed plan never reads the polygon layer, and the
    # points side is never shuffled
    layer = str(tmp_path / "polys")
    spark.createDataFrame(pd.DataFrame([{
        "poly_id": "p0",
        "rings": [[[0.0, 0.0], [10.0, 0.0], [10.0, 10.0], [0.0, 10.0],
                   [0.0, 0.0]]],
    }])).write.parquet(layer)
    polys = spark.read.parquet(layer)
    out = pip_join(_pts(spark), polys, level=6)
    out.count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LocalTableScan" in plan
    assert "polys" not in plan and "rings" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the big table is never shuffled
    assert re.search(r"(?<!Broadcast)Exchange", plan) is None, plan


def test_knn_fastpath_plan_broadcasts_queries(spark):
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "lon": [1.0, 2.0], "lat": [1.0, 2.0]}))
    fast = knn_join(_pts(spark), qs, k=3, level=6, exact_fallback=False)
    plan = _plan(fast)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # candidate generation is pure JVM: no Python eval before the window
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_knn_full_plan_cartesian_only_in_brute_branch(spark):
    # k > |points in reach| keeps the query unprovable through every
    # expansion round, so the brute-force fallback branch is actually
    # BUILT (round-7 optimization: a round whose remaining set is empty
    # returns early and never constructs the expansion/brute subplans)
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0], "lon": [1.0], "lat": [1.0]}))
    full = knn_join(_pts(spark, n=30), qs, k=50, level=6)
    plan = _plan(full)
    # the brute-force fallback is a broadcast nested loop over the rare
    # unproven queries — never a plain CartesianProduct
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_knn_early_exit_prunes_brute_branch(spark):
    # the designed common case: every query proven exact in round 1 —
    # the returned plan must NOT carry the expansion/brute subplans
    # (they contribute zero rows and cost ~1s of driver planning)
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0], "lon": [1.0], "lat": [1.0]}))
    full = knn_join(_pts(spark), qs, k=3, level=6)
    plan = _plan(full)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _construct_jobs(spark, group, build):
    """``build()``'s result and the number of jobs it ran before
    returning, counted per job group with the status tracker (listener
    bus drained first)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("case, n_points, budget", [
    # every query proven in round 1: the queries' collect, then the
    # round's collect
    ("proven", None, 4),
    # one query with no ring-1 candidates and a known point count: the
    # pair-budget gate sends it straight to the (lazy) brute pass
    ("brute_gate", 2000, 4),
    # the same query with a pinned level and no point count: one
    # expansion round, then the brute pass
    ("expansion", None, 7),
])
def test_knn_construct_job_budget(spark, case, n_points, budget):
    # eager construct-time jobs are pinned like plan shapes: one collect
    # of the queries, then one collect of each round's top-k rows (AQE
    # runs its stages as jobs of their own)
    lon, lat = [1.0, 2.0], [1.0, 2.0]
    if case != "proven":
        lon, lat = lon + [120.0], lat + [0.0]  # outside the points' extent
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": range(len(lon)), "lon": lon, "lat": lat}))
    pts = _pts(spark)
    out, jobs = _construct_jobs(spark, f"knn_budget_{case}", lambda: knn_join(
        pts, qs, k=3, level=6, n_points=n_points))
    assert jobs <= budget, f"{case}: {jobs} construct-time jobs > {budget}"
    assert out.count() == 3 * len(lon)


@pytest.mark.parametrize("case, level, max_bytes, budget", [
    # one polygon pass gives the level, the edge count, the edges and
    # the bboxes of the driver-side cover
    ("single_chunk", None, 256 << 20, 1),
    ("pinned_level", 6, 256 << 20, 1),
    # 3 hash chunks: the polygon pass (its partitions over their share
    # send only counts), then one pass per chunk, none of the whole layer
    ("chunked", None, 2048, 4),
])
def test_pip_construct_job_budget(spark, case, level, max_bytes, budget):
    polys = _squares(spark)
    out, jobs = _construct_jobs(spark, f"pip_budget_{case}", lambda: pip_join(
        _pts(spark), polys, level=level, max_broadcast_bytes=max_bytes))
    assert jobs <= budget, f"{case}: {jobs} construct-time jobs > {budget}"
    assert out.count() > 0


@pytest.mark.parametrize("case, broadcast_queries, budget", [
    # the broadcast guard: one collect of at most cap+1 queries, whose
    # LIMIT is the plan's root; the rings are counted and built on the
    # driver
    ("default_guard", None, 1),
    # the same collect finds the rings past max_broadcast_rows: the
    # shuffle plan builds them lazily in a mapInArrow
    ("shuffle_fallback", None, 1),
    # a forced plan runs nothing at construction
    ("broadcast_queries", True, 0),
    ("shuffle_queries", False, 0),
])
def test_radius_construct_job_budget(spark, case, broadcast_queries, budget):
    import warnings

    # queries sit on the first 5 points; a 1 m radius finds exactly them
    pdf = _pts(spark).limit(5).toPandas()
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": range(5), "lon": pdf["lon"], "lat": pdf["lat"]}))
    pts = _pts(spark)
    # 20 rows: cap = 20 // 3 = 6 collects all 5 queries, whose 3x3
    # rings hold 45 rows
    max_rows = 20 if case == "shuffle_fallback" else 4_000_000
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out, jobs = _construct_jobs(
            spark, f"radius_budget_{case}", lambda: radius_join(
                pts, qs, 1.0, max_broadcast_rows=max_rows,
                broadcast_queries=broadcast_queries))
    assert jobs <= budget, f"{case}: {jobs} construct-time jobs > {budget}"
    assert any("max_broadcast_rows" in str(w.message) for w in caught) \
        == (case == "shuffle_fallback")
    assert out.count() == 5


@pytest.mark.parametrize("case, local_max_edges, budget", [
    # one bounded Arrow pull decides the path and feeds the numpy mirror
    ("local", None, 1),
    # the distributed loop: checkpoints and one change count per round
    ("distributed", 0, 72),
])
def test_dedup_cc_construct_job_budget(spark, monkeypatch, case,
                                       local_max_edges, budget):
    # a 12-node chain and a pair: 14 nodes in 2 components
    if local_max_edges is not None:
        monkeypatch.setattr(textops, "_CC_LOCAL_MAX_EDGES", local_max_edges)
    ids = np.random.default_rng(4).permutation(12)
    edges = [(int(a), int(b)) for a, b in zip(ids[:-1], ids[1:])]
    pairs = spark.createDataFrame(edges + [(20, 21)], "id_a long, id_b long")
    out, jobs = _construct_jobs(
        spark, f"cc_budget_{case}",
        lambda: textops.dedup_connected_components(pairs))
    assert jobs <= budget, f"{case}: {jobs} construct-time jobs > {budget}"
    assert sorted(r["component_id"] for r in out.collect()) == \
        [0] * 12 + [20, 20]


def test_minhash_groups_construct_job_budget(spark):
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6),
        "text": ["the quick brown fox jumps over the lazy dog"] * 3
        + ["a completely different sentence about spark jobs",
           "another unrelated line of text for the corpus", ""]}))
    # lazy: the signature and the candidates are computed when the
    # result is consumed
    out, jobs = _construct_jobs(
        spark, "minhash_groups_budget",
        lambda: textops.minhash_lsh_groups(docs))
    assert jobs == 0, f"{jobs} construct-time jobs > 0"
    assert out.count() == 6


def _warm_call_ops(spark, tmp_path):
    """Small inputs for each match operator, built once per call.  The
    point and query sides are parquet tables, as in a real job: a local
    relation would fold a LIMIT away before it reaches generated code."""
    from proj_spark.operators.imagedup import phash_dedup_groups

    _pts(spark).write.parquet(str(tmp_path / "pts"))
    pd.DataFrame({"query_id": range(4), "lon": [1.0, 2.0, -30.0, 120.0],
                  "lat": [1.0, 2.0, 15.0, 0.0]}).to_parquet(
        tmp_path / "qs.parquet")  # the last query has no ring-1 point
    pts = spark.read.parquet(str(tmp_path / "pts"))
    qs = spark.read.parquet(str(tmp_path / "qs.parquet"))
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(6),
        "text": ["the quick brown fox jumps over the lazy dog"] * 3
        + ["a completely different sentence about spark jobs",
           "another unrelated line of text for the corpus", ""]}))
    hashes = spark.createDataFrame(
        [(10, 0b000000), (11, 0b000111), (12, 0b111111), (99, 0x0F0F0F0F0F0F)],
        "image_id long, phash long")
    return {
        "knn_join": lambda: knn_join(pts, qs, k=3, level=6, n_points=2000),
        "radius_join": lambda: radius_join(pts, qs, 500_000.0),
        "minhash_lsh_groups": lambda: textops.minhash_lsh_groups(docs),
        "phash_dedup_groups": lambda: phash_dedup_groups(
            hashes, max_hamming=3, bits=48),
    }


@pytest.mark.parametrize("op", ["knn_join", "radius_join",
                                "minhash_lsh_groups", "phash_dedup_groups"])
def test_warm_call_compiles_no_class(spark, tmp_path, op):
    # a warm call plans the same code as the first one, so Spark's
    # codegen cache serves every class: a per-call literal in generated
    # code (a LIMIT's counter inside a probe stage, a ring bound) would
    # compile again on every call
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    build = _warm_call_ops(spark, tmp_path)[op]

    def compiles():
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        build().write.mode("overwrite").format("noop").save()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    compiles()
    assert compiles() == 0


def test_parquet_scan_pushdown_and_pruning(spark, tmp_path):
    path = str(tmp_path / "pts.parquet")
    _pts(spark, 5000).withColumn("payload", F.lit("x")).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .where(F.col("lon") > 30.0)
        .select("point_id", "lon")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan and "GreaterThan(lon,30.0)" in plan
    # column pruning: payload/lat not read
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][-1]
    assert "payload" not in read_schema and "lat" not in read_schema


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketed-by-cell tables join without a shuffle: the exchange is
    paid once at write time (the 'bucketing for co-located joins' knob)."""
    from proj_spark.operators.cells import cell_col
    from proj_spark.sources.tables import write_bucketed_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = _pts(spark, 4000, seed=22).withColumn(
            "cell", cell_col(F.col("lon"), F.col("lat"), 6))
        b = _pts(spark, 4000, seed=23).withColumn(
            "cell", cell_col(F.col("lon"), F.col("lat"), 6))
        write_bucketed_table(a, "bt_a", ["cell"], num_buckets=8,
                             sort_cols=["cell"])
        write_bucketed_table(b, "bt_b", ["cell"], num_buckets=8,
                             sort_cols=["cell"])
        ta = spark.table("bt_a")
        tb = spark.table("bt_b").select(
            "cell", F.col("point_id").alias("other_id"))
        joined = ta.join(tb, "cell")
        plan = _plan(joined)
        # no shuffle on either side of the join
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() > 0
        # control: the same join over plain parquet DOES shuffle
        pa = str(tmp_path / "plain_a"); pb = str(tmp_path / "plain_b")
        a.write.parquet(pa); b.write.parquet(pb)
        plain = spark.read.parquet(pa).join(
            spark.read.parquet(pb).select(
                "cell", F.col("point_id").alias("other_id")), "cell")
        assert "Exchange hashpartitioning" in _plan(plain)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """write_table's partition_by layout lets an equality filter prune
    files at plan time (PartitionFilters), the engine analog of the
    reference's Area-based bbox pruning."""
    from proj_spark.operators.cells import cell_col
    from proj_spark.sources.tables import write_table

    df = _pts(spark, 3000, seed=24).withColumn(
        "cell2", cell_col(F.col("lon"), F.col("lat"), 2))
    path = str(tmp_path / "parted")
    write_table(df, path, mode="overwrite", partition_by=["cell2"])
    some_cell = int(df.groupBy("cell2").count().orderBy(
        F.col("count").desc()).first()["cell2"])
    q = spark.read.parquet(path).where(F.col("cell2") == some_cell)
    plan = _plan(q)
    assert "PartitionFilters" in plan and "cell2" in plan
    # only the matching partition directory is scanned
    n_all = spark.read.parquet(path).count()
    n_sel = q.count()
    assert 0 < n_sel < n_all


def test_knn_top_k_is_spark_window_group_limit(spark):
    # every kNN plan ranks through one row_number window, which Spark
    # pre-limits per partition below the shuffle: no Python stage, and
    # a partial WindowGroupLimit under the Exchange on __qpos
    qs = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 1], "lon": [1.0, 2.0], "lat": [1.0, 2.0]}))
    # a repeated query id is never proven in a round: the brute branch
    dup = spark.createDataFrame(pd.DataFrame({
        "query_id": [0, 0, 1], "lon": [1.0, 2.0, 3.0], "lat": [1.0, 2.0, 3.0]}))
    plans = {
        "pinned": knn_join(_pts(spark), qs, k=3, level=2, exact_fallback=False),
        "pinned_sized": knn_join(_pts(spark), qs, k=3, level=2,
                                 exact_fallback=False, n_points=2000),
        "brute": knn_join(_pts(spark), dup, k=3, level=4),
    }
    for name, df in plans.items():
        assert "MapInArrow" not in _plan(df), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        below = plan[plan.index("Exchange hashpartitioning(__qpos"):]
        assert re.search(r"WindowGroupLimit \[__qpos.*, Partial\n", below), name
        assert ("BroadcastNestedLoopJoin" in plan) == (name == "brute"), name


def test_pip_join_chunked_plan_unions_broadcasts(spark):
    # polygon layers beyond max_broadcast_bytes split into hash chunks:
    # the plan is a union of broadcast joins — still no big-table shuffle
    polys = _squares(spark)
    chunked = pip_join(_pts(spark), polys, level=6, max_broadcast_bytes=2048)
    plan = _plan(chunked)
    assert "Union" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_hamming_neardup_plan_no_cartesian_jvm_verify(spark):
    """Image near-dup: candidate generation must be an equi-join on
    (band, key) — never a cross product — and the Hamming verify must
    be JVM bit_count (codegen), not a Python stage."""
    from proj_spark.operators.imagedup import hamming_neardup_pairs

    df = spark.createDataFrame(
        pd.DataFrame({"image_id": np.arange(500),
                      "phash": np.arange(500) * 2654435761 % (1 << 62)}))
    out = hamming_neardup_pairs(df, id_col="image_id", hash_col="phash",
                                max_hamming=3)
    _assert_banded_jvm_plan(_plan(out), bit_count=True)


def _assert_banded_jvm_plan(plan: str, bit_count: bool) -> None:
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("bit_count" in plan) == bit_count
    assert "PythonUDF" not in plan and "mapInPandas" not in plan.lower()


@pytest.mark.parametrize("op", ["simhash", "embedding"])
def test_banded_pairs_plan_no_cartesian_jvm_verify(spark, op):
    """The other users of the shared banded self-join keep the same
    contract: (band, key) equi-join, verify in the JVM.  SimHash
    verifies with bit_count like the image path; embeddings score
    cosine with JVM array math."""
    from proj_spark.operators.ann import embedding_neardup_pairs
    from proj_spark.operators.textops import simhash_dedup_pairs

    rng = np.random.default_rng(3)
    if op == "simhash":
        words = [f"w{i}" for i in range(50)]
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": np.arange(200),
            "text": [" ".join(rng.choice(words, 8)) for _ in range(200)]}))
        out = simhash_dedup_pairs(df)
    else:
        df = spark.createDataFrame(pd.DataFrame({
            "vec_id": np.arange(200),
            "embedding": [rng.normal(size=8).tolist() for _ in range(200)]}))
        out = embedding_neardup_pairs(df, dim=8)
    _assert_banded_jvm_plan(_plan(out), bit_count=op == "simhash")


def test_ann_norms_computed_prejoin(spark):
    """ANN brute force: the per-row norm columns must be projected
    BEFORE the broadcast join (one interpreted pass per row, not one
    per candidate pair) — the pair-level expression is a single dot."""
    from proj_spark.operators.ann import ann_bruteforce_topk

    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(50),
        "embedding": [np.random.default_rng(i).uniform(-1, 1, 8).tolist()
                      for i in range(50)],
    }))
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding")
    plan = _plan(ann_bruteforce_topk(emb, qs, k=3))
    # __vn / __qn appear as projected columns feeding the join
    assert "__vn" in plan and "__qn" in plan


def test_corpus_hygiene_plans_stay_jvm_side(spark):
    """pii_scrub must be a pure whole-stage-codegen scan (no Python, no
    Exchange); url_domain_stats the standard two-phase distinct
    aggregate (no Python); repetition_score no Python.  These plans are
    the 100-TB contract for the corpus-hygiene pass — a regression that
    drops a Python eval node into them is a 10-100x slowdown."""
    import pandas as pd

    from proj_spark.operators.textops import (pii_scrub, repetition_score,
                                              url_domain_stats)

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(100),
        "text": [f"doc {i} mail a@b.co https://x{i % 5}.org/p" for i in range(100)],
    }))
    p = _plan(pii_scrub(df))
    assert "Python" not in p
    assert "Exchange" not in p
    p = _plan(url_domain_stats(df))
    assert "Python" not in p
    p = _plan(repetition_score(df))
    assert "Python" not in p


def test_aeqd_transform_plan_single_arrow_stage(spark):
    """The aeqd projection rides the same one-ArrowEvalPython-no-shuffle
    shape as every other transform (O7 batching contract)."""
    from proj_spark.functions.transform import projstring_udf

    df = _pts(spark, 500)
    udf = projstring_udf(
        "+proj=aeqd +lat_0=48.8566 +lon_0=2.3522 +ellps=WGS84 +units=m")
    out = df.select("point_id", udf(F.col("lon"), F.col("lat")).alias("t"))
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert phys.count("ArrowEvalPython") == 1
    assert "Exchange" not in phys


def test_tile_pyramid_plan_no_shuffle(spark):
    """tile_pyramid is mapInArrow over the scan — fan-out happens
    inside the Python stage, never through a shuffle."""
    from proj_spark.operators.raster import tile_pyramid
    from proj_spark.sources.datagen import synthesize_images

    out = tile_pyramid(synthesize_images(spark, 16, partitions=2),
                       zooms=(0, 1), tile=16)
    p = _plan(out)
    assert "Exchange" not in p


def test_corpus_clean_plan_single_shuffle_no_python(spark):
    """corpus_clean: the scoring/filter/scrub stages fuse into pure-JVM
    projections (no Python stage anywhere) and the only Exchange in
    the plan is the final dedup window's hash partitioning — one
    shuffle for the whole composed pipeline."""
    from proj_spark.operators.textops import corpus_clean

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(50),
        "text": [f"the quick brown fox number {i} jumps over the lazy dog"
                 for i in range(50)],
    }))
    p = _plan(corpus_clean(docs))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "MapInPandas" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_asof_join_plan_single_shuffle_no_python(spark):
    """asof_join: one union + one window — the physical plan carries
    exactly ONE hash Exchange (the by-key window shuffle; round-7
    optimization folded the right side's tie-dedup into the window
    ordering, removing its aggregate exchange) and no Python stage; no
    range-join explosion (no CartesianProduct, no broadcast nested
    loop)."""
    from proj_spark.operators.events import asof_join

    base = pd.Timestamp("2024-01-01")
    left = spark.createDataFrame(pd.DataFrame({
        "event_id": range(40),
        "user_id": [i % 4 for i in range(40)],
        "ts": [base + pd.Timedelta(minutes=i) for i in range(40)],
    }))
    right = spark.createDataFrame(pd.DataFrame({
        "user_id": [0, 1, 2, 3],
        "ts": [base + pd.Timedelta(minutes=5 * i) for i in range(4)],
        "v": [10, 11, 12, 13],
    }))
    p = _plan(asof_join(left, right, by="user_id", right_cols=("v",)))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") == 1, p


def test_projection_battery_plan_one_arrow_stage_no_shuffle(spark):
    """Round-5 battery queries: Spark fuses all 10-12 independent
    projection UDFs into ONE ArrowEvalPython node — a battery costs a
    single Python round trip over one scan, zero shuffles (the whole
    KAT surface rides one Arrow exchange at any scale)."""
    import __spark_entry__ as E

    for q in (E.q01_proj_world_a, E.q02_proj_world_b, E.q03_proj_regional):
        out = q(spark, "/root/testdata/sf0.001")
        phys = out._jdf.queryExecution().executedPlan().toString()
        assert phys.count("ArrowEvalPython") == 1, phys
        assert "Exchange" not in phys, phys


def test_minhash_signature_plan_jvm_only_three_shuffles(spark):
    """Round-4 verdict ask #2: pin the MinHash LSH plan so the
    signature stage cannot silently decay — everything stays JVM-side
    (no Python stage anywhere) and the whole pairs pipeline carries
    exactly three hash Exchanges (bucket-key candidate join's two
    sides + the pair-dedup aggregate), with no re-tokenization via a
    second scan-side Exchange."""
    from proj_spark.operators.textops import minhash_lsh_pairs

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(60),
        "text": [f"the quick brown fox number {i % 7} jumps over the "
                 f"lazy dog" for i in range(60)],
    }))
    p = _plan(minhash_lsh_pairs(docs, num_hashes=16, bands=4,
                                jaccard_threshold=0.4))
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p
    assert "CartesianProduct" not in p
    # ceiling, not equality: AQE may turn the candidate join's small
    # side into a broadcast (fewer shuffles is fine; MORE is the decay
    # this test exists to catch)
    assert p.count("Exchange hashpartitioning") <= 3, p


def test_hygiene_battery_plan_zero_shuffle_jvm_only(spark):
    """q08 hygiene battery: the fused PII-scrub + HTML-strip selects
    collapse into a zero-shuffle pure-JVM projection over one scan."""
    from proj_spark.operators.textops import html_strip, pii_scrub

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": range(20),
        "text": [f"doc {i} contact a@b.example.com" for i in range(20)],
    }))
    planted = docs.select(
        "doc_id", F.col("text").alias("pii_text"),
        F.concat(F.lit("<p>"), F.col("text"),
                 F.lit("</p>")).alias("html_text"))
    h = html_strip(planted, text_col="html_text", keep=("pii_text",)) \
        .withColumnRenamed("clean_text", "html_clean")
    out = pii_scrub(h, text_col="pii_text",
                    keep=("html_clean", "n_tags_stripped"))
    p = _plan(out)
    assert "Exchange" not in p
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_hgridshift_transform_plan_single_arrow_stage(spark):
    """The NTv2 grid-shift pipeline rides the same one-ArrowEvalPython
    no-shuffle shape as every other transform; the grid loads once per
    worker (module cache), never through the plan."""
    import __spark_entry__ as E

    out = E.q05_hgridshift(spark, "/root/testdata/sf0.001")
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert phys.count("ArrowEvalPython") == 1, phys
    assert "Exchange" not in phys, phys
