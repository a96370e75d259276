"""Physical-plan assertions: the plans must be the ones you'd want at 100 TB
— filters pushed to the parquet scan, columns pruned, dimension joins
broadcast, no cartesian products in the LSH paths."""

from __future__ import annotations

import __spark_entry__ as entrymod
from tests.conftest import SF_UNIT


def _plan(spark, name: str) -> str:
    df = entrymod.queries()[name](spark, SF_UNIT)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark):
    plan = _plan(spark, "q03_topk_per_group")
    assert "PushedFilters: [IsNotNull(o_totalprice)" in plan or "GreaterThanOrEqual(o_totalprice" in plan
    # column pruning: the lineitem scan must not read l_tax / l_returnflag
    scan = [l for l in plan.splitlines() if "lineitem" in l and "ReadSchema" in l]
    assert scan and "l_tax" not in scan[0] and "l_returnflag" not in scan[0]


def test_dim_join_broadcast(spark):
    plan = _plan(spark, "q02_dim_join_rollup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_no_cartesian_in_lsh_paths(spark):
    for name in ("dedup03_minhash_lsh", "ann03_lsh_topk", "er02_candidate_pairs"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_anti_semi_join_strategies(spark):
    assert "LeftAnti" in _plan(spark, "q04_anti_join")
    assert "LeftSemi" in _plan(spark, "q05_semi_join")


def test_stable_ids_no_single_partition_exchange(spark):
    # W6 at scale: the two-phase id assignment must never funnel the data
    # through one task (the round-1 global-sort row_number did)
    plan = _plan(spark, "q09_stable_ids")
    assert "SinglePartition" not in plan


def _find_node(node, name: str):
    """Depth-first search of a SparkPlan (py4j) for the first node whose
    nodeName contains `name`; traversal is root-down, so the match is the
    TOPMOST such node and its toString() prints the whole subtree below.
    AdaptiveSparkPlan wrappers report no children — unwrap via their
    pre-execution initialPlan (inspecting shape must not trigger a run)."""
    if "AdaptiveSparkPlan" in node.nodeName():
        return _find_node(node.initialPlan(), name)
    if name in node.nodeName():
        return node
    for i in range(node.children().size()):
        hit = _find_node(node.children().apply(i), name)
        if hit is not None:
            return hit
    return None


def test_assume_partitioned_no_exchange_before_feature_udfs(spark):
    """VERDICT r5 #4: two_phase_scored_pairs(assume_partitioned=True) relies
    on the caller's frame being physically hash(a)-partitioned (the pipeline
    materializes the candidates stage with localCheckpoint, which preserves
    physical partitions). The flag promises co-location, not width: the
    pipeline's candidates shuffle is repartition("a") (REPARTITION_BY_COL),
    which AQE coalesces — to one partition at small sizes — and the scorer
    then runs at that width. This test fixes the width with
    repartition(8, "a"). Pin BOTH halves of the invariant:
    (1) localCheckpoint keeps hash(a) co-location — every `a` lands in one
        partition after the round-trip;
    (2) with the flag set, NO shuffle exchange sits between the candidates
        scan and the feature UDFs (the subtree under the topmost
        ArrowEvalPython is exchange-free); without it, the guard
        repartition("a") is present. A refactor that reintroduces the
        repartition or breaks the layout assumption fails here."""
    from pyspark.sql import functions as F

    from blink_reloaded_spark.functions.text import tokens
    from blink_reloaded_spark.operators.scoring import two_phase_scored_pairs

    nodes = (
        spark.range(60)
        .select(
            F.col("id"),
            F.concat(F.lit("surface text "), F.col("id").cast("string")).alias(
                "text"
            ),
        )
        .withColumn("tk", tokens(F.col("text")))
    )
    cands = (
        spark.range(60)
        .select(F.col("id").alias("a"))
        .join(spark.range(4).select((F.col("id") + 1).alias("b")), how="cross")
        .select("a", (F.col("a") + F.col("b")).alias("b"))
        .where(F.col("b") < 60)
    )
    pre = cands.repartition(8, "a").localCheckpoint()

    # (1) layout survives the localCheckpoint round-trip
    spread = (
        pre.withColumn("p", F.spark_partition_id())
        .groupBy("a")
        .agg(F.countDistinct("p").alias("np"))
        .agg(F.max("np").alias("mx"))
        .collect()[0]["mx"]
    )
    assert spread == 1, f"localCheckpoint broke hash(a) co-location: {spread}"
    assert pre.rdd.getNumPartitions() == 8

    # (2) plan shape with and without the flag
    def plan_of(assume):
        df = two_phase_scored_pairs(
            pre, nodes, cos_source="recompute", assume_partitioned=assume
        )
        return df._jdf.queryExecution().executedPlan()

    trusted = plan_of(True)
    udf = _find_node(trusted, "ArrowEvalPython")
    assert udf is not None
    assert "Exchange hashpartitioning" not in udf.toString(), udf.toString()
    guarded = plan_of(False).toString()
    assert "REPARTITION_BY_COL" in guarded, guarded


def test_wholestage_codegen_in_text_kernels(spark):
    # the portable hash kernels must stay JVM-side (no Python eval nodes)
    for name in ("text03_fingerprint", "dedup04_simhash", "multimodal01_metadata"):
        plan = _plan(spark, name)
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, name


# Spark jobs one LinkagePipeline.run(surfaces=...) plus count() starts on the
# fixture below (local[8]), with one fused scorer UDF, candidate keying
# materialized once and a one-window cluster tail.
LINK_JOB_BUDGET = 18


def test_link_pipeline_plan_budget(spark):
    """The KB pipeline's per-op fixed cost is mostly jobs and Python UDF
    passes: pin the job count of one run + count() (job group + status
    tracker), and exactly ONE ArrowEvalPython node in the executed links
    plan (the fused jw/cos scorer; JW-then-cos was two)."""
    from blink_reloaded_spark import datagen
    from blink_reloaded_spark.operators.mentions import extract_mentions
    from blink_reloaded_spark.plans.pipeline import LinkagePipeline

    cat = datagen.EntityCatalog.build(n_entities=50)
    tr, _ = datagen.generate_transcripts(
        spark, cat, n_convs=50, turns_per_conv=10, hot_conv_factor=10
    )
    tr = tr.localCheckpoint()
    ents = cat.entities_df(spark)
    surfaces = [a["surface"] for a in cat.aliases]

    sc = spark.sparkContext
    group = "test_link_pipeline_plan_budget"
    sc.setJobGroup(group, group)
    try:
        LinkagePipeline(spark, collect_metrics=False).run(
            tr, ents, surfaces=surfaces
        ).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= LINK_JOB_BUDGET, n_jobs

    pipe = LinkagePipeline(spark, collect_metrics=False)
    m = extract_mentions(tr, surfaces, with_context=False)
    surf = pipe.build_surfaces_from(
        m.select("mention_id", "mention"), ents
    ).localCheckpoint()
    cands = pipe.build_candidates_from(surf).localCheckpoint()
    links = pipe.build_links_from(cands, surf, assume_partitioned=True)
    assert len(links.collect()) > 0
    plan = links._jdf.queryExecution().executedPlan()
    if "AdaptiveSparkPlan" in plan.nodeName():
        plan = plan.finalPhysicalPlan()
    assert plan.toString().count("ArrowEvalPython") == 1, plan.toString()
