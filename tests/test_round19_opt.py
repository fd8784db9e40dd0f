"""Round-19 optimization pins.

1. ``q_sql_recursive_chain``'s executed lag-doubled walk is row-for-row
   identical to the declared ``WITH RECURSIVE`` UnionLoop form run on
   the same session — the in-repo equivalence witness for the round-19
   frontier-doubling rewrite (the DuckDB oracle is the cross-engine
   one).
2. The fused-delay plan SHAPE is pinned (VERDICT r18 ask #3): the
   round-18 ``datediff(a,b)=0`` residual trick keeps Catalyst from
   re-keying the self-join on a 4-column composite — if a Spark upgrade
   ever normalizes it back to an equality, the plan regrows an
   ENSURE_REQUIREMENTS hash exchange per side with no result change, so
   only a plan test makes that regression loud.
3. The one-exchange pair/intersection generation rewrites (ngram
   Jaccard, triangle co-supply pairs) are pair-for-pair identical to
   the self-join forms they replaced.
4. ``ensure_min_parallelism`` leaves shuffle-containing plans alone
   (ADVICE r18: probing them via ``df.rdd`` executed upstream stages at
   plan-construction time), and detects them by plan node, not by name.
"""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.sources.registry import load_table


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


# ------------------------------------------------ 1. chain walk parity
def test_recursive_chain_doubled_walk_matches_unionloop(spark, sf_dir):
    from transit_efficiency_analysis_spark.demo.recursion import (
        _CHAIN_SQL,
        q_sql_recursive_chain,
    )

    got = _rows(q_sql_recursive_chain(spark, sf_dir))

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    key = "spark.sql.cteRecursionLevelLimit"
    prior = spark.conf.get(key)
    spark.conf.set(key, "1000")
    try:
        want = _rows(spark.sql(_CHAIN_SQL))
    finally:
        spark.conf.set(key, prior)
    assert got == want


# ------------------------------------------- 2. fused-delay plan shape
def test_delays_fused_plan_shape_pinned(spark, sf_dir):
    from transit_efficiency_analysis_spark.operators.testdata_adapter import (
        delays_fused,
    )

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    df = delays_fused(o, li)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the join must stay the hinted ShuffledHashJoin over the two
    # pre-partitioned base branches, never regrow an SMJ
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly the two deliberate REPARTITION_BY_NUM base exchanges ship
    # rows to the join; Catalyst must not add its own hash re-exchange
    # (the final sort's rangepartitioning ENSURE_REQUIREMENTS is fine)
    assert plan.count("REPARTITION_BY_NUM") == 2
    for line in plan.splitlines():
        assert not (
            "hashpartitioning" in line and "ENSURE_REQUIREMENTS" in line
        ), f"join re-keyed behind the residual predicate: {line.strip()}"


# ------------------------- 3a. ngram Jaccard one-exchange pair parity
def test_ngram_jaccard_group_form_matches_join_form(spark):
    """The one-exchange group form was measured and REJECTED for the
    executed operator (13% slower at sf0.1 — see the operator's
    docstring); this pins the equivalence claim that measurement rested
    on, so the rejected alternative stays a verified drop-in if a scale
    profile ever flips the trade-off."""
    from transit_efficiency_analysis_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingles_exploded,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox leaps over the lazy dog"),
            Row(doc_id=3, text="the quick brown fox jumps over a lazy dog"),
            Row(doc_id=4, text="entirely different words in this one here"),
            Row(doc_id=5, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=6, text="short text"),
        ]
    )
    block = F.lit(1)  # one block: all-pairs
    got = _rows(
        ngram_jaccard_pairs(docs, "doc_id", "text", block, k=3, threshold=0.2)
    )

    # the measured-and-rejected one-exchange group formulation, inline
    exp = shingles_exploded(docs, "doc_id", "text", 3).join(
        docs.select(F.col("doc_id"), block.alias("blk")), "doc_id"
    )
    sizes = exp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        exp.where(F.col("blk").isNotNull() & F.col("s").isNotNull())
        .groupBy("blk", "s")
        .agg(F.collect_list("doc_id").alias("__ids"))
        .where(F.size("__ids") > 1)
        .select(F.explode("__ids").alias("doc_a"), F.col("__ids").alias("__ids2"))
        .select("doc_a", F.explode("__ids2").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_inter")
    )
    want = _rows(
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard_sim"))
        .where(F.col("jaccard_sim") >= 0.2)
    )
    assert got == want and len(got) > 0


# --------------------- 3b. triangle co-supply pair generation parity
def test_cosupply_pairs_group_form_matches_join_form(spark):
    ls_rows = [
        Row(l_orderkey=o, l_suppkey=s)
        for o, ss in [
            (1, [10, 11, 12]),
            (2, [10, 11]),
            (3, [11, 12, 13, 10]),
            (4, [13]),
            (5, [12, 10, 11]),
        ]
        for s in ss
    ]
    # duplicates: the raw lineitem feed repeats (order, supplier)
    ls = spark.createDataFrame(ls_rows + ls_rows[:4])

    new = _rows(
        ls.where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("__ss"))
        .where(F.size("__ss") > 1)
        .select(F.explode("__ss").alias("sa"), F.col("__ss").alias("__ss2"))
        .select("sa", F.explode("__ss2").alias("sb"))
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    d = ls.distinct()
    a, b = d.alias("a"), d.alias("b")
    old = _rows(
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
        )
        .groupBy(F.col("a.l_suppkey").alias("sa"), F.col("b.l_suppkey").alias("sb"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    assert new == old and len(new) > 0


# ----------------------- 4. parallelism floor skips shuffled plans
def test_ensure_min_parallelism_skips_shuffled_input(spark):
    from transit_efficiency_analysis_spark.operators.parallel import (
        _scan_partitions,
        ensure_min_parallelism,
    )

    shuffled = spark.range(100).repartition(2, F.col("id"))
    # the probe must refuse exchange-containing plans (probing them via
    # df.rdd would materialize the shuffle at plan-construction time)...
    assert _scan_partitions(shuffled) is None
    # ...and the floor must hand such plans back untouched
    assert ensure_min_parallelism(shuffled) is shuffled


def test_scan_partitions_ignores_exchange_named_columns(spark):
    from transit_efficiency_analysis_spark.operators.parallel import _scan_partitions

    # only plan nodes count as exchanges, not a column named like one
    scan = spark.range(100).withColumn("Exchange_rate", F.lit(1.0))
    assert _scan_partitions(scan) == scan.rdd.getNumPartitions()
