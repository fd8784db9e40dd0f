"""Capability extras: two-phase connected components, the stop-shingle-
capped contamination check, banded MinHash, TPC-H q4/q13, the as-of join
with tolerance, SimHash/LSH near-dup variants, PageRank and triangle
counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transit_efficiency_analysis_spark.demo import demo
from transit_efficiency_analysis_spark.demo.dedup import _SHINGLES_SQL
from transit_efficiency_analysis_spark.operators.dedup import (
    cross_corpus_overlap,
    dedup_clusters_twophase,
    minhash_lsh_pairs,
)
from transit_efficiency_analysis_spark.sources.registry import (
    load_table,
    parquet_rows,
)

# identical fixpoint to q_dedup_clusters: the oracle is the transitive
# closure as a recursive CTE — algorithm-independent ground truth, so the
# O(log n) star-contraction variant is checked against the very same SQL.
_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE shingled AS ({_SHINGLES_SQL}),
    nonempty AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM nonempty),
    sig AS (
        SELECT doc_id, b, min(md5(CAST(b AS VARCHAR) || '|' || s)) AS mh
        FROM exploded CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b)
        GROUP BY doc_id, b
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM sig a JOIN sig c ON a.b = c.b AND a.mh = c.mh AND a.doc_id < c.doc_id
    ),
    pairs AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN nonempty sa ON sa.doc_id = doc_a
        JOIN nonempty sb ON sb.doc_id = doc_b
        WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5
    ),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    )
    SELECT src AS doc_id, min(dst) AS cluster_id,
           (min(dst) = src) AS is_canonical
    FROM reach GROUP BY src
"""


@demo("q_dedup_clusters_twophase", sql=_CLUSTERS_ORACLE)
def q_dedup_clusters_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction (O(log n) rounds on any topology — the extreme-diameter
    path next to q_dedup_clusters' min-label propagation). Same MinHash
    pair graph, same recursive-CTE oracle, identical fixpoint."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(d, "doc_id", "text", k=3, bands=6, threshold=0.5)
    return dedup_clusters_twophase(d, pairs, id_col="doc_id")


@demo(
    "q_text_contamination_capped",
    sql=f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    ce0 AS (SELECT doc_id, unnest(sh) AS s FROM shingled
            WHERE doc_id % 20 != 0 AND len(sh) > 0),
    stop AS (SELECT s FROM ce0 GROUP BY s HAVING count(*) > 10),
    ce AS (SELECT * FROM ce0 WHERE s NOT IN (SELECT s FROM stop)),
    be AS (SELECT doc_id, unnest(sh) AS s FROM shingled
           WHERE doc_id % 20 = 0 AND len(sh) > 0),
    bs AS (SELECT doc_id AS bench_id, count(*) AS n_bench FROM be GROUP BY doc_id),
    common AS (
        SELECT ce.doc_id AS doc_id, be.doc_id AS bench_id, count(*) AS n_common
        FROM ce JOIN be ON ce.s = be.s
        GROUP BY ce.doc_id, be.doc_id
    )
    SELECT doc_id, bench_id, n_common,
           CAST(n_common AS DOUBLE) / n_bench AS frac_of_bench
    FROM common JOIN bs USING (bench_id)
    WHERE CAST(n_common AS DOUBLE) / n_bench >= 0.2
    """,
)
def q_text_contamination_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination check with the stop-shingle cap: corpus shingles in
    more than 10 documents are dropped before the join (boilerplate
    k-grams otherwise make the per-shingle join product approach
    |corpus|x|benchmark|). n_common counts non-stop overlap only —
    capped fractions are lower bounds of the uncapped ones."""
    d = load_table(spark, sf_dir, "documents")
    corpus = d.where(F.col("doc_id") % 20 != 0)
    bench = d.where(F.col("doc_id") % 20 == 0)
    return cross_corpus_overlap(
        corpus, bench, "doc_id", "text", k=3, min_frac=0.2, max_shingle_df=10
    )


def _lsh_blocked_embedding_sql() -> str:
    from transit_efficiency_analysis_spark.demo.similarity import _BUCKET_SQL, _COS_SQL

    return f"""
    WITH buckets AS ({_BUCKET_SQL})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_COS_SQL} AS cosine_sim
    FROM embeddings a
    JOIN buckets ba ON ba.vec_id = a.vec_id
    JOIN buckets bb ON bb.bucket = ba.bucket
    JOIN embeddings b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id
    WHERE {_COS_SQL} >= 0.3
    """


@demo(
    "q_dedup_minhash_banded",
    sql=f"""
    WITH shingled AS ({_SHINGLES_SQL}),
    nonempty AS (SELECT doc_id, sh FROM shingled WHERE len(sh) > 0),
    exploded AS (SELECT doc_id, unnest(sh) AS s FROM nonempty),
    hashed AS (
        SELECT doc_id,
               CAST('0x' || substr(md5(s), 1, 8) AS BIGINT) AS h1,
               CAST('0x' || substr(md5(s), 9, 8) AS BIGINT) AS h2
        FROM exploded
    ),
    sig AS (
        SELECT doc_id, b,
               md5(CAST(min0 AS VARCHAR) || '|' || CAST(min1 AS VARCHAR)) AS mh
        FROM (
            SELECT doc_id, b,
                   min((h1 + (b * 2) * h2) % 4294967296) AS min0,
                   min((h1 + (b * 2 + 1) * h2) % 4294967296) AS min1
            FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 5)) AS b)
            GROUP BY doc_id, b
        )
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
        FROM sig a JOIN sig c ON a.b = c.b AND a.mh = c.mh AND a.doc_id < c.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.sh, sb.sh))) AS jaccard_sim
    FROM cand
    JOIN nonempty sa ON sa.doc_id = doc_a
    JOIN nonempty sb ON sb.doc_id = doc_b
    WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.3
    """,
)
def q_dedup_minhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH with rows_per_band=2 — the s-curve precision knob: a
    band collides only when BOTH hash families agree (collision prob s²
    per band), cutting low-similarity candidate mass before the verify
    join. Lower threshold (0.3) than q_dedup_minhash_lsh to show the
    sharper candidate curve still verifies exactly."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, "doc_id", "text", k=3, bands=6, threshold=0.3, rows_per_band=2
    )


@demo(
    "q_tpch_q4",
    sql="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders
    WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem
          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (adapted to the testdata's columns): per-priority
    count of 1996-Q1 orders having at least one lineitem shipped after
    the order date — the EXISTS correlated semi-join; Spark plans it as
    LEFT SEMI, one shuffle on the order key."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@demo(
    "q_tpch_q13",
    sql="""
    SELECT c_count, count(*) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count distribution via LEFT OUTER
    join with an in-join filter (non-urgent orders only) — customers with
    zero qualifying orders land in the c_count=0 bucket, the behavior an
    inner join would silently lose."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@demo(
    "q_join_asof_tolerance",
    sql="""
    WITH dedup_orders AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                      ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    ),
    best AS (
        SELECT e.event_id, max(o.o_orderdate) AS mdate
        FROM events e JOIN dedup_orders o
          ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
         AND epoch(e.ts) - epoch(CAST(o.o_orderdate AS TIMESTAMP)) <= 2592000
        GROUP BY e.event_id
    )
    SELECT e.event_id, e.user_id, e.ts,
           o.o_orderkey AS last_orderkey,
           o.o_totalprice AS last_totalprice
    FROM events e
    LEFT JOIN best b ON b.event_id = e.event_id
    LEFT JOIN dedup_orders o
      ON o.o_custkey = e.user_id AND o.o_orderdate = b.mdate
    """,
)
def q_join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """as-of join with a 30-day staleness tolerance (pandas merge_asof's
    tolerance): a carried order older than the bound yields NULLs exactly
    as if unmatched. Same one-shuffle union-tag plan — the bound applies
    per-row after the carry, no extra join. The oracle is the argmax
    formulation (DuckDB's native ASOF has no tolerance)."""
    from pyspark.sql import Window
    from transit_efficiency_analysis_spark.operators.asof import asof_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    dedup = (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate"),
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_totalprice").alias("last_totalprice"),
        )
    )
    return asof_join(
        e, dedup, key="user_id", left_ts="ts", right_ts="o_orderdate",
        payload_cols=["last_orderkey", "last_totalprice"],
        tolerance_seconds=30 * 24 * 3600,
    )


def _simhash_h3_sql() -> str:
    from transit_efficiency_analysis_spark.demo.dedup import _simhash_pairs_sql

    return _simhash_pairs_sql(n_blocks=4, choose=1, max_hamming=3)


@demo("q_dedup_simhash_pairs_h3", sql=_simhash_h3_sql())
def q_dedup_simhash_pairs_h3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pairs with the choose-1 block keys: every hamming <= 3
    pair is caught with certainty (4 blocks, <= 3 dirty leaves one
    clean) — the full-recall small-distance mode next to the default
    choose-2's tighter 32-bit keys. max_hamming=3 keeps the output
    exactly the guaranteed band."""
    from transit_efficiency_analysis_spark.operators.dedup import simhash_pairs

    d = load_table(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=3, block_choose=1)


def _multiprobe_sql() -> str:
    from transit_efficiency_analysis_spark.demo.similarity import (
        _COS_SQL,
        _planes_values_sql,
    )

    # per-plane DECIMAL projections -> bucket (sign fold) + flip plane
    # (argmin |projection|, index tiebreak) -> probe bucket = bucket with
    # that bit flipped; query side = home ∪ probe buckets, corpus side =
    # home bucket only (so no pair dedup is needed).
    return f"""
    WITH projq AS (
        SELECT e.vec_id, planes.p,
               sum(CAST(e.embedding[planes.d] AS DECIMAL(18,9)) * planes.s) AS proj
        FROM embeddings e CROSS JOIN {_planes_values_sql()}
        GROUP BY e.vec_id, planes.p
    ),
    buckets AS (
        SELECT vec_id,
               CAST(sum(CASE WHEN proj > 0 THEN CAST(power(2, p) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS bucket
        FROM projq GROUP BY vec_id
    ),
    flips AS (
        SELECT vec_id, p AS flip
        FROM (SELECT vec_id, p,
                     row_number() OVER (PARTITION BY vec_id ORDER BY abs(proj), p) AS rn
              FROM projq)
        WHERE rn = 1
    ),
    qbuckets AS (
        SELECT vec_id, bucket FROM buckets
        UNION ALL
        SELECT b.vec_id, xor(b.bucket, CAST(power(2, f.flip) AS BIGINT)) AS bucket
        FROM buckets b JOIN flips f USING (vec_id)
    )
    SELECT query_id, neighbor_id, cosine_sim, CAST(rank AS INTEGER) AS rank
    FROM (
        SELECT qa.vec_id AS query_id, nb.vec_id AS neighbor_id,
               {_COS_SQL.replace('a.embedding', 'qa_e').replace('b.embedding', 'nb_e')} AS cosine_sim,
               row_number() OVER (
                   PARTITION BY qa.vec_id
                   ORDER BY {_COS_SQL.replace('a.embedding', 'qa_e').replace('b.embedding', 'nb_e')} DESC,
                            nb.vec_id ASC
               ) AS rank
        FROM qbuckets qa
        JOIN buckets nb ON nb.bucket = qa.bucket AND qa.vec_id <> nb.vec_id
        JOIN (SELECT vec_id, embedding AS qa_e FROM embeddings) qe ON qe.vec_id = qa.vec_id
        JOIN (SELECT vec_id, embedding AS nb_e FROM embeddings) ne ON ne.vec_id = nb.vec_id
    )
    WHERE rank <= 3
    """


@demo("q_sim_lsh_multiprobe_topk", sql=_multiprobe_sql())
def q_sim_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH top-3: each query also probes the bucket
    reached by flipping its smallest-|projection| plane — ~2x candidate
    coverage (recall) for 2x query-side signature rows, zero extra
    planes or shuffles (Lv et al. multi-probe LSH)."""
    from transit_efficiency_analysis_spark.demo.similarity import _DIMS, _PLANES
    from transit_efficiency_analysis_spark.operators.similarity import (
        multiprobe_lsh_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    return multiprobe_lsh_topk(
        e, planes=_PLANES, dims=_DIMS, k=3,
        n_rows=parquet_rows(sf_dir, "embeddings"),
    )


@demo("q_dedup_embedding_lsh", sql=_lsh_blocked_embedding_sql())
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with UNSUPERVISED blocking: the sign-LSH bucket
    id is the blocking key (q_dedup_embedding blocks on the label column,
    which a raw training corpus doesn't have). Same map-only bucket
    assignment as q_sim_lsh_buckets; candidates bounded per bucket."""
    from transit_efficiency_analysis_spark.demo.similarity import _DIMS, _PLANES
    from transit_efficiency_analysis_spark.operators.similarity import (
        embedding_near_dup_pairs,
        lsh_bucket_expr,
        quantize_vec,
    )

    # quantize once in its own projection; the bucket expression references
    # the materialized array (see quantize_vec)
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", quantize_vec(F.col("embedding")).alias("__q")
    )
    return embedding_near_dup_pairs(
        e, lsh_bucket_expr(F.col("__q"), _PLANES, _DIMS), threshold=0.3
    )


def _pagerank_iter_sql(prev: str, idx: int, damping: int = 850_000) -> str:
    """One unrolled PageRank iteration as a pair of CTEs (exact BIGINT
    ppm arithmetic — mirrors ``operators/graph.py``'s loop body)."""
    return f"""
    i{idx} AS (
        SELECT e.dst, CAST(sum(r.rank_ppm // d.outdeg) AS BIGINT) AS incoming
        FROM edges e
        JOIN {prev} r ON e.src = r.node_id
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst
    ),
    r{idx} AS (
        SELECT n.node_id,
               CAST({1_000_000 - damping} + {damping} * coalesce(i{idx}.incoming, 0) // 1000000
                    AS BIGINT) AS rank_ppm
        FROM nodes n LEFT JOIN i{idx} ON n.node_id = i{idx}.dst
    )"""


_PAGERANK_SQL = f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey AS c, l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c AS src, 1000000000 + s AS dst FROM pairs
        UNION ALL
        SELECT 1000000000 + s AS src, c AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node_id FROM edges),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node_id, CAST(1000000 AS BIGINT) AS rank_ppm FROM nodes),
    {_pagerank_iter_sql('r0', 1)},
    {_pagerank_iter_sql('r1', 2)}
    SELECT node_id, rank_ppm FROM r2
"""


@demo("q_graph_pagerank", sql=_PAGERANK_SQL)
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (2 fixed iterations, exact ppm-integer
    arithmetic) over the symmetrized customer<->supplier trade graph
    derived from lineitem x orders. The iterative-DataFrame-loop family
    beyond connected components: each iteration is two key-partitioned
    shuffles over a persisted edge relation, and the all-integer rank
    update makes a fixed-iteration run bit-identical to the oracle's
    unrolled recursive-CTE twin (``operators/graph.py``)."""
    from transit_efficiency_analysis_spark.operators.graph import pagerank_ppm

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    supp = (F.lit(1_000_000_000) + F.col("s")).cast("long")
    edges = pairs.select(F.col("c").alias("src"), supp.alias("dst")).unionByName(
        pairs.select(supp.alias("src"), F.col("c").alias("dst"))
    )
    return pagerank_ppm(edges, n_iters=2)


# Oracle deliberately uses a DIFFERENT algorithm (id-ordered triple
# self-join: x < y < z enumerates each triangle exactly once) from the
# Spark side's degree-ordered wedge closure — algorithm-independent
# ground truth, the q_dedup_clusters convention.
_TRIANGLES_SQL = """
    WITH ls AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    pairs AS (
        SELECT a.l_suppkey AS sa, b.l_suppkey AS sb, count(*) AS support
        FROM ls a
        JOIN ls b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        GROUP BY a.l_suppkey, b.l_suppkey
    ),
    -- scale-invariant support floor: expected co-supply count grows with
    -- order volume, so a FIXED floor densifies as the corpus grows (at
    -- 10x orders a floor of 3 kept 43% of ALL possible pairs); tying it
    -- to n_orders keeps the graph sparse at every scale
    e AS (SELECT sa AS a, sb AS b FROM pairs
          WHERE support >= greatest(3, (SELECT count(*) FROM orders) // 25000)),
    tri AS (
        SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    member AS (
        SELECT x AS node_id FROM tri
        UNION ALL SELECT y FROM tri
        UNION ALL SELECT z FROM tri
    )
    SELECT node_id, count(*) AS tri_count
    FROM member
    GROUP BY node_id
    ORDER BY tri_count DESC, node_id
    LIMIT 10
"""


@demo("q_graph_triangles", sql=_TRIANGLES_SQL)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting (degree-ordered wedge closure) over the
    supplier co-supply graph: suppliers are adjacent when they co-supply
    >= 3 distinct orders, and a node's triangle count measures how
    clique-like its neighborhood is — the community-density signal used
    for graph cleaning and cluster validation. The co-occurrence
    self-join is keyed on the order (per-order fan-out is bounded by
    items-per-order), the support floor prunes the edge relation before
    any wedge is generated, and the degree-ordered orientation caps
    every node's wedge fan-out at O(sqrt(m)) regardless of hub skew —
    the property that makes exact triangle counting feasible at 100 TB
    (``operators/graph.py:triangle_counts``). Top-10 by count with a
    node-id tie-break; all counting is integer-exact."""
    from transit_efficiency_analysis_spark.operators.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    # Co-supply pairs in ONE exchange (round 19, guide §2.4 — the
    # round-18 minhash candidate recipe, measured pairs-stage noop
    # 1.61 → 1.52 s and edges 2.53 → see OPTIMIZATION_r19.md): group
    # per order with collect_SET — fusing the former
    # ``.distinct()`` (its own 600 k-row exchange on a key the next
    # groupBy couldn't reuse) into the same aggregation — then explode
    # the ordered within-order supplier pairs and count per pair. The
    # former order-keyed self-join shuffled (and computed) the distinct
    # relation twice — per-side pruning defeats exchange reuse — plus an
    # SMJ sort per side. Pair-for-pair identical: collect_set IS the
    # distinct supplier set per order (and skips NULLs, as the join's
    # equi-condition did), NULL orders are filtered first, and sa < sb
    # filters the exploded pairs exactly as it filtered the join.
    # Per-order fan-out stays bounded by items-per-order, the same
    # bound the join relied on.
    pairs = (
        li.select("l_orderkey", "l_suppkey")
        .where(F.col("l_orderkey").isNotNull())
        .groupBy("l_orderkey")
        .agg(F.collect_set("l_suppkey").alias("__ss"))
        .where(F.size("__ss") > 1)
        .select(F.explode("__ss").alias("sa"), F.col("__ss").alias("__ss2"))
        .select("sa", F.explode("__ss2").alias("sb"))
        .where(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    # scale-invariant support floor from the parquet footer's row count
    # (the registry's catalog-statistics idiom, e.g.
    # q_sim_lsh_multiprobe_topk) instead of a count(*) subquery +
    # broadcast cross join per invocation — same integer by definition
    n_ord = parquet_rows(sf_dir, "orders")
    edges = pairs.where(
        F.col("support") >= F.lit(max(3, n_ord // 25000))
    ).select(F.col("sa").alias("src"), F.col("sb").alias("dst"))
    # persist=False (round 19): measured at sf0.1 the DISK_ONLY canon
    # pin was net-negative (4.62 vs 4.31 s full-pipeline noop) — the
    # canonical relation's 3 references resolve to one computed
    # exchange via AQE exchange reuse, so the pin only added a write
    return (
        triangle_counts(edges, persist=False)
        .orderBy(F.col("tri_count").desc(), F.col("node_id"))
        .limit(10)
    )
