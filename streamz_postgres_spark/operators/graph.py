"""Graph analytics over relational-derived edge lists (SURVEY §2.8
extension family): triangle counting on the near-dup similarity graph
and PageRank over the customer→supplier trade graph.

Both operators follow the standard distributed-graph shapes:

- **Triangle counting** is two equi-joins over a canonically oriented
  edge list (u < v < w), so every triangle is produced exactly once
  and the pair space never leaves the similarity blocks. At 100 TB
  the orientation switches from id-order to degree-order (low-degree
  endpoint first), which provably bounds the wedge fan-out of hub
  vertices — the id-order join below is the same plan with a
  different orientation key.
- **PageRank** is the GraphX/Pregel shape flattened into DataFrame
  ops: normalized edge weights join the current rank vector, a
  per-destination sum produces the next vector. Three unrolled
  iterations keep the query a single lazy plan (the fixpoint-loop
  variant with localCheckpoint-per-round lives in
  ``operators.dedup.connected_components``; a production PageRank
  reuses that loop with the per-iteration body below).

Determinism: every per-destination mass sum quantizes to the 1e-10
grid (pure-double ``qround``) and accumulates in exact DECIMAL
(see ``_dsum_rank``), so a 1000-executor run, a local[32] run, and
the single-threaded DuckDB oracle produce bit-identical rank
doubles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import qround, sql_qround
from streamz_postgres_spark.operators.similarity import (
    blocked_cosine_pairs,
    sql_blocked_cosine_pairs,
)
from streamz_postgres_spark.registry import register

#: cosine threshold for the triangle-count similarity graph — loose
#: enough that mutual-similarity triangles actually occur in the
#: label blocks, tight enough that the edge list stays sparse.
_TRI_COSINE = 0.25

_DAMP = 0.85
_PR_ITERS = 3


def _dsum_rank(c: Column) -> Column:
    """Order-independent sum of rank masses.

    Masses are quantized to the 1e-10 grid with pure double ops
    (``qround`` — identical IEEE steps in both engines) BEFORE the
    exact decimal accumulation. The quantization is load-bearing:
    a decimal grid finer than the doubles' ulp (~1.7e-18 at rank
    magnitude) would expose the engines' differing double→decimal
    rounding bases (Spark rounds the shortest decimal repr, DuckDB
    the exact binary expansion). A pre-quantized double sits within
    ~1e-26 of its grid point, so both casts land on the same exact
    decimal."""
    return F.sum(qround(c, 10).cast("decimal(38,12)")).cast("double")


def _sql_dsum_rank(expr: str) -> str:
    return (
        f"CAST(SUM(CAST({sql_qround(expr, 10)} AS DECIMAL(38,12))) AS DOUBLE)"
    )


@register(
    "q_triangle_count",
    oracle=f"""
WITH pairs AS ({sql_blocked_cosine_pairs(_TRI_COSINE)}),
e AS (SELECT vec_a AS u, vec_b AS v, label FROM pairs),
wedge AS (
  SELECT e1.u, e1.v, e2.v AS w, e1.label
  FROM e e1 JOIN e e2 ON e1.v = e2.u
)
SELECT wedge.label, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM wedge JOIN e e3 ON wedge.u = e3.u AND wedge.w = e3.v
GROUP BY wedge.label
""",
    tags=("graph", "similarity"),
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles per label block of the cosine>=0.25 similarity
    graph — the clustering-coefficient numerator used to audit how
    clumpy a near-dup graph is before committing to a dedup
    threshold. Edges are canonically oriented (vec_a < vec_b, from
    blocked_cosine_pairs), so the wedge join on the shared middle
    vertex plus one closing equi-join on (u, w) emits each triangle
    exactly once — no post-hoc division by 6, no cross join. At
    100 TB, re-orient by degree instead of id to cap hub fan-out."""
    e = blocked_cosine_pairs(spark, sf_dir, _TRI_COSINE).select(
        F.col("vec_a").alias("u"), F.col("vec_b").alias("v"), "label"
    )
    e2 = e.select(F.col("u").alias("v2"), F.col("v").alias("w"))
    wedge = e.join(e2, F.col("v") == F.col("v2")).select("u", "v", "w", "label")
    e3 = e.select(F.col("u").alias("u3"), F.col("v").alias("w3"))
    tri = wedge.join(
        e3, (F.col("u") == F.col("u3")) & (F.col("w") == F.col("w3"))
    )
    return tri.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def _sql_pr_iteration(prev: str, i: int) -> str:
    """One unrolled PageRank iteration as a CTE body (DuckDB)."""
    return f"""
it{i} AS (
  SELECT n0.node,
         0.15 / nn.N + {_DAMP} * COALESCE(c.mass, 0.0) AS r
  FROM n0 CROSS JOIN nn
  LEFT JOIN (
    SELECT en.dst, {_sql_dsum_rank(f'{prev}.r * en.wn')} AS mass
    FROM {prev} JOIN en ON {prev}.node = en.src
    GROUP BY en.dst
  ) c ON n0.node = c.dst
)"""


@register(
    "q_pagerank",
    oracle=f"""
WITH e AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
         CAST(COUNT(*) AS DOUBLE) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY src, dst
),
outw AS (SELECT src, SUM(w) AS tw FROM e GROUP BY src),
en AS (SELECT e.src, e.dst, e.w / outw.tw AS wn
       FROM e JOIN outw ON e.src = outw.src),
n0 AS (SELECT n_nationkey AS node FROM nation),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS N FROM n0),
r0 AS (SELECT node, 1.0 / nn.N AS r FROM n0 CROSS JOIN nn),
{",".join(_sql_pr_iteration(f"it{i - 1}" if i > 1 else "r0", i) for i in range(1, _PR_ITERS + 1))}
SELECT node, r AS rank FROM it{_PR_ITERS}
""",
    tags=("graph", "join", "agg"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 3 unrolled iterations) over the
    nation-level trade graph: an edge customer-nation → supplier-
    nation weighted by lineitem count. The expensive part — the
    4-way join building the edge list — happens once; each iteration
    is then a broadcast-sized join of the 25-row rank vector against
    the normalized edges plus one per-destination exact-decimal sum.
    Dangling-node mass is dropped (teleport-only), the standard
    simplification when out-degree-0 nodes are meaningless (every
    nation that sells appears as a src). At 100 TB the same
    iteration body runs in the localCheckpoint fixpoint loop used by
    connected_components; node count N arrives via a broadcast 1-row
    aggregate, never a driver collect."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")

    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("src"), s.s_nationkey.alias("dst")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    outw = e.groupBy(F.col("src").alias("osrc")).agg(F.sum("w").alias("tw"))
    en = e.join(outw, F.col("src") == F.col("osrc")).select(
        "src", "dst", (F.col("w") / F.col("tw")).alias("wn")
    )
    # r14 (guide §3.3/§2.4 — truncate duplicated subtrees): the
    # normalized edge list is consumed once per unrolled iteration,
    # and each consumer is a separate broadcast subtree — the before
    # plan (plans/r14/q_pagerank_before.txt) scans lineitem SIX times
    # and carries 45 exchanges because the 4-way join + two groupBys
    # behind `en` are re-planned per iteration (broadcast builds do
    # not share in-flight cache fills, the r13 winnow lesson). `en`
    # is O(nations^2) <= 625 rows: one eager localCheckpoint
    # materializes the edge build exactly once and every iteration
    # joins the tiny checkpointed blocks. The blocks are freed once
    # the last reference to the frame drops and Spark's
    # ContextCleaner runs (the lifecycle's unpersist does not free
    # checkpoint blocks).
    from streamz_postgres_spark.lifecycle import track_scoped

    en = en.localCheckpoint(eager=True)
    track_scoped("q_pagerank", en)

    nn = nat.agg(F.count(F.lit(1)).cast("double").alias("N"))
    nodes = nat.select(F.col("n_nationkey").alias("node")).crossJoin(
        F.broadcast(nn)
    )
    ranks = nodes.select("node", "N", (F.lit(1.0) / F.col("N")).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            ranks.join(en, ranks.node == en.src)
            .groupBy(F.col("dst"))
            .agg(_dsum_rank(F.col("r") * F.col("wn")).alias("mass"))
        )
        ranks = nodes.join(
            contrib, nodes.node == contrib.dst, "left"
        ).select(
            "node",
            "N",
            (
                F.lit(0.15) / F.col("N")
                + F.lit(_DAMP) * F.coalesce(F.col("mass"), F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select("node", F.col("r").alias("rank"))


# -- kNN hubness audit -------------------------------------------------------


def _hubness_oracle() -> str:
    # composes the kNN-graph oracle verbatim as a CTE: the edge list
    # the audit runs over is BY CONSTRUCTION the one q_knn_graph
    # value-checks, so this oracle inherits its exactness
    from streamz_postgres_spark.registry import REGISTRY

    knn = REGISTRY["q_knn_graph"].oracle
    return f"""
WITH edges AS ({knn}),
deg AS (
  SELECT neighbor, COUNT(*) AS in_degree FROM edges GROUP BY neighbor
)
SELECT CAST(COALESCE(d.in_degree, 0) AS BIGINT) AS in_degree,
       CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM embeddings v LEFT JOIN deg d ON v.vec_id = d.neighbor
GROUP BY COALESCE(d.in_degree, 0)
ORDER BY in_degree
"""


@register(
    "q_knn_hubness",
    oracle=_hubness_oracle(),
    tags=("similarity", "graph", "analytics"),
)
def q_knn_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the kNN graph — the standard ANN-quality
    diagnostic: the IN-degree distribution of directed top-k edges.
    In healthy embedding spaces in-degree concentrates near k; a
    heavy tail (hub vectors appearing in thousands of neighbor
    lists) signals degraded distance concentration, and hubs are
    exactly the vectors that poison SemDeDup-style pruning and kNN
    classification. Composition: the edge list IS q_knn_graph's
    (same blocked pair space, same tie-breaks), so this plan adds
    one 8-byte-key count shuffle + a broadcast-joined zero-degree
    fill over the vector ids — O(corpus x k) in, O(distinct degrees)
    out. The oracle composes q_knn_graph's oracle as a CTE and
    inherits its exactness."""
    from streamz_postgres_spark.operators.similarity import q_knn_graph

    edges = q_knn_graph(spark, sf_dir)
    deg = edges.groupBy(F.col("neighbor").alias("vec_id")).agg(
        F.count(F.lit(1)).alias("d")
    )
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    return (
        vecs.join(deg, "vec_id", "left")
        .select(F.coalesce(F.col("d"), F.lit(0)).alias("in_degree"))
        .groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


# -- degree assortativity -----------------------------------------------------


@register(
    "q_graph_assortativity",
    oracle="""
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), dc AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS dx FROM e GROUP BY c
), ds AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS dy FROM e GROUP BY s
), j AS (
  SELECT dx, dy FROM e JOIN dc USING (c) JOIN ds USING (s)
), sums AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(dx) AS BIGINT) AS sx,
         CAST(SUM(dy) AS BIGINT) AS sy,
         CAST(SUM(dx * dx) AS BIGINT) AS sxx,
         CAST(SUM(dy * dy) AS BIGINT) AS syy,
         CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM j
)
SELECT n AS n_edges,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM dc) AS n_customers,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ds) AS n_suppliers,
       (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       / sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)), 0.0))
         AS assortativity
FROM sums
""",
    tags=("graph", "stats"),
)
def q_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-supplier trade graph
    (Newman 2002): the Pearson correlation between the two endpoint
    degrees across edges — do high-degree customers trade with
    high-degree suppliers (assortative, r > 0) or with the long tail
    (disassortative, r < 0)? The graph-health audit run before any
    graph algorithm whose convergence depends on degree mixing
    (PageRank, label propagation, the CC reducer's hub behavior).

    Plan: one fact-fact equi-join (orders |><| lineitem on orderkey)
    -> distinct edge shuffle -> two key-only degree aggregations ->
    two partitioned joins back onto the edges -> a SIX-SUM global
    fold to one row. The five sums and the count are exact bigints
    (degrees are integers); the Pearson combination happens ONCE in
    double with the identical expression tree on both engines
    (products of exact integers, one division, one correctly-rounded
    sqrt) — bit-identical without any decimal detour. Nothing after
    the degree joins scales with input; a zero denominator (all
    degrees equal) yields NULL on both engines (DuckDB x/0,
    Spark try_divide)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("dx"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).cast("bigint").alias("dy"))
    j = e.join(dc, "c").join(ds, "s").select("dx", "dy")
    sums = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    ncust = dc.agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    nsupp = ds.agg(F.count(F.lit(1)).cast("bigint").alias("n_suppliers"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    num = d("n") * d("sxy") - d("sx") * d("sy")
    # GREATEST clamp before sqrt (same guard as q_stats_corr): the
    # product of the two variance terms is mathematically >= 0, but
    # FP rounding of the bigint-product doubles can dip below zero,
    # where DuckDB hard-errors on sqrt(negative) and Spark yields NaN
    den = F.sqrt(
        F.greatest(
            (d("n") * d("sxx") - d("sx") * d("sx"))
            * (d("n") * d("syy") - d("sy") * d("sy")),
            F.lit(0.0),
        )
    )
    return (
        sums.crossJoin(F.broadcast(ncust))
        .crossJoin(F.broadcast(nsupp))
        .select(
            F.col("n").alias("n_edges"),
            "n_customers",
            "n_suppliers",
            # try_divide: a degree-regular (or single-edge) graph has
            # an exactly-zero denominator — DuckDB x/0 is NULL,
            # Spark's ANSI / raises (degenerate-cardinality sweep)
            F.try_divide(num, den).alias("assortativity"),
        )
    )
