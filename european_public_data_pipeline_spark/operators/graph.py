"""Graph analytics (SURVEY.md §2.12 extension class).

PageRank over the customer-supplier purchase graph — the third member of
the iterative-loop family here (d08 connected components: data-dependent
iteration count; s07 k-means: fixed Lloyd iterations; g01 PageRank: fixed
power iterations). The reference has no graph surface at all.

Graph: distinct (customer, supplier) purchase relationships from
orders ⋈ lineitem, made undirected (both edge directions), node ids
disambiguated by parity (2*custkey / 2*suppkey+1).

Determinism: per-iteration contributions pr(src)/outdeg(src) are IEEE
doubles computed identically in both engines; their per-node sums
accumulate fixed-point floor(c*1e12) as exact DECIMAL(38,0), so the rank
vector after every iteration is bit-identical to the oracle's unrolled
SQL regardless of partitioning.

Scale notes: each iteration is one shuffle of edge contributions keyed on
dst (map-side combined to one row per (partition, node)) plus a join of
the rank vector to the edge list — the standard Pregel-style layout. The
rank vector is node-cardinality; the join strategy is left to AQE. At
web scale, add block partitioning of the edge list by src so the rank
join co-partitions with the contribution shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from european_public_data_pipeline_spark.plans.registry import register
from european_public_data_pipeline_spark.tables import load_table

DAMPING = 0.85
PR_SCALE = 1_000_000_000_000.0  # 1e12 fixed-point contribution accumulator

_SQL_EDGES = """
SELECT src, dst FROM (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
UNION ALL
SELECT dst AS src, src AS dst FROM (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
)
"""

# One power iteration in SQL: ranks {r} -> new ranks, given edges/outdeg/nn.
_SQL_ITER = f"""
  SELECT g.dst AS node,
         0.15 / (SELECT n FROM nn)
           + {DAMPING} * (CAST(SUM(CAST(floor(r.pr / g.outdeg * {PR_SCALE})
                                        AS DECIMAL(38,0))) AS DOUBLE)
                          / {PR_SCALE}) AS pr
  FROM (SELECT e.src, e.dst, o.outdeg FROM edges e
        JOIN outdeg o ON o.src = e.src) g
  JOIN {{r}} r ON r.node = g.src
  GROUP BY g.dst
"""


@register(
    "g01_pagerank",
    category="graph",
    doc="Two unrolled PageRank power iterations (damping 0.85) over the "
    "undirected customer-supplier purchase graph, uniform init 1/N. "
    "Contribution sums are fixed-point DECIMAL(38,0) accumulations of "
    "floor(pr/outdeg * 1e12) — partition-order invariant and cross-"
    "engine bit-exact, so the oracle (identical unrolled SQL) matches "
    "without rounding.",
    oracle=f"""
WITH edges AS ({_SQL_EDGES}),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
nn AS (SELECT COUNT(DISTINCT src) AS n FROM edges),
r0 AS (SELECT DISTINCT src AS node,
              1.0 / (SELECT n FROM nn) AS pr
       FROM edges),
r1 AS ({_SQL_ITER.format(r='r0')}),
r2 AS ({_SQL_ITER.format(r='r1')})
SELECT node, pr FROM r2 ORDER BY node
""",
)
def g01_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    directed = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()  # feeds outdeg, node set, and both iterations
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n_nodes = edges.select("src").distinct().count()
    ranks = edges.select("src").distinct().select(
        F.col("src").alias("node"), (F.lit(1.0) / F.lit(n_nodes)).alias("pr")
    )
    g = edges.join(outdeg, "src")

    def step(r: DataFrame) -> DataFrame:
        contrib = F.floor(
            F.col("pr") / F.col("outdeg") * F.lit(PR_SCALE)
        ).cast("decimal(38,0)")
        return (
            g.join(r, g["src"] == r["node"])
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (
                    F.lit(0.15) / F.lit(n_nodes)
                    + F.lit(DAMPING)
                    * (F.sum(contrib).cast("double") / F.lit(PR_SCALE))
                ).alias("pr")
            )
        )

    return step(step(ranks)).orderBy("node")


def oriented_edges(edges: DataFrame) -> DataFrame:
    """Degree-orient a canonical (a<b) distinct edge set: each edge points
    to its higher-(degree, id) endpoint. Returns (src, dst, dst_deg) —
    dst_deg rides along so the wedge join can compare endpoint ranks
    without re-joining the degree relation."""
    deg = (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = edges.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dst_deg"),
    )



@register(
    "g02_triangle_count",
    category="graph",
    doc="Triangle counting on the part co-order graph (parts appearing in "
    "the same order share an edge): per-node triangle membership counts "
    "for the 100 most triangle-dense parts. Degree-oriented two-join "
    "formulation: each undirected edge is oriented toward its higher-"
    "(degree, id) endpoint, wedges form ONLY at an edge pair's common "
    "lower-rank vertex, and a third (oriented) edge join closes them — "
    "every triangle counted exactly once at its minimum-rank vertex. "
    "Orientation caps forward-degree at O(sqrt(m)) (a hub's edges point "
    "INTO it, so the hub pivots no wedges), which is the 100 TB answer "
    "to hub-quadratic wedge counts. On the sf0.1 co-order graph the "
    "measured reduction is modest (49.3M -> 41.1M wedges, 1.2x — part "
    "degrees are near-uniform there); the cap binds exactly when hubs "
    "appear, which is what the power-law diagnostic g03 detects "
    "(PLANS.md). "
    "Wedge generation is the one big shuffle (keyed on the pivot); the "
    "closing join is keyed on the (v, w) endpoint pair. The oracle keeps "
    "the textbook id-canonical SQL — the triangle SET is orientation-"
    "invariant.",
    oracle="""
WITH pairs AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM pairs e1
  JOIN pairs e2 ON e2.a = e1.b
  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b
),
node_tri AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  )
  GROUP BY node
)
SELECT node, n_triangles
FROM node_tri
ORDER BY n_triangles DESC, node
LIMIT 100
""",
)
def g02_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("b"))
    edges = (
        a.join(b, "k")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
        .cache()  # feeds the degree aggregate AND the orientation join
    )
    # Feeds both wedge sides and the closing join.
    ori = oriented_edges(edges).cache()
    # Shuffle width for the wedge pipeline: tied to cluster parallelism,
    # NOT the session's shuffle-partition default. The wedge stages move
    # the m^1.5 relation through wide-fan-out shuffles, and Spark's
    # bypass-merge shuffle writer (chosen when reducers <= 200) opens
    # one compressed block writer PER REDUCE PARTITION PER TASK —
    # ~64 KB of LZ4 buffers each, so 32 concurrent map tasks x 200
    # reducers is ~450 MB of unmanaged heap before any data: that, plus
    # the semi join's build maps, OOMs a 1 GiB plain-session heap
    # (observed as LZ4BlockOutputStream allocation failures in
    # DiskBlockObjectWriter.open). 2x defaultParallelism keeps every
    # task slot busy while bounding concurrent writer buffers to
    # tasks x 2: right on one 32-thread JVM and on a 1000-executor
    # cluster alike (AQE may still coalesce the read side).
    #
    # A pinned repartition alone does not hold the width: when EVERY child
    # of a join is a shuffle narrower than spark.sql.shuffle.partitions,
    # EnsureRequirements re-partitions them all at the session default
    # (REPARTITION_BY_NUM included; 200 in a plain session). So each join
    # below gets one NON-shuffle child at np_w: a distinct() over the
    # pinned repartition. The oriented edges are already unique, so the
    # distinct drops no row; its HashAggregate (m-sized, not wedge-sized)
    # keeps the child's (key, np_w) partitioning and the join adopts it.
    np_w = spark.sparkContext.defaultParallelism * 2
    w1 = ori.select("src", F.col("dst").alias("v"), F.col("dst_deg").alias("dv"))
    w2 = ori.select("src", F.col("dst").alias("w"), F.col("dst_deg").alias("dw"))
    # Wedge (v, w) at pivot src with rank(v) < rank(w): the closing edge,
    # if present, is then necessarily oriented v -> w. Both sides arrive
    # hash-partitioned (src, np_w), so the join adds no extra Exchange.
    wedges = w1.repartition(np_w, "src").join(
        w2.repartition(np_w, "src").distinct(), "src"
    ).filter(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = (
        ori.select(F.col("src").alias("v"), F.col("dst").alias("w"))
        .repartition(np_w, "v", "w")
        .distinct()
    )
    # SHUFFLE_HASH, not the default sort-merge: SMJ would SORT the
    # m^1.5-sized wedge relation (49M rows at sf0.1 — the sort's spill
    # merge OOMed a 1 GiB heap under 32 concurrent tasks), while a
    # shuffled hash join builds only on the m-sized edge relation
    # (KB-scale per partition) and STREAMS the wedges through unsorted —
    # the same asymmetry that makes it the right plan at 100 TB, where
    # sorting the wedge relation would dominate the whole query. The
    # wedges are shuffled to the closing side's (v, w, np_w) partitioning.
    tri = wedges.join(
        closing.hint("shuffle_hash"), ["v", "w"], "left_semi"
    ).select("src", "v", "w")
    # explode(array(...)), NOT a 3-way union of tri projections: a union
    # re-executes the wedge join once per branch (measured 3x the cost).
    nodes = tri.select(F.explode(F.array("src", "v", "w")).alias("node"))
    return (
        nodes.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.desc("n_triangles"), F.asc("node"))
        .limit(100)
    )


@register(
    "g03_degree_powerlaw",
    category="graph",
    doc="Degree distribution of the purchase graph with a log-log "
    "power-law fit — the scale-free-ness diagnostic run before choosing "
    "a partitioning strategy (a heavy-tailed degree distribution is "
    "exactly when vertex-cut / salting of hub nodes matters; a flat one "
    "means plain hash partitioning is fine). Pipeline: distinct-edge "
    "relation (the one fact-sized, map-side-combinable shuffle) -> "
    "per-node degree (node-cardinality) -> degree histogram "
    "(degree-cardinality) -> micro-nat OLS of ln(n_nodes) on "
    "ln(degree) over the histogram points (t18's exact-integer "
    "recipe). Output: histogram size, total nodes/edges as exact "
    "integers, and the fitted slope.",
    oracle=f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
deg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY src),
hist AS (
  SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg GROUP BY degree
),
xy AS (
  SELECT CAST(floor(ln(CAST(degree AS DOUBLE)) * 1e6) AS BIGINT) AS x,
         CAST(floor(ln(CAST(n_nodes AS DOUBLE)) * 1e6) AS BIGINT) AS y
  FROM hist
),
s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM xy
),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes_total,
         CAST(SUM(degree) AS BIGINT) AS sum_degree
  FROM deg
)
SELECT s.n_points, tot.n_nodes_total, tot.sum_degree,
       (CAST(s.n_points AS DOUBLE) * CAST(s.sxy AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sy AS DOUBLE))
         / (CAST(s.n_points AS DOUBLE) * CAST(s.sxx AS DOUBLE) - CAST(s.sx AS DOUBLE) * CAST(s.sx AS DOUBLE))
         AS powerlaw_slope
FROM s CROSS JOIN tot
""",
)
def g03_degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    und = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = und.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    hist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))
    xy = hist.select(
        F.floor(F.log(F.col("degree").cast("double")) * 1e6).cast("long").alias("x"),
        F.floor(F.log(F.col("n_nodes").cast("double")) * 1e6)
        .cast("long")
        .alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    tot = deg.agg(
        F.count(F.lit(1)).alias("n_nodes_total"),
        F.sum("degree").alias("sum_degree"),
    )
    nd = F.col("n_points").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "n_points",
            "n_nodes_total",
            "sum_degree",
            ((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)).alias(
                "powerlaw_slope"
            ),
        )
    )


_SQL_LPA_ITER = """
  SELECT node, label FROM (
    SELECT c.node, c.label,
           ROW_NUMBER() OVER (PARTITION BY c.node ORDER BY c.cnt DESC, c.label) AS rn
    FROM (SELECT u.dst AS node, l.label, COUNT(*) AS cnt
          FROM und u JOIN {lbl} l ON l.node = u.src
          GROUP BY u.dst, l.label) c
  ) WHERE rn = 1
"""


@register(
    "g04_label_propagation",
    category="graph",
    doc="Two synchronous label-propagation iterations (community "
    "detection) over the undirected customer-supplier purchase graph, "
    "labels initialized to node ids: each step every node adopts its "
    "neighbors' most frequent label, ties broken by SMALLEST label — "
    "the deterministic variant of LPA (classic LPA breaks ties "
    "randomly, which would be irreproducible AND unverifiable). "
    "Complements the iterative family: d08 converges data-dependently, "
    "g01 is fixed-iteration over doubles, g04 is fixed-iteration over "
    "pure integers. Per step: one shuffle of edge-carried labels keyed "
    "on dst (map-side combined into (node, label) counts), then a "
    "node-keyed argmax via max(struct(cnt, -label)) — no rank window, "
    "no driver loop. Integer-only arithmetic: bit-exact parity; the "
    "oracle unrolls both steps with the same tie-break.",
    oracle=f"""
WITH e AS (
  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
),
und AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
l0 AS (SELECT DISTINCT src AS node, src AS label FROM und),
l1 AS ({_SQL_LPA_ITER.format(lbl='l0')}),
l2 AS ({_SQL_LPA_ITER.format(lbl='l1')})
SELECT node, label AS community FROM l2 ORDER BY node
""",
)
def g04_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).cache()  # feeds the init label set and both propagation steps
    labels = und.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )

    def step(lbl: DataFrame) -> DataFrame:
        counts = (
            und.join(lbl, und.src == lbl.node)
            .groupBy(F.col("dst").alias("n2"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        best = F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg")))
        return counts.groupBy(F.col("n2").alias("node")).agg(
            (-best.getField("neg")).alias("label")
        )

    return (
        step(step(labels))
        .select("node", F.col("label").alias("community"))
        .orderBy("node")
    )


K_CORE = 2
PEEL_ROUNDS = 3


def _g05_oracle() -> str:
    # Raw per-name resolution (d22's recipe): all_specs from inside a
    # composer would recurse through g05's own lazy oracle.
    from european_public_data_pipeline_spark.plans import registry

    d04 = registry._resolve("d04_minhash_lsh_pairs").oracle
    k = K_CORE
    return f"""
WITH d04 AS MATERIALIZED ({d04}),
und AS MATERIALIZED (SELECT d1 AS src, d2 AS dst FROM d04
        UNION ALL SELECT d2, d1 FROM d04),
alive0 AS (SELECT DISTINCT src AS node FROM und),
deg1 AS (SELECT src AS node, COUNT(*) AS deg FROM und GROUP BY src),
keep1 AS MATERIALIZED (SELECT node FROM deg1 WHERE deg >= {k}),
e2 AS MATERIALIZED (SELECT src, dst FROM und
       WHERE src IN (SELECT node FROM keep1) AND dst IN (SELECT node FROM keep1)),
deg2 AS (SELECT src AS node, COUNT(*) AS deg FROM e2 GROUP BY src),
keep2 AS MATERIALIZED (SELECT node FROM deg2 WHERE deg >= {k}),
e3 AS MATERIALIZED (SELECT src, dst FROM e2
       WHERE src IN (SELECT node FROM keep2) AND dst IN (SELECT node FROM keep2)),
deg3 AS (SELECT src AS node, COUNT(*) AS deg FROM e3 GROUP BY src),
keep3 AS MATERIALIZED (SELECT node FROM deg3 WHERE deg >= {k}),
e4 AS MATERIALIZED (SELECT src, dst FROM e3
       WHERE src IN (SELECT node FROM keep3) AND dst IN (SELECT node FROM keep3)),
deg4 AS (SELECT src AS node, COUNT(*) AS deg FROM e4 GROUP BY src),
rounds AS (
  SELECT node, 1 AS removed_round FROM alive0
  WHERE node NOT IN (SELECT node FROM keep1)
  UNION ALL
  SELECT node, 2 FROM keep1 WHERE node NOT IN (SELECT node FROM keep2)
  UNION ALL
  SELECT node, 3 FROM keep2 WHERE node NOT IN (SELECT node FROM keep3)
  UNION ALL
  SELECT node, 0 FROM keep3
)
SELECT r.node AS doc_id,
       CAST(r.removed_round AS INTEGER) AS removed_round,
       CAST(CASE WHEN r.removed_round = 0 THEN COALESCE(d.deg, 0) ELSE 0 END
            AS BIGINT) AS core_degree
FROM rounds r LEFT JOIN deg4 d ON d.node = r.node
ORDER BY doc_id
"""


@register(
    "g05_dup_graph_kcore",
    category="graph",
    doc="k-core refinement of the near-duplicate graph: three unrolled "
    "synchronous peeling rounds (remove nodes with degree < 2, "
    "recompute degrees, repeat) over d04's verified duplicate pairs as "
    "undirected edges. Separates what d08's connected components "
    "cannot: a doc in the surviving 2-core sits in a densely "
    "duplicated cluster (template explosion — the curation signal that "
    "argues for keeping ONE representative and a hard look at the "
    "source), while removed_round tells how peripheral a chain-attached "
    "doc was. Per round: one degree aggregation (map-side combined, "
    "node-cardinality) and two semi joins filtering the edge list — "
    "the Pregel-style layout; edge relation is detection-sized, never "
    "corpus². Integer-only arithmetic: bit-exact parity; the composed "
    "oracle embeds d04's registered SQL as a CTE (p03's recipe) and "
    "unrolls all three rounds.",
    oracle=_g05_oracle,  # lazy: composed from the registry on first use
)
def g05_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from european_public_data_pipeline_spark.plans.registry import all_specs

    pairs = (
        all_specs()["d04_minhash_lsh_pairs"].builder(spark, sf_dir)
        .select("d1", "d2")
    )
    und = pairs.select(
        F.col("d1").alias("src"), F.col("d2").alias("dst")
    ).unionByName(
        pairs.select(F.col("d2").alias("src"), F.col("d1").alias("dst"))
    ).cache()  # feeds the initial node set and every peeling round

    def degrees(edges: DataFrame) -> DataFrame:
        return edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("deg")
        )

    def restrict(edges: DataFrame, keep: DataFrame) -> DataFrame:
        return edges.join(
            keep.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(keep.withColumnRenamed("node", "dst"), "dst", "left_semi")

    alive = und.select(F.col("src").alias("node")).distinct()
    edges = und
    removed = []
    for rnd in range(1, PEEL_ROUNDS + 1):
        keep = degrees(edges).filter(F.col("deg") >= K_CORE).select("node")
        removed.append(
            alive.join(keep, "node", "left_anti").select(
                "node", F.lit(rnd).cast("int").alias("removed_round")
            )
        )
        alive = keep
        edges = restrict(edges, keep)
    survivors = alive.select(
        "node", F.lit(0).cast("int").alias("removed_round")
    )
    core_deg = degrees(edges)  # degree inside the FINAL surviving subgraph
    out = survivors.unionByName(removed[0])
    for r in removed[1:]:
        out = out.unionByName(r)
    return (
        out.join(core_deg, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            "removed_round",
            F.when(F.col("removed_round") == 0, F.coalesce(F.col("deg"), F.lit(0)))
            .otherwise(F.lit(0)).cast("long").alias("core_degree"),
        )
        .orderBy("doc_id")
    )


# --- g06: alternating large-star/small-star connected components ----------

CC_MAX_ROUNDS = 30


def _canon_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (src=max, dst=min) form, self-loops
    dropped, deduplicated — the shape both star operations preserve."""
    return (
        e.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star (Kiveris et al., 'Connected Components in MapReduce and
    Beyond'): every node connects its LARGER neighbors to the minimum of
    its neighborhood (including itself) — one groupBy + one join, both
    keyed on the node."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    gm = sym.groupBy("src").agg(F.min("dst").alias("mn"))
    m_u = F.least(F.col("src"), F.col("mn"))
    return (
        sym.join(gm, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), m_u.alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star: every node connects its SMALLER-or-equal neighbors (and
    itself) to the minimum among them — same one-shuffle shape."""
    d = _canon_edges(e)  # (src=max, dst=min): dst < src for every row
    gm = d.groupBy("src").agg(F.min("dst").alias("mn"))
    leaves = (
        d.join(gm, "src")
        .filter(F.col("dst") != F.col("mn"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
    )
    centers = gm.select("src", F.col("mn").alias("dst"))
    return leaves.unionByName(centers).filter(
        F.col("src") != F.col("dst")
    ).distinct()


def star_connected_components(
    nodes: DataFrame, edges: DataFrame, max_rounds: int = CC_MAX_ROUNDS
) -> DataFrame:
    """Connected components via alternating large-star/small-star:
    converges in O(log n) rounds on ANY graph — including long chains,
    where d08's plain min-label propagation needs O(diameter) rounds
    (each label hop crosses one edge per round; star operations halve
    star-free paths). Per round: two groupBy+join pairs keyed on node
    ids — uniform shuffles, edge-set size never exceeds m + n. The
    convergence probe is a set comparison (count + exceptAll), one
    O(m) shuffle per round — the same cost class as the round itself.
    ``nodes``: (id) — isolated nodes label themselves. Returns (id,
    component) with component = min id in the component."""
    cur = _canon_edges(edges).localCheckpoint()
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(cur)).localCheckpoint()
        same_size = nxt.count() == cur.count()
        if same_size and nxt.exceptAll(cur).limit(1).count() == 0:
            cur = nxt
            break
        cur = nxt
    else:
        # A non-star edge set would label one true component as several —
        # silently wrong. O(log^2 n) rounds suffice in theory and ~6 in
        # practice; exhaustion means the input (or a regression) broke an
        # invariant. Fail loudly (s14's assert precedent).
        raise RuntimeError(
            f"star_connected_components did not converge in {max_rounds} rounds"
        )
    sym = cur.unionByName(
        cur.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labeled = sym.groupBy(F.col("src").alias("id")).agg(
        F.min("dst").alias("nbr_min")
    ).select("id", F.least("id", "nbr_min").alias("component"))
    isolated = nodes.join(labeled, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    return labeled.unionByName(isolated)


@register(
    "g06_star_connected_components",
    category="graph",
    doc="Connected components via alternating large-star/small-star "
    "(Kiveris et al.) over a deliberately LONG-DIAMETER graph: each "
    "user's 'view' events chained in (ts, event_id) order form a path "
    "whose diameter equals the user's view count — the adversarial "
    "case for d08's min-label propagation (O(diameter) rounds, one "
    "label hop per round) and the motivating case for star operations "
    "(O(log n) rounds; star-free paths halve every round — measured at "
    "sf0.1: 6 star rounds / 10.3s vs 27 min-label rounds / 17.1s on a "
    "27-event longest chain; the gap is logarithmic-vs-linear in "
    "diameter, so a million-node chain would be ~20 rounds vs a "
    "million). Per round: "
    "two node-keyed groupBy+join pairs, edge set bounded by m + n, no "
    "windows over the full graph. Output: one row per component "
    "(component id = min event_id, node count) — per-user chains make "
    "the expected components per-user, which the oracle states "
    "directly; the builder must DISCOVER that via the star algebra. "
    "Integer-only: bit-exact parity.",
    oracle="""
SELECT CAST(MIN(event_id) AS BIGINT) AS component,
       CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM events
WHERE event_type = 'view'
GROUP BY user_id
ORDER BY component
""",
)
def g06_star_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "view")
        .select("event_id", "user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("nxt", F.lead("event_id").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("event_id").alias("src"), F.col("nxt").alias("dst"))
    )
    nodes = ev.select(F.col("event_id").alias("id"))
    comp = star_connected_components(nodes, edges)
    return (
        comp.groupBy("component")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
        .orderBy("component")
    )
