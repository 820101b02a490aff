package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Layout

/** Distributed graph analytics over a deterministic document link
  * graph: PageRank (the classic quality prior for web-scale corpus
  * curation — e.g. the CommonCrawl-derived pretraining sets weight
  * pages by link centrality) and triangle counting (local clustering /
  * community signal).
  *
  * The link graph is synthesized deterministically from the corpus so
  * the DuckDB oracle can rebuild it bit-for-bit: each document gets 3
  * outlinks, target = first-60-bits-of-md5("<id>:<j>") mod N. Every
  * quantity stays in exact integer arithmetic (fixed-point ranks,
  * integer division for the contribution split), so a 5-iteration
  * PageRank is reproducible to the last unit across engines — no
  * float-order sensitivity anywhere.
  *
  * Scale design:
  *  - edges are built once, de-duplicated, hash-partitioned by `src`,
  *    and cached; every iteration joins ranks (partitioned by node)
  *    against that SAME partitioning — the edge relation never
  *    re-shuffles across iterations, only the constant-width rank
  *    relation moves.
  *  - contributions aggregate partially map-side (sum of longs) before
  *    the shuffle to `dst`.
  *  - triangle counting orients each undirected edge from its
  *    lower-(degree, id) endpoint to the higher one, the standard
  *    trick (Schank & Wagner 2005) that bounds the path-join fan-out
  *    by the graph's degeneracy instead of its max degree — a
  *    celebrity node with 10M followers contributes paths only
  *    through its low-degree neighbors.
  */
object Graph {

  /** Fixed-point scale for PageRank ranks: 1e9 units per unit of rank
    * mass. 0.15 and 0.85 become exact integer operations.
    */
  val Scale = 1000000000L
  val OutlinksPerNode = 3
  val Iterations = 5

  /** The deterministic edge list (src, dst), self-loops removed,
    * multi-edges collapsed. `n` is the node count (doc_ids are
    * contiguous 0..N-1 in the corpus; the oracle recomputes N the
    * same way).
    */
  def linkEdges(docs: DataFrame): DataFrame = {
    val nDf = docs.agg(count(lit(1)).as("n"))
    docs
      .select(col("doc_id").as("src"))
      .crossJoin(broadcast(nDf))
      .select(
        col("src"),
        explode(array((0 until OutlinksPerNode).map(lit): _*)).as("j"),
        col("n"))
      .select(
        col("src"),
        (Sketches.hash60(concat(col("src").cast("string"), lit(":"),
          col("j").cast("string"))) % col("n")).as("dst"))
      .filter(col("dst") =!= col("src"))
      .distinct()
  }

  /** SQL twin of [[linkEdges]] over `documents`. */
  def linkEdgesSql: String =
    s"""n AS (SELECT count(*) AS n FROM documents),
       |e0 AS (SELECT doc_id AS src,
       |         ${Sketches.hash60Sql(
             "concat(CAST(doc_id AS VARCHAR), ':', CAST(j AS VARCHAR))")} % n AS dst
       |       FROM documents, n, (SELECT unnest([0, 1, 2]) AS j)),
       |e AS (SELECT DISTINCT src, dst FROM e0 WHERE dst <> src)""".stripMargin

  /** 5-iteration fixed-point PageRank with damping 0.85. Returns the
    * top-20 nodes by rank: (doc_id, rank_fp) where rank_fp is the rank
    * in 1e-9 units. r_{i+1}(v) = 0.15*Scale + (85 * sum of
    * r_i(u) div outdeg(u) over in-neighbors u) div 100 — all longs.
    */
  def pagerank(spark: SparkSession, docs: DataFrame,
      iterations: Int = Iterations): DataFrame = {
    val base = Scale * 15 / 100
    val edges = graft.CacheScope.cached(
      linkEdges(docs).repartition(col("src")))
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // contributions join reuses the src partitioning every iteration
    val wide = graft.CacheScope.cached(edges.join(outdeg, "src"))
    val contribEdges = if (wide.count() > SmallGraphEdges) wide
      else try Layout.single(wide) finally wide.unpersist(blocking = false)
    // Iterate on the IN-LINK SUM s_i(v) instead of the full rank
    // vector: r_i(v) = base + (85*s_i(v)) div 100 with s_i(v)=0 for
    // nodes with no in-links, so each iteration needs only ONE join
    // (edges ⋈ s) — nodes absent from s coalesce to 0 in place. The
    // rank vector materializes once, at the end.
    // s_1 needs no join at all: r_0 is the constant Scale.
    var s = contribEdges
      .select(col("dst"), expr(s"${Scale}L div outdeg").as("c"))
      .groupBy("dst")
      .agg(sum("c").as("s")) // partial (map-side) long sums
      .select(col("dst").as("s_node"), col("s"))
    for (i <- 2 to iterations) {
      s = contribEdges
        .join(s, col("src") === col("s_node"), "left")
        .select(
          col("dst"),
          expr(s"(${base}L + (85 * coalesce(s, 0L)) div 100) div outdeg")
            .as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("s_node"), col("s"))
      if (i % Layout.CheckpointEvery == 0) s = Layout.iterated(s)
    }
    docs
      .select(col("doc_id").as("node"))
      .join(s, col("node") === col("s_node"), "left")
      .select(
        col("node"),
        expr(s"${base}L + (85 * coalesce(s, 0L)) div 100").as("r"))
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
  }

  /** Oracle twin of [[pagerank]]: the 5 iterations unrolled as CTEs,
    * identical integer arithmetic.
    */
  def pagerankSql: String = {
    val base = Scale * 15 / 100
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.doc_id AS node,
         |    $base + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.r // o.outdeg) AS BIGINT) AS s
         |    FROM e JOIN o ON e.src = o.src JOIN $prev p ON e.src = p.node
         |    GROUP BY e.dst) c ON d.doc_id = c.dst)""".stripMargin
    val iters = (1 to Iterations)
      .map(i => iter(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH $linkEdgesSql,
       |o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT doc_id AS node, CAST($Scale AS BIGINT) AS r
       |       FROM documents),
       |$iters
       |SELECT node AS doc_id, r AS rank_fp FROM r$Iterations
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** Weighted PageRank: each node's rank splits over its out-links in
    * PROPORTION to deterministic integer edge weights w(u,v) = 1 +
    * hash60("u:v") mod 9 (per direction — the directed analogue of
    * [[sssp]]'s canonical-pair weights), instead of uniformly:
    * r_{i+1}(v) = 0.15·Scale + 0.85·Σ_u (r_i(u)·w(u,v)) div W(u),
    * W(u) = Σ w(u,·). The property-graph centrality a corpus pipeline
    * uses when links carry strength (anchor counts, co-citation
    * frequency). All arithmetic stays in exact longs (r·w ≤ ~2e10),
    * so rankings replay to the last unit.
    *
    * Scale shape identical to [[pagerank]]: one cached src-partitioned
    * weighted edge relation, one join per iteration against the
    * constant-width in-link-sum relation, partial map-side long sums,
    * lineage truncated every [[graft.Layout.CheckpointEvery]] rounds.
    */
  def weightedPagerank(spark: SparkSession, docs: DataFrame): DataFrame = {
    val base = Scale * 15 / 100
    val edges = graft.CacheScope.cached(
      linkEdges(docs)
        .withColumn("w",
          Sketches.hash60(concat(col("src").cast("string"), lit(":"),
            col("dst").cast("string"))) % 9L + 1L)
        .repartition(col("src")))
    val wsum = edges.groupBy("src").agg(sum("w").as("wsum"))
    val wide = graft.CacheScope.cached(edges.join(wsum, "src"))
    val contribEdges = if (wide.count() > SmallGraphEdges) wide
      else try Layout.single(wide) finally wide.unpersist(blocking = false)
    var s = contribEdges
      .select(col("dst"), expr(s"(${Scale}L * w) div wsum").as("c"))
      .groupBy("dst")
      .agg(sum("c").as("s"))
      .select(col("dst").as("s_node"), col("s"))
    for (i <- 2 to Iterations) {
      s = contribEdges
        .join(s, col("src") === col("s_node"), "left")
        .select(
          col("dst"),
          expr(s"((${base}L + (85 * coalesce(s, 0L)) div 100) * w) " +
            "div wsum").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("s_node"), col("s"))
      if (i % Layout.CheckpointEvery == 0) s = Layout.iterated(s)
    }
    docs
      .select(col("doc_id").as("node"))
      .join(s, col("node") === col("s_node"), "left")
      .select(
        col("node"),
        expr(s"${base}L + (85 * coalesce(s, 0L)) div 100").as("r"))
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
  }

  /** Oracle twin of [[weightedPagerank]]: unrolled CTEs, identical
    * integer arithmetic (nonnegative operands, so DuckDB's flooring
    * `//` equals Spark's truncating `div` throughout).
    */
  def weightedPagerankSql: String = {
    val base = Scale * 15 / 100
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.doc_id AS node,
         |    $base + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT ew.dst, CAST(sum((p.r * ew.w) // o.wsum) AS BIGINT) AS s
         |    FROM ew JOIN o ON ew.src = o.src JOIN $prev p ON ew.src = p.node
         |    GROUP BY ew.dst) c ON d.doc_id = c.dst)""".stripMargin
    val iters = (1 to Iterations)
      .map(i => iter(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH $linkEdgesSql,
       |ew AS (SELECT src, dst,
       |         1 + ${Sketches.hash60Sql(
             "concat(CAST(src AS VARCHAR), ':', CAST(dst AS VARCHAR))")}
       |           % 9 AS w
       |       FROM e),
       |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM ew
       |      GROUP BY src),
       |r0 AS (SELECT doc_id AS node, CAST($Scale AS BIGINT) AS r
       |       FROM documents),
       |$iters
       |SELECT node AS doc_id, r AS rank_fp FROM r$Iterations
       |ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** In/out degree distribution of the directed link graph — the
    * first diagnostic of every graph pipeline (hub detection, join
    * fan-out estimation for the wedge joins, sanity on the synthetic
    * generator). One row per (side, degree): how many nodes have that
    * many in- or out-links. Nodes with zero links on a side are
    * absent from that side's histogram (both engines construct it
    * identically from the edge relation). Two partial-aggregated
    * passes over the cached edges; output is |distinct degrees| rows.
    */
  def degreeDist(spark: SparkSession, docs: DataFrame): DataFrame = {
    val e = graft.CacheScope.cached(linkEdges(docs))
    def hist(keyCol: String, side: String) = e
      .groupBy(col(keyCol).as("node"))
      .agg(count(lit(1)).as("degree"))
      .groupBy("degree")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(side).as("side"), col("degree"), col("n_nodes"))
    hist("src", "out").union(hist("dst", "in"))
      .orderBy("side", "degree")
  }

  /** Oracle twin of [[degreeDist]]. */
  def degreeDistSql: String =
    s"""WITH $linkEdgesSql,
       |o AS (SELECT src AS node, count(*) AS degree FROM e GROUP BY src),
       |i AS (SELECT dst AS node, count(*) AS degree FROM e GROUP BY dst)
       |SELECT side, degree, n_nodes FROM (
       |  SELECT 'out' AS side, degree, count(*) AS n_nodes
       |  FROM o GROUP BY degree
       |  UNION ALL
       |  SELECT 'in' AS side, degree, count(*) AS n_nodes
       |  FROM i GROUP BY degree)
       |ORDER BY side, degree""".stripMargin

  /** Degree assortativity: the Pearson correlation of endpoint degrees
    * over the undirected edge set (both orientations, the standard
    * Newman definition) — positive means hubs link to hubs (social
    * shape), negative means hubs link to leaves (web/biology shape); a
    * one-number structural fingerprint next to [[degreeDist]]'s
    * histogram. All five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    * accumulate as exact longs in ONE partial-aggregated pass over the
    * degree-joined edges, so the corpus never sorts; the final
    * COMBINATION of the statistics runs in double (the cross products
    * n·Σxy etc. would silently wrap int64 on a hub-heavy 1e8-edge
    * graph — Σx is a sum of squared degrees), which both engines
    * round through the identical IEEE steps. A zero-variance graph
    * (every endpoint the same degree) has no defined correlation and
    * yields NULL in both engines. Scale: two broadcast-or-shuffle
    * joins of the edge relation against the (≤ one row per node)
    * degree relation, then a scalar aggregate.
    */
  def assortativity(spark: SparkSession, docs: DataFrame): DataFrame = {
    val ed = symmetricEdges(docs)
    val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
    val pairs = ed
      .join(deg.select(col("src"), col("deg").as("dx")), "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")), "dst")
    val st = pairs
      .agg(count(lit(1)).as("n"), sum("dx").as("sx"), sum("dy").as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val den = sqrt(d("n") * d("sxx") - d("sx") * d("sx")) *
      sqrt(d("n") * d("syy") - d("sy") * d("sy"))
    st.select(expr("n div 2").as("n_edges"),
      when(den === 0d, lit(null).cast("double"))
        .otherwise(round((d("n") * d("sxy") - d("sx") * d("sy")) / den, 6))
        .as("assortativity"))
  }

  /** Oracle twin of [[assortativity]]. */
  def assortativitySql: String =
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |deg AS (SELECT src, count(*) AS deg FROM ed GROUP BY src),
       |pr AS (SELECT d1.deg AS dx, d2.deg AS dy
       |       FROM ed JOIN deg d1 ON ed.src = d1.src
       |               JOIN deg d2 ON ed.dst = d2.src),
       |st AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |         CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
       |         CAST(sum(dx * dy) AS DOUBLE) AS sxy,
       |         CAST(sum(dx * dx) AS DOUBLE) AS sxx,
       |         CAST(sum(dy * dy) AS DOUBLE) AS syy,
       |         CAST(count(*) AS BIGINT) AS nn
       |       FROM pr),
       |dn AS (SELECT nn, n, sx, sy, sxy,
       |         sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) AS den
       |       FROM st)
       |SELECT CAST((nn - nn % 2) / 2 AS BIGINT) AS n_edges,
       |  CASE WHEN den = 0 THEN NULL
       |       ELSE round((n * sxy - sx * sy) / den, 6) END AS assortativity
       |FROM dn""".stripMargin

  /** Item co-occurrence with lift — the bipartite (basket, item) graph
    * projected onto item pairs (market-basket association, the
    * recommendation / query-expansion primitive). For each pair that
    * shares >= `minSupport` baskets: support (co-basket count) and
    * lift = support·N / (cnt_a·cnt_b) (>1 = the pair co-occurs more
    * than independence predicts). Top-`topK` by (support, item_a,
    * item_b) — a total order, so the cut is deterministic.
    *
    * Scale: the self-join fans out per basket as C(basket_size, 2) —
    * bounded by the basket size cap that order-shaped data has
    * naturally (a pathological mega-basket would need the same
    * degree-cap/salting treatment the wedge joins use). Everything
    * else is linear: one distinct, one count per item, one
    * partial-aggregated pair count. All-integer until the single lift
    * division.
    */
  def cooccurrence(lineitem: DataFrame, minSupport: Int = 2,
      topK: Int = 20): DataFrame = {
    // cached: the distinct (basket, item) relation feeds FOUR
    // consumers below (the order count, the item frequencies, and both
    // self-join inputs) — uncached, each re-runs the full scan +
    // distinct shuffle
    val items = graft.CacheScope.cached(lineitem
      .select(col("l_orderkey").as("okey"), col("l_partkey").as("item"))
      .distinct())
    val nOrders = items.agg(
      countDistinct(col("okey")).cast("long").as("n_orders"))
    val freq = items.groupBy("item").agg(count(lit(1)).as("cnt"))
    val pairs = items.as("a")
      .join(items.as("b"),
        col("a.okey") === col("b.okey") && col("a.item") < col("b.item"))
      .groupBy(col("a.item").as("item_a"), col("b.item").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)
    pairs
      .join(freq.select(col("item").as("item_a"), col("cnt").as("cnt_a")),
        "item_a")
      .join(freq.select(col("item").as("item_b"), col("cnt").as("cnt_b")),
        "item_b")
      .crossJoin(broadcast(nOrders))
      .select(col("item_a"), col("item_b"), col("support"),
        round((col("support") * col("n_orders")).cast("double") /
          (col("cnt_a") * col("cnt_b")).cast("double"), 6).as("lift"))
      .orderBy(col("support").desc, col("item_a"), col("item_b"))
      .limit(topK)
  }

  /** Oracle twin of [[cooccurrence]] — parameterized like its
    * DataFrame twin so a non-default call cannot silently diverge.
    */
  def cooccurrenceSql(minSupport: Int = 2, topK: Int = 20): String =
    s"""WITH it AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
       |            FROM lineitem),
       |n AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders FROM it),
       |f AS (SELECT item, count(*) AS cnt FROM it GROUP BY item),
       |p AS (SELECT a.item AS item_a, b.item AS item_b,
       |        count(*) AS support
       |      FROM it a JOIN it b ON a.okey = b.okey AND a.item < b.item
       |      GROUP BY 1, 2 HAVING count(*) >= $minSupport)
       |SELECT item_a, item_b, support,
       |  round(CAST(support * n_orders AS DOUBLE) /
       |        CAST(fa.cnt * fb.cnt AS DOUBLE), 6) AS lift
       |FROM p JOIN f fa ON fa.item = item_a
       |       JOIN f fb ON fb.item = item_b, n
       |ORDER BY support DESC, item_a, item_b LIMIT $topK""".stripMargin

  /** Seed set for personalized PageRank: every 23rd document. */
  val PprSeedMod = 23L

  /** Personalized PageRank: the teleport mass goes ONLY to the seed
    * set (doc_id % [[PprSeedMod]] == 0) — rank measures proximity to
    * the seeds through the link structure, the standard
    * recommendation / trust-propagation primitive next to the global
    * [[pagerank]] quality prior. Same exact integer arithmetic and
    * in-link-sum iteration shape (one join per round over the cached
    * src-partitioned edges, lineage truncated every
    * [[graft.Layout.CheckpointEvery]] rounds), with the base term
    * seed-gated: r_{i+1}(v) = seed(v)·0.15·Scale +
    * (85·s_i(v)) div 100. Returns the top-20 nodes with NONZERO rank
    * (mass only reaches the seeds' forward neighborhoods):
    * (doc_id, rank_fp).
    */
  def personalizedPagerank(spark: SparkSession, docs: DataFrame): DataFrame = {
    val base = Scale * 15 / 100
    val edges = graft.CacheScope.cached(
      linkEdges(docs).repartition(col("src")))
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val wide = graft.CacheScope.cached(edges.join(outdeg, "src"))
    val contribEdges = if (wide.count() > SmallGraphEdges) wide
      else try Layout.single(wide) finally wide.unpersist(blocking = false)
    def seedBase(node: String, mass: Long): String =
      s"CASE WHEN $node % $PprSeedMod = 0 THEN ${mass}L ELSE 0L END"
    var s = contribEdges
      .select(col("dst"),
        expr(s"(${seedBase("src", Scale)}) div outdeg").as("c"))
      .groupBy("dst")
      .agg(sum("c").as("s"))
      .select(col("dst").as("s_node"), col("s"))
    for (i <- 2 to Iterations) {
      s = contribEdges
        .join(s, col("src") === col("s_node"), "left")
        .select(
          col("dst"),
          expr(s"((${seedBase("src", base)}) + " +
            "(85 * coalesce(s, 0L)) div 100) div outdeg").as("c"))
        .groupBy("dst")
        .agg(sum("c").as("s"))
        .select(col("dst").as("s_node"), col("s"))
      if (i % Layout.CheckpointEvery == 0) s = Layout.iterated(s)
    }
    docs
      .select(col("doc_id").as("node"))
      .join(s, col("node") === col("s_node"), "left")
      .select(
        col("node"),
        expr(s"(${seedBase("node", base)}) + " +
          "(85 * coalesce(s, 0L)) div 100").as("r"))
      .filter(col("r") > 0)
      .orderBy(col("r").desc, col("node"))
      .limit(20)
      .select(col("node").as("doc_id"), col("r").as("rank_fp"))
  }

  /** Oracle twin of [[personalizedPagerank]]: unrolled CTEs, identical
    * seed-gated integer arithmetic (sums cast back from HUGEINT per
    * the playbook).
    */
  def personalizedPagerankSql: String = {
    val base = Scale * 15 / 100
    def seedBase(node: String, mass: Long): String =
      s"CASE WHEN $node % $PprSeedMod = 0 THEN CAST($mass AS BIGINT) " +
        "ELSE CAST(0 AS BIGINT) END"
    def iter(prev: String, cur: String): String =
      s"""$cur AS (
         |  SELECT d.doc_id AS node,
         |    (${seedBase("d.doc_id", base)}) + (85 * COALESCE(c.s, 0)) // 100 AS r
         |  FROM documents d LEFT JOIN (
         |    SELECT e.dst, CAST(sum(p.r // o.outdeg) AS BIGINT) AS s
         |    FROM e JOIN o ON e.src = o.src JOIN $prev p ON e.src = p.node
         |    GROUP BY e.dst) c ON d.doc_id = c.dst)""".stripMargin
    val iters = (1 to Iterations)
      .map(i => iter(if (i == 1) "r0" else s"r${i - 1}", s"r$i"))
      .mkString(",\n")
    s"""WITH $linkEdgesSql,
       |o AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
       |r0 AS (SELECT doc_id AS node, ${seedBase("doc_id", Scale)} AS r
       |       FROM documents),
       |$iters
       |SELECT node AS doc_id, r AS rank_fp FROM r$Iterations
       |WHERE r > 0 ORDER BY r DESC, node LIMIT 20""".stripMargin
  }

  /** HITS hubs-and-authorities over the directed link graph
    * (Kleinberg 1999): a_{i+1}(v) = Σ h_i(u) over in-links,
    * h_{i+1}(v) = Σ a_{i+1}(u) over out-links, UNNORMALIZED integer
    * iteration from h_0 = 1 — at [[Iterations]] rounds the scores stay
    * exact longs (each round multiplies the max by ≤ 3·max-indeg;
    * random 3-out graphs keep that well under 2^63 — the envelope a
    * production run re-checks if it raises Iterations), so the
    * rankings are reproducible to the last unit with no float
    * normalization drift. Returns the top-20 nodes by authority:
    * (doc_id, auth, hub).
    *
    * Scale shape: the SAME cached src-partitioned edge relation as
    * [[pagerank]]; each round is two partial-aggregated joins (h→a on
    * dst, a→h on src), lineage truncated every
    * [[graft.Layout.CheckpointEvery]] rounds.
    */
  def hits(spark: SparkSession, docs: DataFrame): DataFrame = {
    val wide = graft.CacheScope.cached(
      linkEdges(docs).repartition(col("src")))
    val edges = if (wide.count() > SmallGraphEdges) wide
      else try Layout.single(wide) finally wide.unpersist(blocking = false)
    // h_0 = 1 for every node => a_1(v) = indeg(v)
    var a = edges.groupBy("dst").agg(count(lit(1)).cast("long").as("a"))
      .select(col("dst").as("a_node"), col("a"))
    var h = edges.join(a, col("dst") === col("a_node"))
      .groupBy("src").agg(sum("a").as("h"))
      .select(col("src").as("h_node"), col("h"))
    for (i <- 2 to Iterations) {
      a = edges.join(h, col("src") === col("h_node"))
        .groupBy("dst").agg(sum("h").as("a"))
        .select(col("dst").as("a_node"), col("a"))
      h = edges.join(a, col("dst") === col("a_node"))
        .groupBy("src").agg(sum("a").as("h"))
        .select(col("src").as("h_node"), col("h"))
      // h is also a's lineage tail, so one truncation bounds both
      if (i % Layout.CheckpointEvery == 0) {
        a = Layout.iterated(a)
        h = Layout.iterated(h)
      }
    }
    docs.select(col("doc_id").as("node"))
      .join(a, col("node") === col("a_node"), "left")
      .join(h, col("node") === col("h_node"), "left")
      .select(col("node"), coalesce(col("a"), lit(0L)).as("auth"),
        coalesce(col("h"), lit(0L)).as("hub"))
      .orderBy(col("auth").desc, col("node"))
      .limit(20)
      .select(col("node").as("doc_id"), col("auth"), col("hub"))
  }

  /** Oracle twin of [[hits]]: the alternating rounds unrolled as CTEs
    * (sums cast back from HUGEINT per the playbook).
    */
  def hitsSql: String = {
    def aIter(prevH: String, cur: String): String =
      s"""$cur AS (SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS a
         |  FROM e JOIN $prevH p ON e.src = p.node GROUP BY e.dst)"""
        .stripMargin
    def hIter(curA: String, cur: String): String =
      s"""$cur AS (SELECT e.src AS node, CAST(sum(p.a) AS BIGINT) AS h
         |  FROM e JOIN $curA p ON e.dst = p.node GROUP BY e.src)"""
        .stripMargin
    val rounds = (1 to Iterations).flatMap { i =>
      val a =
        if (i == 1)
          """a1 AS (SELECT dst AS node, count(*) AS a
            |  FROM e GROUP BY dst)""".stripMargin
        else aIter(s"h${i - 1}", s"a$i")
      Seq(a, hIter(s"a$i", s"h$i"))
    }.mkString(",\n")
    s"""WITH $linkEdgesSql,
       |$rounds
       |SELECT d.doc_id,
       |  COALESCE(a.a, CAST(0 AS BIGINT)) AS auth,
       |  COALESCE(h.h, CAST(0 AS BIGINT)) AS hub
       |FROM documents d
       |LEFT JOIN a$Iterations a ON d.doc_id = a.node
       |LEFT JOIN h$Iterations h ON d.doc_id = h.node
       |ORDER BY auth DESC, d.doc_id LIMIT 20""".stripMargin
  }

  /** Exact triangle count of the undirected link graph, via
    * degree-ordered edge orientation. Returns one row:
    * (n_nodes, n_edges, n_triangles).
    */
  /** The undirected edge list plus its degree-ordered orientation
    * (Schank & Wagner 2005), both cached — shared by [[triangles]]
    * and [[edgeSupport]]. Orienting each edge from its lower
    * (degree, id) endpoint bounds the wedge join's fan-out by the
    * graph's degeneracy instead of its max degree.
    */
  private def orientedEdges(docs: DataFrame): (DataFrame, DataFrame) = {
    val und = graft.CacheScope.cached(linkEdges(docs)
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct())
    (und, orient(und))
  }

  /** Degree-orient an undirected (u, v) edge relation (computing
    * degrees from the relation itself — [[ktruss]] re-orients each
    * shrinking round's survivor set, so the degeneracy bound tracks
    * the CURRENT subgraph).
    */
  private def orient(und: DataFrame): DataFrame = {
    val deg = und
      .select(col("u").as("x"))
      .union(und.select(col("v").as("x")))
      .groupBy("x")
      .agg(count(lit(1)).as("d"))
    val withDeg = und
      .join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
      .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
    graft.CacheScope.cached(withDeg
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("a"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("b")))
  }

  /** Per-edge triangle support of an undirected edge relation — the
    * [[edgeSupport]] core, reused per [[ktruss]] round: (u, v,
    * support) with 0-support edges included.
    */
  private def supportOf(und: DataFrame): DataFrame = {
    val oriented = orient(und)
    val o2 = oriented.select(col("a").as("a2"), col("b").as("c"))
    val wedges = oriented
      .join(o2, col("a") === col("a2") && col("b") < col("c"))
      .select("a", "b", "c")
    val closing = oriented.select(
      least(col("a"), col("b")).as("x"),
      greatest(col("a"), col("b")).as("y"))
    val triEdges = wedges
      .join(closing, col("b") === col("x") && col("c") === col("y"))
      .select(explode(array(
        struct(least(col("a"), col("b")).as("u"),
          greatest(col("a"), col("b")).as("v")),
        struct(least(col("a"), col("c")).as("u"),
          greatest(col("a"), col("c")).as("v")),
        struct(col("b").as("u"), col("c").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v")
      .agg(count(lit(1)).as("support"))
    und.join(triEdges, Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Rounds the k-truss ORACLE unrolls — and the loud-failure cap on
    * the Spark peel (the [[KcoreRounds]] discipline): extra unrolled
    * rounds are idempotent past the fixpoint, but a Spark loop
    * needing MORE rounds than the oracle replays would silently
    * diverge, so it throws instead.
    */
  val TrussRounds = 6

  /** k-truss of the undirected link graph: iteratively remove edges
    * in fewer than k−2 triangles until every surviving edge has
    * support ≥ k−2 WITHIN the survivor subgraph — the edge-level
    * density filter that [[edgeSupport]]'s histogram feeds ([[kcore]]
    * is its node-level sibling). Returns one row:
    * (k, n_edges_truss, n_nodes_truss).
    *
    * Scale shape: each round re-orients the (shrinking) survivor set
    * and recomputes support with the degeneracy-bounded wedge+closing
    * join — O(wedges of the current subgraph) per round; the edge set
    * is monotone decreasing, so count equality is set equality, and
    * rounds are bounded by the peel depth (TrussRounds guard). One
    * [[graft.Layout.iterated]] per round truncates the self-referencing
    * lineage.
    */
  def ktruss(spark: SparkSession, docs: DataFrame, k: Int = 3): DataFrame = {
    var alive = Layout.iterated(orientedEdges(docs)._1)
    var n = alive.count()
    var rounds = 0
    var done = false
    while (!done) {
      val next = Layout.iterated(supportOf(alive)
        .filter(col("support") >= k - 2)
        .select("u", "v"))
      val n2 = next.count()
      done = n2 == n // monotone shrink: same count = same set
      alive = next
      n = n2
      rounds += 1
      // the loop needs one extra NO-CHANGE round to DETECT the
      // fixpoint; that detection round is idempotent (the oracle's
      // unrolled rounds past the fixpoint are too), so only a round
      // that still SHRANK past the cap means the oracle's unroll depth
      // is insufficient (ADVICE r11: a graph shrinking for exactly
      // TrussRounds rounds is fine — its detection round may be
      // TrussRounds + 1)
      require(rounds <= TrussRounds || done,
        s"k-truss peel still shrinking after $TrussRounds rounds — " +
          s"the oracle unrolls exactly $TrussRounds; raise TrussRounds " +
          "in both places")
    }
    alive
      .agg(count(lit(1)).as("n_edges_truss"))
      .crossJoin(broadcast(
        alive.select(col("u").as("x")).union(alive.select(col("v").as("x")))
          .agg(count_distinct(col("x")).as("n_nodes_truss"))))
      .select(lit(k).as("k"), col("n_edges_truss"), col("n_nodes_truss"))
  }

  /** Oracle twin of [[ktruss]]: [[TrussRounds]] peel rounds unrolled
    * (idempotent past the fixpoint), each round's support the naive
    * common-neighbor wedge statement over the survivor set — every
    * e_i is referenced multiple times, so AS MATERIALIZED per the
    * k-core lesson.
    */
  def ktrussSql(k: Int = 3): String = {
    def round(prev: String, cur: String): String =
      s"""${cur}d AS MATERIALIZED (SELECT u AS src, v AS dst FROM $prev
         |  UNION ALL SELECT v, u FROM $prev),
         |${cur}s AS MATERIALIZED (
         |  SELECT e1.dst AS u, e2.dst AS v, count(*) AS sup
         |  FROM ${cur}d e1 JOIN ${cur}d e2
         |    ON e1.src = e2.src AND e1.dst < e2.dst
         |  GROUP BY 1, 2),
         |$cur AS MATERIALIZED (
         |  SELECT p.u, p.v FROM $prev p LEFT JOIN ${cur}s s
         |    ON p.u = s.u AND p.v = s.v
         |  WHERE COALESCE(s.sup, 0) >= ${k - 2})""".stripMargin
    val rounds = (1 to TrussRounds)
      .map(i => round(if (i == 1) "ue" else s"e${i - 1}", s"e$i"))
      .mkString(",\n")
    val last = s"e$TrussRounds"
    s"""WITH $linkEdgesSql,
       |ue AS MATERIALIZED (SELECT DISTINCT least(src, dst) AS u,
       |       greatest(src, dst) AS v FROM e),
       |$rounds
       |SELECT $k AS k, count(*) AS n_edges_truss,
       |  (SELECT count(DISTINCT x) FROM (
       |     SELECT u AS x FROM $last UNION ALL SELECT v FROM $last) q)
       |    AS n_nodes_truss
       |FROM $last""".stripMargin
  }

  def triangles(spark: SparkSession, docs: DataFrame): DataFrame = {
    val (und, oriented) = orientedEdges(docs)
    // wedges a->b, a->c (b < c to count each unordered wedge once),
    // closed by an oriented edge between b and c in either direction
    val o2 = oriented.select(col("a").as("a2"), col("b").as("c"))
    val wedges = oriented
      .join(o2, col("a") === col("a2") && col("b") < col("c"))
      .select("a", "b", "c")
    val closing = oriented.select(
      least(col("a"), col("b")).as("x"),
      greatest(col("a"), col("b")).as("y"))
    val tri = wedges
      .join(closing, col("b") === col("x") && col("c") === col("y"))
      .agg(count(lit(1)).as("n_triangles"))
    val counts = und
      .agg(count(lit(1)).as("n_edges"))
      .crossJoin(docs.agg(count(lit(1)).as("n_nodes")))
    counts
      .crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Oracle twin of [[triangles]]: the naive ordered 3-join (u<v<w) —
    * same exact count as the oriented Spark plan.
    */
  def trianglesSql: String =
    s"""WITH $linkEdgesSql,
       |ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM e),
       |t AS (SELECT count(*) AS n_triangles
       |      FROM ue e1
       |      JOIN ue e2 ON e1.v = e2.u
       |      JOIN ue e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT (SELECT count(*) FROM documents) AS n_nodes,
       |       (SELECT count(*) FROM ue) AS n_edges,
       |       n_triangles
       |FROM t""".stripMargin

  /** Edge volume under which a cached edge relation ([[symmetricEdges]],
    * and the directed ones of the pagerank family and [[hits]]) moves
    * to [[graft.Layout.single]] (≈8 MB of (long, long) rows — far
    * below one task's comfort). The count that tests the size fills
    * the wide cache, which is dropped once the one-partition copy is
    * resident. The iterative consumers run many
    * small per-round jobs over this relation, and AQE's
    * parallelism-first coalescing keeps ~#cores near-empty partitions
    * however tiny the data — the r18 eval-diet anatomy (measured
    * there: 33-task exchange jobs whose per-task overhead, not data,
    * was the wall). Above the threshold the layout is untouched: a
    * real corpus's edge relation needs the wide hash partitioning.
    */
  private val SmallGraphEdges = 1L << 19

  /** The undirected link graph as a symmetric directed edge relation
    * (each undirected edge appears in both directions), hash-partitioned
    * by `src` and cached — the shared traversal input for
    * [[connectedComponents]] and [[bfs]]; one partition under
    * [[SmallGraphEdges]] (r19, VERDICT r18 item 3).
    */
  private def symmetricEdges(docs: DataFrame,
      partitionKey: String = "src"): DataFrame = {
    val und = linkEdges(docs)
      .select(
        least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()
    val wide = graft.CacheScope.cached(
      und.select(col("u").as("src"), col("v").as("dst"))
        .union(und.select(col("v").as("src"), col("u").as("dst")))
        .repartition(col(partitionKey)))
    if (wide.count() > SmallGraphEdges) wide
    else try Layout.single(wide) finally wide.unpersist(blocking = false)
  }

  /** SQL twin of [[symmetricEdges]] (CTE `ed`), for appending after
    * [[linkEdgesSql]].
    */
  private def symmetricEdgesSql: String =
    s"""ue AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |       FROM e),
       |ed AS (SELECT u AS src, v AS dst FROM ue
       |       UNION ALL SELECT v, u FROM ue)""".stripMargin

  /** Connected components of the undirected link graph: every node
    * labeled with the smallest doc_id in its component. Label
    * propagation run TO FIXPOINT (the result is the true component
    * labeling, independent of iteration schedule — which is what lets
    * the oracle verify it with a reachability recursion instead of
    * replaying our rounds), with a pointer-jumping step each round
    * (lab := lab(lab)) so convergence takes O(log diameter) rounds,
    * not O(diameter) — the distinction between 8 and 40 shuffle
    * rounds on a 100 TB web graph.
    *
    * Scale: each round is one edges⋈labels join co-partitioned on the
    * cached edge partitioning, one partial-aggregating min, and one
    * labels self-join — all linear in |E|; label state is 2 longs per
    * node. The driver-side loop runs one `count` action per round on
    * the per-round diff (bounded metadata, not data rows).
    */
  def connectedComponents(spark: SparkSession, docs: DataFrame): DataFrame = {
    // partitioned on dst — the per-round join key (labels are small and
    // move to the edges, never the reverse)
    val edges = symmetricEdges(docs, partitionKey = "dst")
    // Loop economics (this is all fixed overhead at test scale, and
    // shuffle count at cluster scale):
    //  - ONE Layout.iterated per round — it both truncates the
    //    self-referencing lineage and materializes the one relation
    //    every later step reads.
    //  - the convergence test is a filter-count on that checkpointed
    //    relation (prev label carried as a column) — no join, no
    //    shuffle, one cheap local job.
    //  - the pointer jump shortcuts through the PREVIOUS round's
    //    (already materialized) labels rather than the current
    //    intermediate — same fixpoint (at stability prev == current),
    //    one checkpoint instead of two per round.
    var labels = Layout.iterated(docs
      .select(col("doc_id").as("node"))
      .withColumn("lab", col("node")))
    var changed = 1L
    while (changed > 0) {
      // min label over neighbors, folded with own label
      val viaN = edges
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("lab", "nl"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("nl").as("nlab")) // partial map-side min
      val hopped = labels
        .join(viaN, Seq("node"), "left")
        .select(col("node"), col("lab").as("plab"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab1"))
      // pointer jump x2: adopt the previous label of the label-node
      // (then of THAT node) — each jump is a cheap join against the
      // already-materialized labels and keeps contracting chain depth
      val jumped = hopped
        .join(labels.select(col("node").as("jn"), col("lab").as("jlab")),
          col("lab1") === col("jn"), "left")
        .select(col("node"), col("plab"),
          least(col("lab1"), coalesce(col("jlab"), col("lab1"))).as("lab2"))
      val next = Layout.iterated(jumped
        .join(labels.select(col("node").as("kn"), col("lab").as("klab")),
          col("lab2") === col("kn"), "left")
        .select(col("node"), col("plab"),
          least(col("lab2"), coalesce(col("klab"), col("lab2"))).as("lab")))
      changed = next.filter(col("lab") =!= col("plab")).count()
      labels = next.select("node", "lab")
    }
    labels
      .select(col("node").as("doc_id"), col("lab").as("component"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[connectedComponents]]: undirected reachability
    * closure (recursive CTE), then min reachable id per node — the
    * definition our fixpoint converges to.
    */
  def connectedComponentsSql: String =
    s"""WITH RECURSIVE $linkEdgesSql,
       |$symmetricEdgesSql,
       |reach(node, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT reach.node, ed.dst FROM reach JOIN ed ON ed.src = reach.r)
       |SELECT node AS doc_id, min(r) AS component FROM reach
       |GROUP BY node ORDER BY node""".stripMargin

  /** BFS hop cap shared by the Spark loop and the oracle recursion —
    * both sides exclude anything further than this, so the answers
    * agree even on a graph with a longer diameter.
    */
  val MaxHops = 15

  /** Multi-source BFS over the undirected link graph: minimum hop
    * count from the seed set `doc_id < nSeeds` to every reachable
    * node (within [[MaxHops]]). The frontier-expansion shape is the
    * canonical distributed BFS: per round, one join of the CURRENT
    * frontier (shrinking relation) against the cached edge relation,
    * one distinct, one anti-join against settled nodes — never a
    * whole-graph pass per hop.
    */
  def bfs(spark: SparkSession, docs: DataFrame, nSeeds: Int = 5): DataFrame = {
    val edges = symmetricEdges(docs)
    // iterated: `dist` accumulates a union per hop and is also the
    // anti-join filter for the next frontier
    var dist = Layout.iterated(docs
      .filter(col("doc_id") < nSeeds)
      .select(col("doc_id").as("node"))
      .withColumn("hops", lit(0)))
    var frontier = dist
    var h = 0
    var frontierEmpty = frontier.isEmpty
    while (!frontierEmpty && h < MaxHops) {
      h += 1
      val next = Layout.iterated(edges
        .join(frontier.withColumnRenamed("node", "src").drop("hops"), "src")
        .select(col("dst").as("node"))
        .distinct()
        .join(dist, Seq("node"), "left_anti")
        .withColumn("hops", lit(h)))
      frontierEmpty = next.isEmpty
      if (!frontierEmpty) {
        dist = Layout.iterated(dist.union(next))
      }
      frontier = next
    }
    dist.orderBy("node").select(col("node").as("doc_id"), col("hops"))
  }

  /** Oracle twin of [[bfs]]: hop-bounded reachability recursion, min
    * hop per node. The UNION (set) semantics dedups (node, h) pairs so
    * the recursion is bounded by N x MaxHops rows.
    */
  def bfsSql(nSeeds: Int = 5): String =
    s"""WITH RECURSIVE $linkEdgesSql,
       |$symmetricEdgesSql,
       |reach(node, h) AS (
       |  SELECT doc_id, 0 FROM documents WHERE doc_id < $nSeeds
       |  UNION
       |  SELECT ed.dst, reach.h + 1 FROM reach JOIN ed ON ed.src = reach.node
       |  WHERE reach.h < $MaxHops)
       |SELECT node AS doc_id, min(h) AS hops FROM reach
       |GROUP BY node ORDER BY node""".stripMargin

  /** Relaxation rounds for [[sssp]] — cheapest cost over paths of at
    * most this many edges, identically bounded in the oracle's
    * recursion (the BFS hop histogram peaks well inside 8 on this
    * graph shape).
    */
  val SsspHops = 8

  /** Bounded-hop weighted shortest paths (multi-source Bellman-Ford):
    * deterministic integer edge weights w(u,v) = 1 + hash60(u:v) % 9
    * (canonicalized on the undirected pair, so both directions agree),
    * seeds = the same first-`nSeeds` documents as [[bfs]], exactly
    * [[SsspHops]] relaxation rounds — the distance semantics are
    * "cheapest cost reachable within SsspHops edges", which both
    * engines bound identically. Returns (doc_id, cost) for reached
    * nodes.
    *
    * Scale shape: each round is ONE join of the cached symmetric edge
    * relation against the shrinking-width dist relation plus a
    * min-aggregation (partial map-side); dist is referenced twice per
    * round (union + join), so it is [[graft.Layout.iterated]] every
    * round like CC/BFS.
    */
  def sssp(spark: SparkSession, docs: DataFrame,
      nSeeds: Int = 5): DataFrame = {
    val ew = graft.CacheScope.cached(symmetricEdges(docs)
      .withColumn("w",
        Sketches.hash60(concat(
          least(col("src"), col("dst")).cast("string"), lit(":"),
          greatest(col("src"), col("dst")).cast("string"))) % 9L + 1L))
    var dist = Layout.iterated(docs
      .filter(col("doc_id") < nSeeds)
      .select(col("doc_id").as("node"), lit(0L).as("cost")))
    for (_ <- 1 to SsspHops) {
      val relaxed = ew
        .join(dist.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("cost") + col("w")).as("cost"))
      dist = Layout.iterated(dist.union(relaxed)
        .groupBy("node")
        .agg(min("cost").as("cost")))
    }
    dist.orderBy("node").select(col("node").as("doc_id"), col("cost"))
  }

  /** Oracle twin of [[sssp]]: hop-bounded cost recursion, min cost per
    * node. UNION (set) semantics dedups (node, cost, h) triples, so
    * the recursion state is bounded by N x maxCost x SsspHops.
    */
  def ssspSql(nSeeds: Int = 5): String =
    s"""WITH RECURSIVE $linkEdgesSql,
       |$symmetricEdgesSql,
       |ew AS (SELECT src, dst,
       |         1 + ${Sketches.hash60Sql(
             "CAST(least(src, dst) AS VARCHAR) || ':' || " +
               "CAST(greatest(src, dst) AS VARCHAR)")} % 9 AS w
       |       FROM ed),
       |walk(node, cost, h) AS (
       |  SELECT doc_id, CAST(0 AS BIGINT), 0
       |  FROM documents WHERE doc_id < $nSeeds
       |  UNION
       |  SELECT ew.dst, walk.cost + ew.w, walk.h + 1
       |  FROM walk JOIN ew ON ew.src = walk.node
       |  WHERE walk.h < $SsspHops)
       |SELECT node AS doc_id, CAST(min(cost) AS BIGINT) AS cost
       |FROM walk GROUP BY node ORDER BY node""".stripMargin

  /** Rounds the k-core ORACLE unrolls — and the loud-failure cap on
    * the Spark peel loop: peeling converging in more rounds than the
    * oracle replays would silently diverge, so [[kcore]] throws
    * instead (the changelog/rollback loud-failure discipline). Peeling
    * rounds grow with the graph's degeneracy ordering depth, not its
    * size — 10 is ample for this link-graph shape (3 at sf0.01; the
    * spec asserts the margin).
    */
  val KcoreRounds = 10

  /** k-core decomposition (membership + in-core degree for fixed k):
    * iteratively peel nodes with degree < k until stable — the maximal
    * subgraph where every node keeps >= k neighbors INSIDE the
    * subgraph. The density filter for graph-signal corpus curation
    * (PageRank rewards connectedness; the k-core demands mutual
    * support).
    *
    * Scale shape: each round is two semi-joins of the cached edge
    * relation against the shrinking alive set plus one partial-
    * aggregated degree count; alive is MONOTONE decreasing, so the
    * count-equality convergence test is set equality, and rounds are
    * bounded by the degeneracy peel depth (KcoreRounds guard). One
    * [[graft.Layout.iterated]] per round truncates the self-referencing
    * lineage.
    */
  def kcore(spark: SparkSession, docs: DataFrame, k: Int = 4): DataFrame = {
    val edges = symmetricEdges(docs)
    var alive = Layout.iterated(edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")).filter(col("deg") >= k)
      .select("node"))
    var n = alive.count()
    var rounds = 1 // the initial degree filter IS peel round 1
    var done = false
    while (!done) {
      val next = Layout.iterated(edges
        .join(alive.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
        .groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("node"))
      val n2 = next.count()
      done = n2 == n // alive shrinks monotonically: same count = same set
      alive = next
      n = n2
      rounds += 1
      require(rounds <= KcoreRounds,
        s"k-core peel did not converge within $KcoreRounds rounds — " +
          s"the oracle unrolls exactly $KcoreRounds; raise KcoreRounds " +
          "in both places")
    }
    edges
      .join(alive.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
      .join(alive.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      .groupBy(col("src").as("doc_id")).agg(count(lit(1)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** Oracle twin of [[kcore]]: [[KcoreRounds]] peel rounds unrolled
    * (idempotent past the fixpoint, so extra rounds are harmless).
    */
  def kcoreSql(k: Int = 4): String = {
    // every a_i is referenced TWICE by a_{i+1} (both endpoints must be
    // alive) — AS MATERIALIZED stops the oracle engine from
    // tree-inlining the chain, which would re-evaluate a1 2^rounds
    // times (observed: the un-hinted query never finished)
    val rounds = (2 to KcoreRounds).map { i =>
      val p = if (i == 2) "a1" else s"a${i - 1}"
      s"""a$i AS MATERIALIZED (SELECT e.src AS node FROM edm e
         |  JOIN $p x ON e.src = x.node JOIN $p y ON e.dst = y.node
         |  GROUP BY e.src HAVING count(*) >= $k)""".stripMargin
    }.mkString(",\n")
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |edm AS MATERIALIZED (SELECT src, dst FROM ed),
       |a1 AS MATERIALIZED (SELECT src AS node FROM edm GROUP BY src
       |       HAVING count(*) >= $k),
       |$rounds
       |SELECT e.src AS doc_id, count(*) AS core_deg
       |FROM edm e JOIN a$KcoreRounds x ON e.src = x.node
       |           JOIN a$KcoreRounds y ON e.dst = y.node
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** Per-edge triangle support — |N(u) ∩ N(v)| for every undirected
    * edge (u,v): the k-truss building block (an edge with support
    * ≥ k−2 survives the k-truss) and the edge-level density signal
    * next to [[triangles]]' global count and [[kcore]]'s node-level
    * filter. Returns the support histogram (support → n_edges) — a
    * constant-size output at any graph scale — plus every edge's
    * support is exercised en route.
    *
    * Scale shape: the SAME degeneracy-bounded oriented wedge+closing
    * enumeration as [[triangles]] (shared via [[orientedEdges]]) — a
    * hub's wedges route only through its low-degree neighbors — then
    * one explode (3 edges per triangle), one per-edge count, one
    * left join for the 0-support edges, one constant-size histogram.
    * The oracle states the semantics implementation-free (naive
    * common-neighbor wedge join), like [[trianglesSql]].
    */
  def edgeSupport(spark: SparkSession, docs: DataFrame): DataFrame =
    supportOf(orientedEdges(docs)._1)
      .groupBy("support")
      .agg(count(lit(1)).as("n_edges"))
      .orderBy("support")

  /** Oracle twin of [[edgeSupport]]. */
  def edgeSupportSql: String =
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |cn AS (SELECT e1.dst AS u, e2.dst AS v, count(*) AS support
       |       FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |       GROUP BY 1, 2),
       |s AS (SELECT COALESCE(cn.support, 0) AS support
       |      FROM ue LEFT JOIN cn ON ue.u = cn.u AND ue.v = cn.v)
       |SELECT CAST(support AS BIGINT) AS support, count(*) AS n_edges
       |FROM s GROUP BY 1 ORDER BY support""".stripMargin

  /** Rounds of min-label propagation defining the [[modularity]]
    * partition — FIXED (not to-fixpoint, which on this near-connected
    * link graph would collapse everything into one community and make
    * Q trivially ~0): after 3 rounds every node carries the minimum
    * doc_id within 3 hops, a deterministic local-community partition
    * both engines replay exactly.
    */
  val ModularityRounds = 3

  /** Newman modularity Q of the 3-round label-propagation partition
    * over the undirected link graph — the community-quality eval for
    * the graph family (the analogue of `ann_recall_eval` for ANN and
    * `dedup_recall_eval` for the banding): Q = Σ_c [e_c/m −
    * (d_c/2m)²], reported with its EXACT integer numerator q_num =
    * Σ_c (4m·e_c − d_c²) = Q·4m², so the one IEEE division happens
    * once on agreed longs (q_num ≤ 4m² < 2^53 up to ~4.7e7 edges —
    * beyond that, report the rational parts and divide downstream).
    * Returns one row: (n_communities, n_edges, q_num, modularity).
    *
    * Scale shape: `rounds` label joins over the cached dst-partitioned
    * symmetric edges (labels [[graft.Layout.iterated]] per
    * round), then one degree aggregation, one
    * two-sided label join for intra-community edge counts, and
    * constant-width final aggregates. Everything is linear in |E|.
    */
  def modularity(spark: SparkSession, docs: DataFrame,
      rounds: Int = ModularityRounds): DataFrame = {
    val edges = symmetricEdges(docs, partitionKey = "dst")
    var labels = Layout.iterated(docs.select(col("doc_id").as("node"))
      .withColumn("lab", col("node")))
    for (_ <- 1 to rounds) {
      val viaN = edges
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("lab", "nl"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("nl").as("nlab")) // partial map-side min
      labels = Layout.iterated(labels
        .join(viaN, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab")))
    }
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg")) // symmetric relation: this IS the degree
    val labeled = edges
      .join(labels.select(col("node").as("src"), col("lab").as("ls")), "src")
      .join(labels.select(col("node").as("dst"), col("lab").as("ld")), "dst")
    val intra = labeled.filter(col("ls") === col("ld"))
      .groupBy(col("ls").as("c"))
      .agg(count(lit(1)).as("e2")) // both directions: 2·e_c
    val dsum = labels.join(deg, "node")
      .groupBy(col("lab").as("c"))
      .agg(sum("deg").as("dc"))
    val mDf = edges.agg((count(lit(1)) / 2).cast("long").as("m"))
    val per = dsum
      .join(intra, Seq("c"), "left")
      .crossJoin(broadcast(mDf))
      .select((lit(2L) * col("m") * coalesce(col("e2"), lit(0L))
        - col("dc") * col("dc")).as("qc"))
    labels.agg(count_distinct(col("lab")).as("n_communities"))
      .crossJoin(mDf.select(col("m").as("n_edges")))
      .crossJoin(per.agg(sum("qc").as("q_num")))
      .select(col("n_communities"), col("n_edges"), col("q_num"),
        (col("q_num").cast("double") /
          (lit(4.0) * col("n_edges") * col("n_edges"))).as("modularity"))
  }

  /** Oracle twin of [[modularity]]: the 3 rounds unrolled (each round
    * referenced twice by the next — AS MATERIALIZED per the k-core
    * lesson), identical integer arithmetic.
    */
  def modularitySql: String = {
    val roundsSql = (1 to ModularityRounds).map { i =>
      val p = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lab, COALESCE(x.nl, l.lab)) AS lab
         |  FROM $p l LEFT JOIN (
         |    SELECT ed.src AS node, min(p.lab) AS nl
         |    FROM ed JOIN $p p ON ed.dst = p.node GROUP BY ed.src) x
         |  ON l.node = x.node)""".stripMargin
    }.mkString(",\n")
    val last = s"l$ModularityRounds"
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lab
       |       FROM documents),
       |$roundsSql,
       |deg AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM ed),
       |intra AS (SELECT a.lab AS c, count(*) AS e2
       |  FROM ed JOIN $last a ON ed.src = a.node
       |          JOIN $last b ON ed.dst = b.node
       |  WHERE a.lab = b.lab GROUP BY 1),
       |dsum AS (SELECT l.lab AS c, CAST(sum(d.deg) AS BIGINT) AS dc
       |  FROM $last l JOIN deg d ON l.node = d.node GROUP BY 1),
       |per AS (SELECT 2 * mm.m * COALESCE(intra.e2, 0) - dsum.dc * dsum.dc
       |          AS qc
       |  FROM dsum LEFT JOIN intra USING (c), mm)
       |SELECT
       |  (SELECT count(DISTINCT lab) FROM $last) AS n_communities,
       |  (SELECT m FROM mm) AS n_edges,
       |  CAST(sum(qc) AS BIGINT) AS q_num,
       |  CAST(CAST(sum(qc) AS BIGINT) AS DOUBLE) /
       |    (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS modularity
       |FROM per""".stripMargin
  }

  /** Phases of one Louvain refinement sweep: nodes are colored by
    * `doc_id % LouvainPhases`, and phase k moves ONLY color-k nodes,
    * with gains computed against the partition the previous phases
    * already updated. A fully synchronous sweep (all nodes at once)
    * measurably oscillates — simultaneous movers chase each other's
    * vacated communities and Q can DROP (observed on the test corpus:
    * 0.1564 → 0.1518) — while a fully sequential sweep (classic
    * Louvain) is unreproducible across engines. Coloring is the
    * standard parallel-Louvain compromise: within a phase far fewer
    * movers interact, and the phase schedule is a deterministic
    * function of ids that DuckDB replays exactly.
    *
    * `id % LouvainPhases` is a residue schedule, NOT a proper graph
    * coloring — two adjacent nodes in the same residue class can still
    * move simultaneously against a stale partition within a phase, so
    * the aggregate gain of one phase can in principle be negative on
    * an adversarial corpus (ADVICE r12). Since r14 that cannot reach
    * the output: each phase's candidate partition is ACCEPTED only
    * when its exactly-recomputed integer Q does not decrease (one
    * extra linear scoring aggregate per phase); a rejected phase keeps
    * the previous partition, and the rejection count is an output
    * column (`n_rejected_phases`) the oracle reproduces — so
    * Q_refined >= Q_seed is now an algorithmic invariant, and
    * engine-vs-oracle parity of the accept/reject decisions rides the
    * correctness gate on every corpus it runs.
    */
  val LouvainPhases = 4

  /** Louvain refinement of the label-propagation partition
    * [[modularity]] scores — one colored sweep ([[LouvainPhases]]
    * phases): every node evaluates, for each NEIGHBORING community,
    * the exact integer modularity gain of moving there —
    *
    *   gain·4m² = 4m·(k_{i,b} − k_{i,a}) − 2·deg_i·(Σ_b − (Σ_a − deg_i))
    *
    * (k_{i,c} = edges from i into c, Σ_c = total degree of c, a = i's
    * current community) — and takes the best strictly-positive move,
    * ties broken by the smaller community label. Returns one row
    * comparing the seed and refined partitions: community counts,
    * exact q_num integers, and the two Q doubles (one IEEE division
    * each on agreed longs).
    *
    * Scale shape per phase: k_{i,c} is one edges⋈labels join + count
    * (linear in |E|), Σ_c one degree aggregation, the move selection a
    * max-of-struct groupBy on the node key (partial map-side max, no
    * window over a skewed key); labels [[graft.Layout.iterated]] per
    * phase. Scoring reuses the linear
    * modularity machinery. Nothing exceeds O(|E|) rows; products stay
    * under 2^53 to ~4.7e7 edges like [[modularity]]'s q_num.
    *
    * CONSTRUCTION IS EAGER (ADVICE r14): the monotonicity guard runs
    * 1 + phases exact-Q driver aggregates (and the per-phase
    * localCheckpoints) while BUILDING the returned DataFrame, so
    * merely constructing the plan executes Spark jobs — callers that
    * construct-and-discard still pay the sweep. This is the accepted
    * price of the Q-never-drops invariant (the guard's accept/reject
    * decisions steer which plan is built, so they cannot be deferred
    * into the plan itself).
    */
  def louvainRefine(spark: SparkSession, docs: DataFrame,
      rounds: Int = ModularityRounds,
      phases: Int = LouvainPhases): DataFrame =
    louvainRefineImpl(spark, docs, rounds, phases, guard = true)

  /** [[louvainRefine]] with the monotonicity guard switchable — OFF is
    * test-only, to demonstrate on an adversarial corpus that an
    * unguarded colored sweep really can decrease Q (the failure mode
    * the guard exists for).
    */
  private[graft] def louvainRefineImpl(spark: SparkSession, docs: DataFrame,
      rounds: Int = ModularityRounds,
      phases: Int = LouvainPhases, guard: Boolean = true): DataFrame = {
    // NEGATIVE RESULT #3 (r19, JobProbe-measured — supersedes the two
    // pre-JobProbe negatives): the query's ~18s at sf0.1 is 190 jobs
    // of 30-150 ms run SERIALLY (sum-of-jobs ≈ wall) from ~13 eager
    // actions (3 seed checkpoints, 5 exact-Q rescores, 4 candidate
    // checkpoints), i.e. per-action scheduling + planning latency,
    // not compute or shuffle volume. Four treatments measured, none
    // moved the wall outside the 19-22s RunOne noise band:
    // single-partition edge cache (no change), AQE off for the small
    // graph (28s — loses runtime broadcast/coalescing), AQE
    // parallelismFirst=false (no change), caching `deg` + collapsing
    // the 1-row `m` aggregate to a driver literal (kept below — jobs
    // 190 -> ~150, simpler plans, wall unchanged). The action count
    // itself is the floor, and it is semantic: the guard's per-phase
    // exact-Q accept/reject (oracle-replayed) cannot be deferred into
    // the plan. Parked unless the guard contract changes.
    val edges = symmetricEdges(docs, partitionKey = "dst")
    var labels = Layout.iterated(docs.select(col("doc_id").as("node"))
      .withColumn("lab", col("node")))
    for (_ <- 1 to rounds) {
      val viaN = edges
        .join(labels.withColumnRenamed("node", "dst")
          .withColumnRenamed("lab", "nl"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min("nl").as("nlab"))
      labels = Layout.iterated(labels
        .join(viaN, Seq("node"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab")))
    }
    val seed = labels
    // cached + eagerly filled: deg appears in EVERY rescore's dsum and
    // every phase's own/moves — uncached it re-ran its aggregate
    // (scan + exchange) inside each of the ~13 eager actions (r19,
    // the JobProbe job-count diet)
    val deg = graft.CacheScope.cached(
      edges.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg")))
    deg.count()
    // m as ONE driver long (bounded: a count), not a 1-row relation —
    // the broadcast-exchange + aggregate pair it cost per referencing
    // plan was ~2 jobs in each of ~10 plans (r19 job-count diet); the
    // oracle's integer arithmetic is unchanged
    val mVal = edges.agg((count(lit(1)) / 2).cast("long").as("m"))
      .head().getLong(0)

    // per-community q_num terms of a labeling — shared by the final
    // scoring and by the per-phase monotonicity guard
    def perQc(ls: DataFrame): DataFrame = {
      val labeled = edges
        .join(ls.select(col("node").as("src"), col("lab").as("ls")), "src")
        .join(ls.select(col("node").as("dst"), col("lab").as("ld")), "dst")
      val intra = labeled.filter(col("ls") === col("ld"))
        .groupBy(col("ls").as("c")).agg(count(lit(1)).as("e2"))
      val dsum = ls.join(deg, "node")
        .groupBy(col("lab").as("c")).agg(sum("deg").as("dc"))
      dsum.join(intra, Seq("c"), "left")
        .select((lit(2L * mVal) * coalesce(col("e2"), lit(0L))
          - col("dc") * col("dc")).as("qc"))
    }
    // exact integer Q numerator as ONE driver long (a 1-row aggregate
    // — bounded metadata, never data rows). Empty relation (edgeless
    // corpus) coerces to 0 — the oracle's gate sums COALESCE to 0 for
    // the same reason, else its NULL >= NULL gate rejects every phase
    // while this side accepts them.
    def qNumOf(ls: DataFrame): Long = {
      val r = perQc(ls).agg(sum("qc")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

    var refined = seed
    var qPrev = if (guard) qNumOf(seed) else 0L
    var rejected = 0L
    for (k <- 0 until phases) {
      val sigma = refined.join(deg, "node")
        .groupBy(col("lab").as("c")).agg(sum("deg").as("sig"))
      // gains are only evaluated for this phase's color class, so the
      // |E| neighbor-community join probes only color-k sources (the
      // full edge relation stays cached; this is a 1/phases slice)
      val kic = edges
        .filter(pmod(col("src"), lit(phases.toLong)) === k.toLong)
        .join(refined.select(col("node").as("dst"), col("lab").as("c")),
          "dst")
        .groupBy(col("src").as("node"), col("c"))
        .agg(count(lit(1)).as("kic"))
      val own = refined
        .filter(pmod(col("node"), lit(phases.toLong)) === k.toLong)
        .select(col("node"), col("lab").as("a"))
        .join(deg, "node")
      val kia = own
        .join(kic.toDF("node", "a", "kia"), Seq("node", "a"), "left")
        .select(col("node"), coalesce(col("kia"), lit(0L)).as("kia"))
      val moves = kic
        .join(own, "node")
        .filter(col("c") =!= col("a"))
        .join(kia, "node")
        .join(sigma.toDF("a", "sig_a"), "a")
        .join(sigma.toDF("c", "sig_b"), "c")
        .select(col("node"), col("c"),
          (lit(4L * mVal) * (col("kic") - col("kia"))
            - lit(2L) * col("deg")
              * (col("sig_b") - (col("sig_a") - col("deg")))).as("gain"))
        .filter(col("gain") > 0L)
        .groupBy("node")
        // best gain, ties to the SMALLER community label: max of
        // (gain, -c) — a partial-aggregating shape, no per-node window
        .agg(max(struct(col("gain"), (-col("c")).as("negc"))).as("best"))
        .select(col("node"), (-col("best.negc")).as("moved"))
      val cand = Layout.iterated(refined.join(moves, Seq("node"), "left")
        .select(col("node"), coalesce(col("moved"), col("lab")).as("lab")))
      if (!guard) refined = cand
      else {
        // monotonicity guard: per-move gains are estimates against a
        // stale partition when same-residue neighbors move together,
        // so accept the phase only if the EXACT recomputed Q did not
        // drop. The comparison is on agreed integers, so the oracle
        // replays the identical accept/reject sequence.
        //
        // NEGATIVE RESULT #2 (r15, measurement-gated like the r14
        // delta-form gate): FUSING the checkpoint and rescore into one
        // job — candidate labeling cache()d instead of eagerly
        // localCheckpoint()ed, the rescore's action materializing the
        // cache — benched 508s vs 9.8s for this query at sf0.1
        // local[32], a 52x REGRESSION. A cache does not truncate
        // lineage: until its partitions land, the rescore's three scan
        // branches each recompute the candidate through the phase's
        // full nested pipeline (moves/kic/own/kia over the previous
        // phase's equally-lazy chain), compounding per phase — the
        // iterative-DataFrame rule. The two-job shape (eager O(|V|)
        // checkpoint, then the O(|E|) rescore) is the fast form;
        // do not re-attempt without a plan-level fix.
        val qCand = qNumOf(cand)
        if (qCand >= qPrev) { refined = cand; qPrev = qCand }
        else rejected += 1L
      }
    }

    def score(ls: DataFrame) =
      ls.agg(count_distinct(col("lab")).as("nc"))
        .crossJoin(perQc(ls).agg(sum("qc").as("qn")))
    score(labels).toDF("n_communities", "q_num")
      .crossJoin(score(refined).toDF("n_refined", "q_num_refined"))
      .select(col("n_communities"), col("n_refined"),
        col("q_num"), col("q_num_refined"),
        (col("q_num").cast("double") /
          lit(4.0 * mVal * mVal)).as("modularity"),
        (col("q_num_refined").cast("double") /
          lit(4.0 * mVal * mVal)).as("modularity_refined"),
        lit(rejected).as("n_rejected_phases"))
  }

  /** Oracle twin of [[louvainRefine]]: the seed rounds unrolled as in
    * [[modularitySql]], then each colored phase's gain table and
    * argmax move (row_number — the same total order as the
    * max-struct), and both partitions scored with the identical
    * integer arithmetic. Every phase relation is referenced several
    * times by the next — AS MATERIALIZED per the k-core lesson.
    */
  def louvainRefineSql: String = {
    val roundsSql = (1 to ModularityRounds).map { i =>
      val p = s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
         |  SELECT l.node, least(l.lab, COALESCE(x.nl, l.lab)) AS lab
         |  FROM $p l LEFT JOIN (
         |    SELECT ed.src AS node, min(p.lab) AS nl
         |    FROM ed JOIN $p p ON ed.dst = p.node GROUP BY ed.src) x
         |  ON l.node = x.node)""".stripMargin
    }.mkString(",\n")
    val seed = s"l$ModularityRounds"
    def scoreCtes(tag: String, rel: String): String =
      s"""intra$tag AS (SELECT a.lab AS c, count(*) AS e2
         |  FROM ed JOIN $rel a ON ed.src = a.node
         |          JOIN $rel b ON ed.dst = b.node
         |  WHERE a.lab = b.lab GROUP BY 1),
         |dsum$tag AS (SELECT l.lab AS c, CAST(sum(d.deg) AS BIGINT) AS dc
         |  FROM $rel l JOIN deg d ON l.node = d.node GROUP BY 1),
         |per$tag AS (SELECT 2 * mm.m * COALESCE(i.e2, 0) - dsum$tag.dc
         |    * dsum$tag.dc AS qc
         |  FROM dsum$tag LEFT JOIN intra$tag i USING (c), mm)""".stripMargin
    // phase k: gains and moves against prev, CANDIDATE partition,
    // exact rescoring of the candidate, and the monotonicity gate —
    // p$k is the candidate iff its integer Q did not drop below the
    // running accepted score `qprev` (qnp$k carries the accepted score
    // forward). Mirrors louvainRefineImpl's guard on agreed integers.
    def phaseCtes(k: Int, prev: String, qprev: String, cur: String): String =
      s"""sig$k AS MATERIALIZED (SELECT l.lab AS c,
         |    CAST(sum(d.deg) AS BIGINT) AS sig
         |  FROM $prev l JOIN deg d ON l.node = d.node GROUP BY 1),
         |kic$k AS MATERIALIZED (SELECT ed.src AS node, p.lab AS c,
         |    count(*) AS kic
         |  FROM ed JOIN $prev p ON ed.dst = p.node GROUP BY 1, 2),
         |own$k AS MATERIALIZED (SELECT l.node, l.lab AS a, d.deg
         |  FROM $prev l JOIN deg d ON l.node = d.node),
         |kia$k AS (SELECT o.node, COALESCE(kk.kic, 0) AS kia FROM own$k o
         |  LEFT JOIN kic$k kk ON kk.node = o.node AND kk.c = o.a),
         |g$k AS (SELECT kk.node, kk.c,
         |    4 * mm.m * (kk.kic - ka.kia)
         |      - 2 * o.deg * (sb.sig - (sa.sig - o.deg)) AS gain
         |  FROM kic$k kk JOIN own$k o ON kk.node = o.node
         |    JOIN kia$k ka ON ka.node = kk.node
         |    JOIN sig$k sa ON sa.c = o.a
         |    JOIN sig$k sb ON sb.c = kk.c, mm
         |  WHERE kk.c <> o.a AND kk.node % ${LouvainPhases} = $k),
         |mv$k AS (SELECT node, c FROM (
         |    SELECT node, c, row_number() OVER (PARTITION BY node
         |      ORDER BY gain DESC, c ASC) AS rk
         |    FROM g$k WHERE gain > 0) WHERE rk = 1),
         |cand$k AS MATERIALIZED (SELECT l.node,
         |    COALESCE(mv$k.c, l.lab) AS lab
         |  FROM $prev l LEFT JOIN mv$k ON l.node = mv$k.node),
         |${scoreCtes(s"c$k", s"cand$k")},
         |qc$k AS (SELECT CAST(COALESCE(sum(qc), 0) AS BIGINT) AS qn
       |    FROM perc$k),
         |acc$k AS (SELECT (SELECT qn FROM qc$k) >= (SELECT qn FROM $qprev)
         |    AS v),
         |qnp$k AS (SELECT CASE WHEN (SELECT v FROM acc$k)
         |    THEN (SELECT qn FROM qc$k) ELSE (SELECT qn FROM $qprev) END
         |    AS qn),
         |$cur AS MATERIALIZED (SELECT l.node,
         |    CASE WHEN (SELECT v FROM acc$k) THEN c.lab ELSE l.lab END
         |      AS lab
         |  FROM $prev l JOIN cand$k c ON l.node = c.node)""".stripMargin
    val phasesSql = (0 until LouvainPhases).map { k =>
      phaseCtes(k, if (k == 0) seed else s"p${k - 1}",
        if (k == 0) "qs" else s"qnp${k - 1}", s"p$k")
    }.mkString(",\n")
    val last = s"p${LouvainPhases - 1}"
    val rejectedSql = (0 until LouvainPhases)
      .map(k => s"CASE WHEN (SELECT v FROM acc$k) THEN 0 ELSE 1 END")
      .mkString(" + ")
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |l0 AS MATERIALIZED (SELECT doc_id AS node, doc_id AS lab
       |       FROM documents),
       |$roundsSql,
       |deg AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM ed),
       |${scoreCtes("s", seed)},
       |qs AS (SELECT CAST(COALESCE(sum(qc), 0) AS BIGINT) AS qn
       |    FROM pers),
       |$phasesSql,
       |${scoreCtes("r", last)}
       |SELECT
       |  (SELECT count(DISTINCT lab) FROM $seed) AS n_communities,
       |  (SELECT count(DISTINCT lab) FROM $last) AS n_refined,
       |  (SELECT qn FROM qs) AS q_num,
       |  (SELECT CAST(sum(qc) AS BIGINT) FROM perr) AS q_num_refined,
       |  (SELECT CAST(qn AS DOUBLE) FROM qs) /
       |    (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm)) AS modularity,
       |  (SELECT CAST(CAST(sum(qc) AS BIGINT) AS DOUBLE) FROM perr) /
       |    (4.0 * (SELECT m FROM mm) * (SELECT m FROM mm))
       |    AS modularity_refined,
       |  CAST($rejectedSql AS BIGINT) AS n_rejected_phases""".stripMargin
  }

  /** Link prediction by common-neighbor count (with the Jaccard
    * coefficient as the normalized score): for every NON-adjacent pair
    * within two hops, how many neighbors they share. The candidate
    * generator is the wedge join a-w-b restricted to centers with
    * degree <= `maxDeg` — the hub guard that bounds the fan-out at
    * maxDeg·|E| instead of max-degree² (the same df-cap discipline as
    * the dedup shingle joins; a celebrity hub's wedges are curation
    * noise anyway). Degrees in the Jaccard denominator stay UNCAPPED.
    * Integer evidence (cn, degrees) plus one IEEE division; top
    * `topK` by (cn desc, pair) — a total order.
    *
    * Scale: degree relation is one groupBy; the wedge join runs on the
    * cached symmetric edge relation partitioned by src (= the wedge
    * center key, so both join sides arrive co-partitioned); the
    * adjacency exclusion is one anti-join; topK is
    * TakeOrderedAndProject.
    */
  def linkPrediction(spark: SparkSession, docs: DataFrame,
      maxDeg: Int = 64, topK: Int = 100): DataFrame = {
    val edges = symmetricEdges(docs)
    val deg = edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
    val center = deg.filter(col("deg") <= maxDeg)
    val byCenter = edges.select(col("src").as("w"), col("dst").as("x"))
      .join(center.select(col("node").as("w")), "w")
    val cn = byCenter.select(col("w"), col("x").as("doc_a"))
      .join(byCenter.select(col("w"), col("x").as("doc_b")), "w")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("cn"))
    cn
      .join(edges.select(col("src").as("doc_a"), col("dst").as("doc_b")),
        Seq("doc_a", "doc_b"), "left_anti")
      .join(deg.select(col("node").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("node").as("doc_b"), col("deg").as("deg_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("cn"), col("deg_a"), col("deg_b"),
        (col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn"))).as("jaccard"))
      .orderBy(desc("cn"), col("doc_a"), col("doc_b"))
      .limit(topK)
  }

  /** Oracle twin of [[linkPrediction]]. */
  def linkPredictionSql(maxDeg: Int = 64, topK: Int = 100): String =
    s"""WITH $linkEdgesSql,
       |$symmetricEdgesSql,
       |deg AS (SELECT src AS node, count(*) AS deg FROM ed GROUP BY 1),
       |ctr AS (SELECT node FROM deg WHERE deg <= $maxDeg),
       |wed AS (SELECT e1.dst AS a, e2.dst AS b
       |        FROM ed e1 JOIN ed e2 ON e1.src = e2.src AND e1.dst < e2.dst
       |        JOIN ctr ON ctr.node = e1.src),
       |cns AS (SELECT a, b, count(*) AS cn FROM wed GROUP BY 1, 2),
       |cand AS (SELECT cns.* FROM cns WHERE NOT EXISTS
       |         (SELECT 1 FROM ed WHERE ed.src = cns.a AND ed.dst = cns.b))
       |SELECT a AS doc_a, b AS doc_b, cn, da.deg AS deg_a, db.deg AS deg_b,
       |  CAST(cn AS DOUBLE) / (da.deg + db.deg - cn) AS jaccard
       |FROM cand JOIN deg da ON da.node = a JOIN deg db ON db.node = b
       |ORDER BY cn DESC, doc_a, doc_b LIMIT $topK""".stripMargin
}
