package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Layout

/** K-minimum-values (KMV) sketches for distinct-count and corpus-overlap
  * estimation.
  *
  * At 100 TB, "how many distinct documents does each source contribute"
  * and "how much does corpus A overlap corpus B" are questions you want
  * answered WITHOUT a full `COUNT(DISTINCT)` shuffle or an exact
  * intersection join. A KMV sketch is the classic answer (Bar-Yossef et
  * al. 2002; the DataSketches "theta" family generalizes it): keep the K
  * smallest hash values of the set; the K-th smallest value v estimates
  * the cardinality as (K-1) / (v / 2^60). Sketches are trivially
  * mergeable (K smallest of the union of two sketches = sketch of the
  * union), so they compose across partitions, files, and days of
  * ingest — the per-group state is a constant 256 longs no matter how
  * many rows feed it.
  *
  * Everything here is deterministic and integer-valued until the final
  * division, so the DuckDB oracle replays the identical arithmetic:
  * the hash is the first 60 bits of md5 (both engines agree on md5 hex
  * and on 60-bit unsigned decoding), top-K selection is by exact
  * integer order, and the estimate divides two exactly-agreed numbers
  * (IEEE division of identical operands is bit-identical).
  *
  * Scale notes:
  *  - per-group top-K runs as a rank-limited window; Spark's
  *    WindowGroupLimit inserts a PARTIAL limit before the shuffle, so
  *    each map task forwards at most K rows per group — the shuffle
  *    carries sketches, not data.
  *  - the global top-K (overlap path) is TakeOrderedAndProject —
  *    per-partition partial top-K, then a constant-size merge.
  */
object Sketches {

  /** Sketch size. 256 gives ~1/sqrt(254) ≈ 6% relative standard error. */
  val K = 256

  /** First 60 bits of md5 as a non-negative long. 15 hex chars = 60
    * bits, comfortably inside both engines' exact 64-bit range
    * (DuckDB decodes the same value via CAST('0x'||… AS BIGINT)).
    */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** SQL-side twin of [[hash60]] for the DuckDB oracle. */
  def hash60Sql(e: String): String =
    s"CAST(concat('0x', substr(md5($e), 1, 15)) AS BIGINT)"

  /** Estimate column from (cnt, kth): when the group has fewer than K
    * distinct hashes the sketch IS the set (exact count); otherwise
    * (K-1) * 2^60 / kth. 255 * 2^60 is exactly representable as a
    * double (0xFF << 60), so the constant folds identically.
    */
  private def estCol(cnt: Column, kth: Column): Column =
    when(cnt < K, cnt.cast("double"))
      .otherwise(lit(255.0 * 1152921504606846976.0) / kth.cast("double"))

  private def estSql(cnt: String, kth: String): String =
    s"""CASE WHEN $cnt < $K THEN CAST($cnt AS DOUBLE)
       |ELSE (255.0 * 1152921504606846976.0) / CAST($kth AS DOUBLE) END""".stripMargin

  /** Per-group KMV distinct-count estimate over the hash of `valueCol`.
    * Returns one row per group: (group, n_sketch, kmv_kth, est_distinct).
    */
  def kmvDistinct(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val hashed = df
      .select(col(groupCol), hash60(valueCol).as("h"))
      .distinct() // KMV is a set sketch: duplicate values count once
    val w = Window.partitionBy(groupCol).orderBy("h")
    hashed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K) // WindowGroupLimit: partial top-K pre-shuffle
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_sketch"), max("h").as("kmv_kth"))
      .select(
        col(groupCol),
        col("n_sketch"),
        col("kmv_kth"),
        estCol(col("n_sketch"), col("kmv_kth")).as("est_distinct"))
  }

  /** Oracle twin of [[kmvDistinct]] over `documents.text` grouped by a
    * column expression.
    */
  def kmvDistinctSql(groupCol: String): String =
    s"""WITH h AS (SELECT DISTINCT $groupCol AS g, ${hash60Sql("text")} AS h
       |           FROM documents),
       |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
       |      FROM h),
       |s AS (SELECT g AS $groupCol, count(*) AS n_sketch, max(h) AS kmv_kth
       |      FROM r WHERE rn <= $K GROUP BY g)
       |SELECT $groupCol, n_sketch, kmv_kth,
       |  ${estSql("n_sketch", "kmv_kth")} AS est_distinct
       |FROM s""".stripMargin

  /** The per-group KMV state rows (g, h): the K smallest distinct
    * hashes per group — the CONSTANT-SIZE mergeable state everything
    * else derives from.
    */
  private def kmvStateRows(df: DataFrame, groupCol: String,
      valueCol: Column): DataFrame = {
    val w = Window.partitionBy("g").orderBy("h")
    df.select(col(groupCol).as("g"), hash60(valueCol).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("g", "h")
  }

  /** Persist the KMV state as a parquet table at `path`. */
  def buildKmvState(df: DataFrame, groupCol: String, valueCol: Column,
      path: String): Unit =
    kmvStateRows(df, groupCol, valueCol)
      .write.mode("overwrite").parquet(path)

  /** Fold NEWLY ARRIVED rows into a persisted KMV state — the
    * incremental-ingest path: by the KMV merge law, bottom-K of
    * (state ∪ new hashes) equals bottom-K of the full corpus, so the
    * refreshed state is BIT-IDENTICAL to a from-scratch rebuild (spec-
    * pinned) while touching only the delta. The merged state (≤ K rows
    * per group) is eagerly materialized before the overwrite so the
    * write never scans the files it replaces.
    */
  def refreshKmvState(spark: org.apache.spark.sql.SparkSession,
      newDf: DataFrame, groupCol: String, valueCol: Column,
      path: String): Unit = {
    val merged = spark.read.parquet(path)
      .union(kmvStateRows(newDf, groupCol, valueCol))
      .distinct()
    // re-take bottom-K directly on the hash rows (kmvStateRows would
    // re-hash — state rows are already hashes)
    val w = Window.partitionBy("g").orderBy("h")
    val folded = Layout.iterated(merged
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select("g", "h"))
    folded.write.mode("overwrite").parquet(path)
  }

  /** The [[kmvDistinct]] estimate read OFF a persisted state table —
    * output-identical to the direct operator over the same corpus
    * (shares its oracle).
    */
  def kmvEstimateFromState(spark: org.apache.spark.sql.SparkSession,
      path: String, groupCol: String): DataFrame =
    spark.read.parquet(path)
      .groupBy("g")
      .agg(count(lit(1)).as("n_sketch"), max("h").as("kmv_kth"))
      .select(col("g").as(groupCol), col("n_sketch"), col("kmv_kth"),
        estCol(col("n_sketch"), col("kmv_kth")).as("est_distinct"))

  /** HLL register count (2^6) and the rho cap. The cap matters for
    * cross-engine determinism, not accuracy: every 2^-rho correction
    * term then has at most 40 fractional bits, so with <= 64 terms plus
    * a <= 6-bit integer part every partial sum spans < 53 bits — the
    * double additions are EXACT and therefore order-free, which is what
    * lets a shuffle-order-agnostic Spark aggregation hash-match DuckDB.
    */
  val HllM = 64
  val HllRhoCap = 40

  /** alpha_m · m² for the HLL estimate. The 0.709 bias constant is the
    * published value FOR m=64 SPECIFICALLY (Flajolet et al. give
    * 0.7213/(1+1.079/m) only for m >= 128, with fixed constants below),
    * so changing [[HllM]] without revisiting alpha would silently skew
    * every estimate — hence the require. m is a power of two, so the
    * product is an exact double and its shortest decimal repr
    * round-trips bit-identically through DuckDB's literal parser.
    */
  val HllAlphaM2: Double = {
    require(HllM == 64, s"alpha 0.709 is only valid for m=64, got $HllM")
    0.709 * HllM * HllM
  }

  /** Per-group HyperLogLog distinct estimate NEXT TO the exact count —
    * the estimator-quality view of [[graft.operators.PipelineOps
    * .hllRegisters]]'s register sketch (which q_hll_sketch exposes
    * raw). Registers are per-(group, bucket) maxes of the trailing-zero
    * rank; the harmonic-mean estimate alpha*m^2 / sum(2^-r) evaluates
    * identically in both engines because every operand is an exact
    * dyadic rational (see [[HllRhoCap]]) and the one division is a
    * single IEEE op. At 100 TB the exact column is the thing you CAN'T
    * afford (a distinct-shuffle of every value); the register path
    * shuffles <= m rows per group.
    */
  def hllEstimate(df: DataFrame, groupCol: String, valueCol: Column): DataFrame =
    hllEstimateGrouped(df, Seq(groupCol), valueCol)

  /** [[hllEstimate]] over a COMPOUND group key — e.g. (hopping window,
    * event type): the register state stays m rows per group no matter
    * how the grouping is shaped, which is what lets the sketch compose
    * with windowed aggregations.
    */
  def hllEstimateGrouped(df: DataFrame, groupCols: Seq[String],
      valueCol: Column): DataFrame = {
    val gs = groupCols.map(col)
    val regs = df
      .select(gs :+ hash60(valueCol).as("h"): _*)
      .select(gs :+ pmod(col("h"), lit(HllM.toLong)).as("reg_bucket") :+
        expr(s"h div $HllM").as("h2"): _*)
      .select(gs :+ col("reg_bucket") :+
        when(col("h2") === 0L, lit(HllRhoCap))
          .otherwise(least(expr("CAST(log2(h2 & -h2) AS INT) + 1"),
            lit(HllRhoCap))).as("rho"): _*)
      .groupBy((groupCols :+ "reg_bucket").map(col): _*)
      .agg(max("rho").as("r"))
    val z = regs.groupBy(gs: _*).agg(
      (sum(lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE)"))
        + (lit(HllM) - count(lit(1))).cast("double")).as("z"))
    val exact = df.select(gs :+ valueCol.as("v"): _*)
      .groupBy(gs: _*).agg(count_distinct(col("v")).as("n_exact"))
    exact.join(z, groupCols)
      .select(gs :+ col("n_exact") :+
        (lit(HllAlphaM2) / col("z")).as("est_distinct"): _*)
      .orderBy(gs: _*)
  }

  /** Oracle twin of [[hllEstimate]] over `documents.text`. */
  def hllEstimateSql(groupCol: String): String =
    s"""WITH h AS (SELECT $groupCol AS g, ${hash60Sql("text")} AS h
       |           FROM documents),
       |rr AS (SELECT g, h % $HllM AS bucket, h // $HllM AS h2 FROM h),
       |regs AS (SELECT g, bucket,
       |    max(CASE WHEN h2 = 0 THEN $HllRhoCap
       |        ELSE least(CAST(log2(h2 & (-h2)) AS INT) + 1, $HllRhoCap)
       |        END) AS r
       |  FROM rr GROUP BY g, bucket),
       |z AS (SELECT g,
       |    sum(1.0 / CAST(CAST(1 AS BIGINT) << r AS DOUBLE))
       |      + CAST($HllM - count(*) AS DOUBLE) AS z
       |  FROM regs GROUP BY g),
       |ex AS (SELECT $groupCol AS g, count(DISTINCT text) AS n_exact
       |       FROM documents GROUP BY $groupCol)
       |SELECT ex.g AS $groupCol, n_exact, $HllAlphaM2 / z AS est_distinct
       |FROM ex JOIN z USING (g) ORDER BY $groupCol""".stripMargin

  /** HLL register vector (bucket → max rho) of one corpus — the
    * mergeable state behind [[hllEstimate]], exposed for the union
    * algebra below.
    */
  private def hllRegs(df: DataFrame, valueCol: String): DataFrame = df
    .select(hash60(col(valueCol)).as("h"))
    .select(pmod(col("h"), lit(HllM.toLong)).as("bucket"),
      expr(s"h div $HllM").as("h2"))
    .select(col("bucket"),
      when(col("h2") === 0L, lit(HllRhoCap))
        .otherwise(least(expr("CAST(log2(h2 & -h2) AS INT) + 1"),
          lit(HllRhoCap))).as("rho"))
    .groupBy("bucket").agg(max("rho").as("r"))

  /** The HLL estimate off a register relation, as a 1-row aggregate.
    * The z-sum's 1/2^r terms are dyadic-exact (r ≤ [[HllRhoCap]]), so
    * the double sum is order-free and engine-portable.
    */
  private def hllEstFromRegs(regs: DataFrame, name: String): DataFrame =
    regs.agg((lit(HllAlphaM2) /
      (sum(lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), r) AS DOUBLE)"))
        + (lit(HllM) - count(lit(1))).cast("double"))).as(name))

  /** HLL union across two corpora: per-side estimates, the estimate
    * off the MERGED register vector (per-bucket max — the property
    * that makes HLL a cluster aggregation: per-partition registers
    * merge losslessly, which raw distinct counts cannot), and the
    * inclusion-exclusion intersection implied by the three. Completes
    * the sketch set algebra next to [[kmvOverlap]]/[[kmvDifference]]:
    * neither corpus is ever joined against the other — all set logic
    * runs on two [[HllM]]-register vectors.
    */
  def hllUnion(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    // each side's registers feed BOTH its own estimate and the merge
    val ra = graft.CacheScope.cached(hllRegs(a, valueCol))
    val rb = graft.CacheScope.cached(hllRegs(b, valueCol))
    val ru = ra.union(rb).groupBy("bucket").agg(max("r").as("r"))
    hllEstFromRegs(ra, "est_a")
      .crossJoin(hllEstFromRegs(rb, "est_b"))
      .crossJoin(hllEstFromRegs(ru, "est_union"))
      .select(col("est_a"), col("est_b"), col("est_union"),
        (col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersection"))
  }

  /** Oracle twin of [[hllUnion]]: the identical register chain per
    * side, per-bucket max merge, same dyadic-exact estimates.
    */
  def hllUnionSql(predA: String, predB: String): String = {
    def regsSql(src: String): String =
      s"""SELECT h % $HllM AS bucket,
         |  max(CASE WHEN h // $HllM = 0 THEN $HllRhoCap
         |      ELSE least(CAST(log2((h // $HllM) & (-(h // $HllM)))
         |        AS INT) + 1, $HllRhoCap) END) AS r
         |FROM $src GROUP BY 1""".stripMargin
    def estSql(regs: String, name: String): String =
      s"""SELECT $HllAlphaM2 /
         |  (sum(1.0 / CAST(CAST(1 AS BIGINT) << r AS DOUBLE))
         |    + CAST($HllM - count(*) AS DOUBLE)) AS $name
         |FROM $regs""".stripMargin
    s"""WITH ha AS (SELECT ${hash60Sql("text")} AS h
       |            FROM documents WHERE $predA),
       |hb AS (SELECT ${hash60Sql("text")} AS h
       |       FROM documents WHERE $predB),
       |ra AS (${regsSql("ha")}),
       |rb AS (${regsSql("hb")}),
       |ru AS (SELECT bucket, max(r) AS r FROM
       |       (SELECT * FROM ra UNION ALL SELECT * FROM rb) GROUP BY 1),
       |ea AS (${estSql("ra", "est_a")}),
       |eb AS (${estSql("rb", "est_b")}),
       |eu AS (${estSql("ru", "est_union")})
       |SELECT est_a, est_b, est_union,
       |  est_a + est_b - est_union AS est_intersection
       |FROM ea, eb, eu""".stripMargin
  }

  /** KMV overlap estimate between two corpora: cardinality of each
    * side, of the union (merged sketch), the Jaccard estimate (shared
    * fraction of the union sketch), and the implied intersection size.
    * Returns ONE row. Neither corpus is ever joined against the other —
    * each contributes a 256-long sketch and all set logic happens on
    * the sketches.
    */
  def kmvOverlap(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    def sketch(df: DataFrame): DataFrame =
      df.select(hash60(col(valueCol)).as("h"))
        .distinct()
        .orderBy("h")
        .limit(K) // TakeOrderedAndProject: partial top-K per partition
    val sa = graft.CacheScope.cached(sketch(a))
    val sb = graft.CacheScope.cached(sketch(b))
    val su = graft.CacheScope.cached(
      sa.union(sb).distinct().orderBy("h").limit(K))
    val aggA = sa.agg(count(lit(1)).as("cnt_a"), max("h").as("kth_a"))
    val aggB = sb.agg(count(lit(1)).as("cnt_b"), max("h").as("kth_b"))
    val aggU = su.agg(count(lit(1)).as("cnt_u"), max("h").as("kth_u"))
    // union-sketch members present in BOTH side sketches -> Jaccard
    val shared = su
      .join(sa, "h")
      .join(sb, "h")
      .agg(count(lit(1)).as("n_shared"))
    aggU
      .crossJoin(aggA)
      .crossJoin(aggB)
      .crossJoin(shared)
      .select(
        estCol(col("cnt_a"), col("kth_a")).as("est_a"),
        estCol(col("cnt_b"), col("kth_b")).as("est_b"),
        estCol(col("cnt_u"), col("kth_u")).as("est_union"),
        (col("n_shared").cast("double") / col("cnt_u")).as("est_jaccard"),
        (col("n_shared").cast("double") / col("cnt_u") *
          estCol(col("cnt_u"), col("kth_u"))).as("est_intersection"))
  }

  /** KMV set-DIFFERENCE estimates, completing the sketch algebra
    * ([[kmvDistinct]] cardinality, [[kmvOverlap]] union/intersection):
    * |A \ B| and |B \ A| from the same three sketches, via the
    * union-sketch fraction whose members sit in exactly one side —
    * the same estimator family (fraction × union estimate), so every
    * arithmetic step is an agreed division of exact longs. Neither
    * corpus joins the other; set logic stays on 256-long sketches.
    */
  def kmvDifference(a: DataFrame, b: DataFrame,
      valueCol: String): DataFrame = {
    def sketch(df: DataFrame): DataFrame =
      df.select(hash60(col(valueCol)).as("h"))
        .distinct()
        .orderBy("h")
        .limit(K)
    val sa = graft.CacheScope.cached(sketch(a))
    val sb = graft.CacheScope.cached(sketch(b))
    val su = graft.CacheScope.cached(
      sa.union(sb).distinct().orderBy("h").limit(K))
    val aggU = su.agg(count(lit(1)).as("cnt_u"), max("h").as("kth_u"))
    val onlyA = su.join(sb, Seq("h"), "left_anti").join(sa, "h")
      .agg(count(lit(1)).as("n_only_a"))
    val onlyB = su.join(sa, Seq("h"), "left_anti").join(sb, "h")
      .agg(count(lit(1)).as("n_only_b"))
    aggU.crossJoin(onlyA).crossJoin(onlyB)
      .select(
        col("n_only_a"), col("n_only_b"),
        (col("n_only_a").cast("double") / col("cnt_u") *
          estCol(col("cnt_u"), col("kth_u"))).as("est_a_minus_b"),
        (col("n_only_b").cast("double") / col("cnt_u") *
          estCol(col("cnt_u"), col("kth_u"))).as("est_b_minus_a"))
  }

  /** Oracle twin of [[kmvDifference]]. */
  def kmvDifferenceSql(predA: String, predB: String): String =
    s"""WITH ha AS (SELECT DISTINCT ${hash60Sql("text")} AS h
       |            FROM documents WHERE $predA),
       |hb AS (SELECT DISTINCT ${hash60Sql("text")} AS h
       |       FROM documents WHERE $predB),
       |sa AS (SELECT h FROM ha ORDER BY h LIMIT $K),
       |sb AS (SELECT h FROM hb ORDER BY h LIMIT $K),
       |su AS (SELECT DISTINCT h
       |       FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
       |       ORDER BY h LIMIT $K),
       |au AS (SELECT count(*) AS cnt_u, max(h) AS kth_u FROM su),
       |oa AS (SELECT count(*) AS n_only_a FROM su
       |       WHERE h IN (SELECT h FROM sa)
       |         AND h NOT IN (SELECT h FROM sb)),
       |ob AS (SELECT count(*) AS n_only_b FROM su
       |       WHERE h IN (SELECT h FROM sb)
       |         AND h NOT IN (SELECT h FROM sa))
       |SELECT n_only_a, n_only_b,
       |  CAST(n_only_a AS DOUBLE) / cnt_u *
       |    (${estSql("cnt_u", "kth_u")}) AS est_a_minus_b,
       |  CAST(n_only_b AS DOUBLE) / cnt_u *
       |    (${estSql("cnt_u", "kth_u")}) AS est_b_minus_a
       |FROM au, oa, ob""".stripMargin

  /** Oracle twin of [[kmvOverlap]]: corpus A / corpus B are WHERE
    * predicates over `documents`.
    */
  def kmvOverlapSql(predA: String, predB: String): String =
    s"""WITH ha AS (SELECT DISTINCT ${hash60Sql("text")} AS h
       |            FROM documents WHERE $predA),
       |hb AS (SELECT DISTINCT ${hash60Sql("text")} AS h
       |       FROM documents WHERE $predB),
       |sa AS (SELECT h FROM ha ORDER BY h LIMIT $K),
       |sb AS (SELECT h FROM hb ORDER BY h LIMIT $K),
       |su AS (SELECT DISTINCT h
       |       FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
       |       ORDER BY h LIMIT $K),
       |aa AS (SELECT count(*) AS cnt_a, max(h) AS kth_a FROM sa),
       |ab AS (SELECT count(*) AS cnt_b, max(h) AS kth_b FROM sb),
       |au AS (SELECT count(*) AS cnt_u, max(h) AS kth_u FROM su),
       |sh AS (SELECT count(*) AS n_shared FROM su
       |       WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb))
       |SELECT
       |  ${estSql("cnt_a", "kth_a")} AS est_a,
       |  ${estSql("cnt_b", "kth_b")} AS est_b,
       |  ${estSql("cnt_u", "kth_u")} AS est_union,
       |  CAST(n_shared AS DOUBLE) / cnt_u AS est_jaccard,
       |  CAST(n_shared AS DOUBLE) / cnt_u *
       |    (${estSql("cnt_u", "kth_u")}) AS est_intersection
       |FROM au, aa, ab, sh""".stripMargin

  /** Quantile-sketch sample size. 128 gives standard error
    * ~sqrt(q(1-q)/128) on the rank (≈4.4% at the median).
    */
  val QK = 128

  /** Mergeable quantile sketch: the per-group state is the bottom-[[QK]]
    * rows BY HASH OF THE ROW KEY — a deterministic uniform sample with
    * the same merge law as KMV (bottom-K of a union = bottom-K of the
    * union of bottom-Ks), so per-partition/per-day sketches compose and
    * the distributed-aggregation state is a constant 2·K longs per
    * group no matter how many rows feed it. Quantiles are then POSITIONAL
    * order statistics of the sample: the value at rank ceil(n·q),
    * computed in pure integer arithmetic ((n·100q + 100q-ish ceil) so
    * both engines select the identical element — no interpolation, no
    * float rank math. This completes the sketch family's "every
    * aggregation is mergeable constant-state" story alongside
    * KMV-distinct and HLL.
    *
    * Output: (group, n_rows, n_sample, p50_est, p95_est, p50_exact).
    * The exact column is the estimator-quality view for the small-SF
    * gate; at 100 TB it is the thing you CANNOT afford (a FULL
    * per-group rank — with few groups that is a handful of reducers
    * each sorting millions of rows; the 20M-event smoke measures the
    * sketch path at ~3s and the exact companion at ~35s) — pass
    * `withExact = false` to keep only the sketch path, whose
    * WindowGroupLimit forwards ≤ K rows per group per map task.
    */
  def quantileSketch(df: DataFrame, groupCol: String, keyCol: Column,
      valueCol: Column, withExact: Boolean = true): DataFrame = {
    val hashed = hashKeyed(df, groupCol, keyCol, valueCol)
    assembleQuantiles(hashed, bottomQK(hashed), groupCol, withExact)
  }

  /** Same-answer DISTRIBUTED twin of [[quantileSketch]]: splits the
    * corpus in two by hash parity, sketches each half independently,
    * MERGES the half-sketches (union → re-take bottom-K), and reads
    * the quantiles off the merged sample. Because bottom-K-by-hash of
    * a union equals bottom-K of the union of bottom-Ks, the result is
    * IDENTICAL to the one-shot sketch — the query shares
    * [[quantileSketchSql]] as its oracle (the salted-join /
    * MV-rewrite same-answer pattern). This is literally how the
    * sketch aggregates on a cluster: per-partition (here: per-half)
    * states merge associatively.
    */
  def quantileSketchMerged(df: DataFrame, groupCol: String,
      keyCol: Column, valueCol: Column): DataFrame = {
    val hashed = hashKeyed(df, groupCol, keyCol, valueCol)
    val merged = bottomQK(
      bottomQK(hashed.filter(pmod(col("h"), lit(2)) === 0))
        .union(bottomQK(hashed.filter(pmod(col("h"), lit(2)) === 1))))
    assembleQuantiles(hashed, merged, groupCol, withExact = true)
  }

  private def hashKeyed(df: DataFrame, groupCol: String, keyCol: Column,
      valueCol: Column): DataFrame =
    df.select(col(groupCol).as("g"),
      hash60(keyCol.cast("string")).as("h"), valueCol.as("v"))

  /** Bottom-[[QK]] rows by hash per group: WindowGroupLimit forwards
    * ≤ K rows per group per map task before the shuffle.
    */
  private def bottomQK(hashed: DataFrame): DataFrame = {
    val wSel = Window.partitionBy("g").orderBy(col("h"), col("v"))
    hashed.withColumn("rn", row_number().over(wSel))
      .filter(col("rn") <= QK)
      .select("g", "h", "v")
  }

  private def assembleQuantiles(hashed: DataFrame, sample: DataFrame,
      groupCol: String, withExact: Boolean): DataFrame = {
    val wRank = Window.partitionBy("g").orderBy(col("v"), col("h"))
    val est = sample
      .withColumn("rv", row_number().over(wRank))
      .withColumn("ns", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("g")
      .agg(
        max("ns").as("n_sample"),
        max(when(expr("rv = (ns + 1) div 2"), col("v"))).as("p50_est"),
        max(when(expr("rv = (ns * 95 + 99) div 100"), col("v")))
          .as("p95_est"))
    if (!withExact)
      return est.select(col("g").as(groupCol), col("n_sample"),
        col("p50_est"), col("p95_est")).orderBy(groupCol)
    val exact = hashed
      .withColumn("rf", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("g")))
      .groupBy("g")
      .agg(max("n").as("n_rows"),
        max(when(expr("rf = (n + 1) div 2"), col("v"))).as("p50_exact"))
    est.join(exact, "g")
      .select(col("g").as(groupCol), col("n_rows"), col("n_sample"),
        col("p50_est"), col("p95_est"), col("p50_exact"))
      .orderBy(groupCol)
  }

  /** Oracle twin of [[quantileSketch]] over
    * `orders(o_orderpriority, o_orderkey, o_totalprice)`.
    */
  def quantileSketchSql: String =
    s"""WITH h AS (SELECT o_orderpriority AS g,
       |    ${hash60Sql("CAST(o_orderkey AS VARCHAR)")} AS h,
       |    o_totalprice AS v FROM orders),
       |r AS (SELECT g, h, v,
       |    row_number() OVER (PARTITION BY g ORDER BY h, v) AS rn
       |  FROM h),
       |s AS (SELECT g, h, v FROM r WHERE rn <= $QK),
       |rv AS (SELECT g, v,
       |    row_number() OVER (PARTITION BY g ORDER BY v, h) AS rv,
       |    count(*) OVER (PARTITION BY g) AS ns FROM s),
       |est AS (SELECT g, max(ns) AS n_sample,
       |    max(CASE WHEN rv = (ns + 1) // 2 THEN v END) AS p50_est,
       |    max(CASE WHEN rv = (ns * 95 + 99) // 100 THEN v END)
       |      AS p95_est
       |  FROM rv GROUP BY g),
       |fx AS (SELECT g, v,
       |    row_number() OVER (PARTITION BY g ORDER BY v, h) AS rf,
       |    count(*) OVER (PARTITION BY g) AS n FROM h),
       |ex AS (SELECT g, max(n) AS n_rows,
       |    max(CASE WHEN rf = (n + 1) // 2 THEN v END) AS p50_exact
       |  FROM fx GROUP BY g)
       |SELECT est.g AS o_orderpriority, n_rows, n_sample,
       |  p50_est, p95_est, p50_exact
       |FROM est JOIN ex USING (g) ORDER BY o_orderpriority""".stripMargin
}
