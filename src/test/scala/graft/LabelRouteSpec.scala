package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.operators.PipelineOps

/** The two routes of min-label propagation give one answer: pairs under
  * the broadcast threshold run their rounds on the driver, larger ones
  * (here: a disabled threshold) run distributed. Every fixture must
  * match row for row and in its StructType, because the cluster index
  * creates its label table from that schema. PipelineOpsSpec runs
  * `dedupClusters` on the sf0.001 corpus through both routes.
  */
class LabelRouteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.getOption(Threshold)
    spark.conf.set(Threshold, v)
    try body finally prev.fold(spark.conf.unset(Threshold))(spark.conf.set(Threshold, _))
  }

  private def pairs(ps: (Long, Long)*): DataFrame = ps.toDF("doc_a", "doc_b")

  private def sorted(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.getLong(0))

  private def local(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    PlanNodes.collect(plan) { case l: LocalTableScanExec => l }.nonEmpty &&
      PlanNodes.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty
  }

  /** Both routes over one fixture: equal rows, equal schema, and the
    * default threshold really took the driver route. Returns the rows.
    */
  private def bothRoutes(p: DataFrame): Seq[Row] = {
    val driver = PipelineOps.labelPropagation(p)
    assert(local(driver), driver.queryExecution.executedPlan.toString)
    val (dist, distRows) = NoBroadcast(spark) {
      val d = PipelineOps.labelPropagation(p)
      (d, sorted(d))
    }
    assert(driver.schema == dist.schema)
    val rows = sorted(driver)
    assert(rows == distRows)
    // (the optimizer folds an empty input to a local relation on both)
    if (rows.nonEmpty) assert(!local(dist))
    rows
  }

  private def labels(rows: Seq[Row]): Map[Long, Long] =
    rows.map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a 6-node path keeps the radius-3 ball minimum, not the component") {
    val rows = bothRoutes(pairs((1, 2), (2, 3), (3, 4), (4, 5), (5, 6)))
    assert(labels(rows) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 2L, 6L -> 3L))
  }

  test("a star and two components label by their minimum") {
    val star = labels(bothRoutes(pairs((10, 1), (10, 2), (10, 3), (10, 4))))
    assert(star == (Seq(1L, 2L, 3L, 4L, 10L).map(_ -> 1L).toMap))
    val two = labels(bothRoutes(pairs((5, 3), (3, 9), (20, 11))))
    assert(two == Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 11L -> 11L, 20L -> 11L))
  }

  test("duplicate and reversed pairs change nothing") {
    val rows = bothRoutes(pairs((1, 2), (2, 1), (1, 2), (4, 3), (3, 4), (2, 4)))
    assert(labels(rows) == Seq(1L, 2L, 3L, 4L).map(_ -> 1L).toMap)
  }

  test("an empty pair set gives no labels on either route") {
    assert(bothRoutes(pairs()).isEmpty)
  }

  test("nullable pair columns give a nullable doc_id on both routes") {
    val schema = StructType(Seq(StructField("doc_a", LongType, nullable = true),
      StructField("doc_b", LongType, nullable = true)))
    val p = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, 2L), Row(2L, 3L)), schema)
    assert(labels(bothRoutes(p)) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(PipelineOps.labelPropagation(p).schema("doc_id").nullable)
  }

  test("pairs over the threshold take the distributed route") {
    // 32 bytes at 16 per pair: a bound of 2 pairs, and this set has 3
    val p = pairs((1, 2), (2, 3), (3, 4))
    val over = withThreshold("32")(PipelineOps.labelPropagation(p))
    assert(!local(over))
    assert(labels(sorted(over)) == Seq(1L, 2L, 3L, 4L).map(_ -> 1L).toMap)
  }
}
