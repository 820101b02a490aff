package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{GraftFileIndex, Maintenance, TableIO}

/** Planner-integrated file skipping: ordinary df.filter predicates over
  * a GraftFileIndex scan consult manifest bounds inside listFiles — no
  * manual prune argument anywhere.
  */
class AutoPruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val root: String = {
    val root = java.nio.file.Files.createTempDirectory("graft-auto-").toString
    val df = spark.range(0, 5000).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", df.schema)
    val e = TableIO.writeExactFile(spark, root, "ns", "t",
      "data/part-00000.parquet", df, "data", seq = 1L, recordCount = 5000L)
    TableIO.commit(root, "ns", "t", Seq(e))
    // cluster on bar into 5 files of 1000 so bounds are tight
    Maintenance.compact(spark, root, "ns", "t", targetFileCount = 5,
      clusterBy = Seq("bar"))
    root
  }

  test("a pushed range filter skips files via manifest bounds") {
    val scan = GraftFileIndex.scan(spark, root, "ns", "t")
    val q = scan.filter(col("bar").between(1200, 1800)).select("foo", "bar")
    assert(OpenedFiles.count(q) == 1L)
    assert(q.count() == 601L)
  }

  test("a point lookup touches one file; unfiltered scan reads all") {
    val scan = GraftFileIndex.scan(spark, root, "ns", "t")
    assert(OpenedFiles.count(scan.filter(col("bar") === 4242)) == 1L)
    assert(scan.filter(col("bar") === 4242).head().getString(0) == "4242")
    assert(OpenedFiles.count(scan) == 5L)
    assert(scan.count() == 5000L)
  }

  test("an IN-list prunes to the union of its points' files") {
    val scan = GraftFileIndex.scan(spark, root, "ns", "t")
    // 3 values in 2 distinct 1000-wide files (of 5)
    val q = scan.filter(col("bar").isin(150, 180, 3300))
    assert(OpenedFiles.count(q) == 2L)
    assert(q.count() == 3L)
    // a larger list crosses Spark's InSet conversion threshold (10) —
    // the InSet form must prune identically
    val many = (1100 to 1150 by 5).toSeq // 11 values, all in one file
    val q2 = scan.filter(col("bar").isin(many: _*))
    assert(OpenedFiles.count(q2) == 1L)
    assert(q2.count() == many.size.toLong)
  }

  test("non-bounds predicates keep every file (superset rule)") {
    val scan = GraftFileIndex.scan(spark, root, "ns", "t")
    val q = scan.filter(col("foo") === "7") // no bounds on string col
    assert(OpenedFiles.count(q) == 5L)
    assert(q.count() == 1L)
  }

  test("an out-of-domain range scans zero files and returns empty") {
    val scan = GraftFileIndex.scan(spark, root, "ns", "t")
    val q = scan.filter(col("bar") > 999999)
    assert(q.count() == 0L)
    assert(OpenedFiles.count(q) == 0L)
  }
}
