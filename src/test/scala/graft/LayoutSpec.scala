package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the r19 layout properties behind each [[Layout]] intent, and
  * that the operators make no layout decision outside it.
  */
class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def narrow(s: org.apache.spark.sql.SparkSession) =
    s.range(0, 200).select((col("id") % 17).as("k"), col("id"))

  test("expand keeps spark.sql.shuffle.partitions reduce tasks under AQE") {
    // a private session: the width under test is its own setting, and
    // the shared session's conf stays untouched
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    assert(Layout.expand(narrow(s), col("k")).rdd.getNumPartitions == 8)
    // the control: AQE coalesces a plain keyed repartition of the same
    // tiny input, so an expand that lost its pinned width fails above
    assert(narrow(s).repartition(col("k")).rdd.getNumPartitions < 8)
  }

  test("iterated returns a leaf plan with the same rows") {
    val df = narrow(spark)
    for (it <- Seq(Layout.iterated(df), Layout.iterated(df, col("k")))) {
      assert(it.queryExecution.logical.isInstanceOf[LogicalRDD],
        it.queryExecution.logical.getClass.getName)
      assert(it.exceptAll(df).isEmpty && df.exceptAll(it).isEmpty)
    }
  }

  test("local returns a driver-local relation with the same rows") {
    val df = narrow(spark)
    val loc = Layout.local(df)
    assert(loc.queryExecution.logical.isInstanceOf[LocalRelation],
      loc.queryExecution.logical.getClass.getName)
    assert(loc.exceptAll(df).isEmpty && df.exceptAll(loc).isEmpty)
  }

  test("single is one partition, and its cache drains") {
    CacheScope.drain()
    spark.catalog.clearCache()
    val one = Layout.single(narrow(spark).repartition(4, col("k")))
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 200)
    assert(CacheScope.pendingCount > 0)
    CacheScope.drain()
    assert(CacheScope.pendingCount == 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "a drained session must hold zero cached plans")
  }

  test("operators make no layout decision outside Layout") {
    val banned = ("localCheckpoint|\\.cache\\(\\)|coalesce\\(1\\)|" +
      "repartition\\(1\\)|wideRepartition|localizedSmall|" +
      "cachedSizeAdaptive").r
    val dir = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(dir), s"run from the repository root: $dir")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty)
    val hits = files.flatMap { f =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if {
            val t = line.trim
            val code = if (t.startsWith("*") || t.startsWith("/*")) ""
              else t.split("//", 2)(0)
            banned.findFirstIn(code).isDefined
          } => s"${f.getFileName}:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
