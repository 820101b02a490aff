package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Mor, TableIO, Upsert}

/** Upsert chaining and sequence gating: each upsert's equality delete
  * outranks every EARLIER snapshot's rows (strict data_seq < delete_seq)
  * but never its own data file or later commits.
  */
class UpsertSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkTable(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft-upsert-").toString
    val df = spark.range(0, 100).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", df.schema)
    val e = TableIO.writeExactFile(spark, root, "ns", "t",
      "data/part-00000.parquet", df, "data", seq = 1L, recordCount = 100L)
    TableIO.commit(root, "ns", "t", Seq(e))
    root
  }

  private def up(root: String, lo: Long, hi: Long, tag: String) = {
    val df = spark.range(lo, hi).select(
      concat(lit(tag), col("id").cast("string")).as("foo"),
      col("id").cast("int").as("bar"),
      lit(false).as("baz"))
    Upsert.upsert(spark, root, "ns", "t", df, keyCols = Seq("bar"))
  }

  test("upsert replaces matched keys and inserts new ones atomically") {
    val root = mkTable()
    val v = up(root, 90, 110, "a") // updates 90-99, inserts 100-109
    assert(v == 2L)
    val got = Mor.read(spark, root, "ns", "t").orderBy("bar").collect()
    assert(got.length == 110)
    assert(got(89).getString(0) == "89" && got(89).getBoolean(2))
    (90 until 110).foreach { i =>
      assert(got(i).getString(0) == s"a$i" && !got(i).getBoolean(2))
    }
  }

  test("chained upserts: the later one wins on overlapping keys") {
    val root = mkTable()
    up(root, 90, 110, "a")
    up(root, 100, 120, "b") // overrides a100-a109, inserts 110-119
    val got = Mor.read(spark, root, "ns", "t").orderBy("bar").collect()
    assert(got.length == 120)
    (90 until 100).foreach(i => assert(got(i).getString(0) == s"a$i"))
    (100 until 120).foreach(i => assert(got(i).getString(0) == s"b$i"))
  }

  test("time travel sees the pre-upsert snapshot unchanged") {
    val root = mkTable()
    up(root, 0, 50, "a")
    val before = Mor.readAt(spark, root, "ns", "t", 1L).orderBy("bar").collect()
    assert(before.length == 100 && before.forall(_.getBoolean(2)))
    val after = Mor.read(spark, root, "ns", "t").collect()
    assert(after.count(!_.getBoolean(2)) == 50)
  }

  test("an upsert after a rollback leaves the rolled-back version readable") {
    val root = mkTable()
    val v = up(root, 0, 10, "a")
    val first = Mor.readAt(spark, root, "ns", "t", v).orderBy("bar").collect()
    assert(first.count(!_.getBoolean(2)) == 10)
    // the next upsert plans at the same sequence number as the first
    TableIO.rollback(root, "ns", "t", 1L)
    up(root, 50, 60, "b")
    assert(Mor.readAt(spark, root, "ns", "t", v).orderBy("bar").collect()
      .toSeq == first.toSeq)
  }
}
