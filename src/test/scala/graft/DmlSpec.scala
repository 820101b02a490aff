package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Dml, Mor, TableIO}

/** DELETE WHERE cost model: fully-covered files leave as metadata
  * (never opened), boundary files get targeted pos-deletes, untouched
  * files are never read; history preserved.
  */
class DmlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshTable(): String = {
    val r = java.nio.file.Files.createTempDirectory("graft-dml-").toString
    def fileDf(i: Int) = spark.range(i * 1000L, (i + 1) * 1000L).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"), lit(true).as("baz"))
    TableIO.createNamespace(r, "ns")
    TableIO.createTableIfNotExists(r, "ns", "t", fileDf(0).schema)
    TableIO.commit(r, "ns", "t", (0 until 5).map { i =>
      TableIO.writeExactFile(spark, r, "ns", "t",
        f"data/part-$i%05d.parquet", fileDf(i), "data", 1L,
        recordCount = 1000L,
        bounds = Map("bar" -> (i * 1000L, i * 1000L + 999L)))
    })
    r
  }

  test("deleteWhere drops covered files, pos-deletes boundaries only") {
    val root = freshTable()
    val dir = TableIO.tableDir(root, "ns", "t")
    val mtime = (i: Int) => java.nio.file.Files.getLastModifiedTime(
      dir.resolve(f"data/part-$i%05d.parquet"))
    val untouchedBefore = Seq(0, 4).map(mtime)

    val v = Dml.deleteWhere(spark, root, "ns", "t", "bar", 1500L, 3200L)
    assert(v == 2L)
    val m = TableIO.readManifest(root, "ns", "t")
    // file 2 ([2000,2999] fully inside) left the manifest; its bytes
    // remain for time travel
    assert(m.count(_.content == "data") == 4)
    assert(!m.exists(_.path == "data/part-00002.parquet"))
    assert(java.nio.file.Files.exists(dir.resolve("data/part-00002.parquet")))
    // 500 + 201 boundary rows pos-deleted
    assert(m.filter(_.content == "pos_delete").map(_.recordCount).sum == 701L)
    // untouched files' bytes never rewritten
    assert(Seq(0, 4).map(mtime) == untouchedBefore)
    // result = exact complement; history intact
    val left = Mor.read(spark, root, "ns", "t")
    assert(left.count() == 3299L)
    assert(left.filter(col("bar").between(1500, 3200)).count() == 0L)
    assert(Mor.readAt(spark, root, "ns", "t", 1L).count() == 5000L)
    // no-op range commits nothing
    assert(Dml.deleteWhere(spark, root, "ns", "t", "bar", 90000L, 99000L) == 2L)
  }

  /** The (file_path, pos) rows of a position-delete file in the order
    * they are stored, by `_metadata.row_index`. */
  private def storedOrder(path: java.nio.file.Path): Seq[(String, Long)] =
    spark.read.parquet(path.toString)
      .select(col("file_path"), col("pos"), col("_metadata.row_index").as("i"))
      .collect().toSeq.sortBy(_.getLong(2))
      .map(r => (r.getString(0), r.getLong(1)))

  test("position-delete files are stored in (file_path, pos) order") {
    val root = freshTable()
    val dir = TableIO.tableDir(root, "ns", "t")
    // rows in descending order, spread over four partitions
    val unsorted = spark.range(0, 40).select(
      format_string("data/part-%05d.parquet", (lit(4) - col("id") % 5).cast("int"))
        .as("file_path"),
      (lit(999L) - col("id")).as("pos")).repartition(4)
    val e = TableIO.writeExactFile(spark, root, "ns", "t",
      "deletes/pos-unsorted.parquet", unsorted, "pos_delete", 2L)
    val direct = storedOrder(dir.resolve(e.path))
    assert(e.recordCount == 40L && direct.size == 40)
    assert(direct == direct.sorted)
    // deleteWhere's file over two boundary files
    Dml.deleteWhere(spark, root, "ns", "t", "bar", 1500L, 3200L)
    val dml = TableIO.readManifest(root, "ns", "t")
      .filter(e => e.content == "pos_delete" && e.path.contains("-dml-"))
    assert(dml.size == 1)
    val rows = storedOrder(dir.resolve(dml.head.path))
    assert(rows.size == 701 && rows == rows.sorted)
    assert(rows.map(_._1).distinct ==
      Seq("data/part-00001.parquet", "data/part-00003.parquet"))
  }

  test("truncate publishes an empty snapshot; history stays readable") {
    val root = freshTable()
    val v = Dml.truncate(root, "ns", "t")
    assert(v == 2L)
    assert(Mor.read(spark, root, "ns", "t").count() == 0L)
    assert(Mor.readAt(spark, root, "ns", "t", 1L).count() == 5000L)
    // rollback undoes the truncate as pure metadata
    TableIO.rollback(root, "ns", "t", 1L)
    assert(Mor.read(spark, root, "ns", "t").count() == 5000L)
  }
}
