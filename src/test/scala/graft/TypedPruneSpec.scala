package graft

import java.io.FileNotFoundException
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.plans.{GraftFileIndex, Mor, PartitionSpec, Partitioning, TableIO}

/** File skipping reads each pushed predicate with its data types: a
  * timestamp literal is compared in the epoch seconds the bounds hold,
  * a cast the bounds or blooms cannot answer keeps every file, and an
  * equality on a bucket spec's source column opens one bucket. Every
  * pruned answer equals the unpruned parquet read.
  */
class TypedPruneSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** day(ts) table over 1969-12-30 .. 1970-01-03: one file per day, 48
    * rows a day at half-hour steps plus a quarter second.
    */
  private lazy val dayRoot: String = {
    val root = Files.createTempDirectory("graft-typed-").toString
    val df = spark.range(0, 240).select(
      expr("timestamp_micros((id * 1800 - 172800) * 1000000 + 250000)").as("ts"),
      col("id"))
    Partitioning.preparePartitioned(spark, root, "ns", "ev", df,
      PartitionSpec("day", "ts"))
    root
  }

  private def unpruned(root: String, table: String): DataFrame =
    spark.read.parquet(TableIO.filesOf(root, "ns", table, "data").map(_._1): _*)

  private def rows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  /** The predicates among `predicates` whose answer on `read` differs
    * from the unpruned one (each must match some row).
    */
  private def wrongAnswers(read: DataFrame, table: String, root: String,
      predicates: String*): Seq[String] = predicates.filterNot { p =>
    val expected = rows(unpruned(root, table).where(p))
    assert(expected.nonEmpty, s"$p matches no row")
    rows(read.where(p)) == expected
  }

  private def evRead: DataFrame = Mor.read(spark, dayRoot, "ns", "ev")

  test("a timestamp literal prunes by epoch seconds on every read path") {
    val p = "ts >= TIMESTAMP '1970-01-03'"
    spark.conf.set("spark.sql.catalog.gtp", "graft.plans.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtp.root", dayRoot)
    val wrong = Seq(
      "GraftFileIndex.scan" -> GraftFileIndex.scan(spark, dayRoot, "ns", "ev"),
      "Mor.read" -> evRead, "SQL" -> spark.table("gtp.ns.ev")).collect {
      case (path, read) if wrongAnswers(read, "ev", dayRoot, p).nonEmpty => path
    }
    assert(wrong.isEmpty, s"wrong answers through: ${wrong.mkString(", ")}")
    assert(OpenedFiles.count(evRead.where(p)) == 1)
  }

  test("sub-second timestamp comparisons keep every matching file") {
    val wrong = wrongAnswers(evRead, "ev", dayRoot,
      "ts < TIMESTAMP '1969-12-31 12:00:00.5'",
      "ts <= TIMESTAMP '1969-12-31 12:00:00.25'",
      "TIMESTAMP '1969-12-31 12:00:00.5' > ts",
      "ts > TIMESTAMP '1970-01-02 06:00:00.25'",
      "ts = TIMESTAMP '1970-01-02 06:00:00.25'")
    assert(wrong.isEmpty, s"wrong answers for: ${wrong.mkString("; ")}")
    assert(OpenedFiles.count(
      evRead.where("ts = TIMESTAMP '1970-01-02 06:00:00.25'")) == 1)
  }

  test("a date cast of a timestamp prunes to its day") {
    // the optimizer unwraps the cast into a timestamp range
    val p = "CAST(ts AS DATE) = DATE '1970-01-03'"
    assert(wrongAnswers(evRead, "ev", dayRoot, p).isEmpty)
    assert(OpenedFiles.count(evRead.where(p)) == 1)
  }

  test("a predicate the walker cannot translate keeps every file") {
    val mod = "id % 7 = 3"
    assert(wrongAnswers(evRead, "ev", dayRoot, mod).isEmpty)
    assert(OpenedFiles.count(evRead.where(mod)) == 5)
    // a cast of a bloom column must not probe the bloom: "00007" casts
    // to 7, but the bloom holds the string
    val root = Files.createTempDirectory("graft-typed-bloom-").toString
    def fileDf(i: Int) = spark.range(i * 10L, (i + 1) * 10L)
      .select(lpad(col("id").cast("string"), 5, "0").as("foo"), col("id"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "b", fileDf(0).schema)
    TableIO.commit(root, "ns", "b", (0 until 2).map { i =>
      TableIO.writeExactFile(spark, root, "ns", "b", f"data/part-$i%05d.parquet",
        fileDf(i), "data", 1L, recordCount = 10L,
        blooms = TableIO.bloomsOf(fileDf(i), Seq("foo"), 10L))
    })
    val read = Mor.read(spark, root, "ns", "b")
    val cast = "CAST(foo AS INT) = 7"
    assert(wrongAnswers(read, "b", root, cast).isEmpty)
    assert(OpenedFiles.count(read.where(cast)) == 2)
    // the bare column still probes: "00007" is in one file's bloom
    val bare = read.where("foo = '00007'")
    assert(bare.count() == 1L && OpenedFiles.count(bare) == 1)
  }

  test("SQL equality on a bucket source column opens one of four files") {
    val root = Files.createTempDirectory("graft-typed-bucket-").toString
    spark.conf.set("spark.sql.catalog.gtb", "graft.plans.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtb.root", root)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtb.ns")
    spark.sql(
      "CREATE TABLE gtb.ns.t (foo STRING, bar INT) PARTITIONED BY (bucket(4, bar))")
    spark.sql("INSERT INTO gtb.ns.t SELECT CAST(id AS STRING), CAST(id AS INT) " +
      "FROM range(0, 400)")
    assert(TableIO.filesOf(root, "ns", "t", "data").size == 4)
    val q = spark.sql("SELECT foo, bar FROM gtb.ns.t WHERE bar = 123")
    assert(OpenedFiles.count(q) == 1)
    assert(rows(q) == Seq(Row("123", 123)))
  }

  test("a manifest entry whose file is missing fails the read") {
    val root = Files.createTempDirectory("graft-typed-missing-").toString
    val df = spark.range(0, 10).select(col("id"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "m", df.schema)
    TableIO.commit(root, "ns", "m", (0 until 2).map { i =>
      TableIO.writeExactFile(spark, root, "ns", "m", f"data/part-$i%05d.parquet",
        df, "data", 1L, recordCount = 10L)
    })
    val pos = spark.createDataFrame(java.util.List.of(
      Row("data/part-00000.parquet", 0L)), Mor.PosDeleteSchema)
    TableIO.commit(root, "ns", "m", Seq(TableIO.writeExactFile(spark, root,
      "ns", "m", "deletes/pos-00000.parquet", pos, "pos_delete", 2L)))
    assert(Mor.read(spark, root, "ns", "m").count() == 19L)
    val dir = TableIO.tableDir(root, "ns", "m")
    Files.delete(dir.resolve("deletes/pos-00000.parquet"))
    val noDelete = intercept[FileNotFoundException](
      Mor.read(spark, root, "ns", "m").count())
    assert(noDelete.getMessage.contains("deletes/pos-00000.parquet"))
    Files.delete(dir.resolve("data/part-00001.parquet"))
    val noData = intercept[FileNotFoundException](
      Mor.read(spark, root, "ns", "m", asOfVersion = Some(1L)).count())
    assert(noData.getMessage.contains("data/part-00001.parquet"))
  }
}
