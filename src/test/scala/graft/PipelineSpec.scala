package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Mor, Pipeline, TableIO}
import graft.sources.{FileConfig, FixSchemaGen, GenConfig}

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = LocalSession.builder(cores = 4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Write-path + MOR-read invariants derived from the reference semantics
  * (SURVEY.md §5: closed-form oracle `max(0, N-P-E)`, sorted pos-deletes,
  * projected eq-deletes, cursor-exhaustion edge).
  */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def run(cfg: GenConfig): (String, GenConfig) = {
    val root = Files.createTempDirectory("graft-test-").toString
    Pipeline.prepare(spark, root, cfg)
    (root, cfg)
  }

  private def cfg(n: (Long, Int), p: (Long, Int), e: (Long, Int)) = GenConfig(
    "ns", "t", FileConfig(n._1, n._2), FileConfig(p._1, p._2), FileConfig(e._1, e._2))

  test("reference default: MOR count == 5000 - 2000 - 2000") {
    val (root, c) = run(cfg((100, 5), (100, 2), (100, 2)))
    assert(Mor.mergedCount(spark, root, "ns", "t") == 100L)
    assert(c.expectedSurvivingRows == 100L)
  }

  test("surviving rows are exactly [P+E, N) with reference values") {
    val (root, _) = run(cfg((50, 4), (50, 1), (50, 1)))
    val rows = Mor.read(spark, root, "ns", "t")
      .orderBy("bar").collect()
    assert(rows.length == 100)
    assert(rows.head.getInt(1) == 100 && rows.last.getInt(1) == 199)
    rows.foreach { r =>
      assert(r.getString(0) == r.getInt(1).toString) // foo == bar as string
      assert(r.getBoolean(2)) // baz constant true
    }
  }

  test("cursor exhaustion: deletes capped, count never negative") {
    // Reference would print a negative total here (main.rs:334-345 quirk);
    // this engine reports the true count 0.
    val (root, c) = run(cfg((10, 2), (10, 3), (10, 2)))
    assert(c.expectedSurvivingRows == 0L)
    assert(Mor.mergedCount(spark, root, "ns", "t") == 0L)
  }

  test("eq deletes past pos-delete cursor only") {
    // N=100, P=30, E=100 -> eq deletes capped to 70, surviving 0.
    val (root, c) = run(cfg((50, 2), (30, 1), (100, 1)))
    assert(c.actualPosDeletes == 30L && c.actualEqDeletes == 70L)
    assert(Mor.mergedCount(spark, root, "ns", "t") == 0L)
  }

  test("pos-delete files are sorted by (file_path, pos) and capped") {
    val (root, c) = run(cfg((40, 3), (25, 2), (0, 0)))
    val files = TableIO.filesOf(root, "ns", "t", "pos_delete")
    assert(files.size == 2) // 50 deletes / 25 per file
    files.foreach { case (path, _) =>
      val rows = spark.read.parquet(path)
        .select("file_path", "pos").collect()
        .map(r => (r.getString(0), r.getLong(1)))
      assert(rows.length <= 25)
      assert(rows.sameElements(rows.sortBy(identity)))
    }
  }

  test("eq-delete files carry only the equality-id columns (foo, bar)") {
    val (root, _) = run(cfg((40, 2), (10, 1), (30, 1)))
    val files = TableIO.filesOf(root, "ns", "t", "eq_delete")
    val df = spark.read.parquet(files.map(_._1): _*)
    assert(df.columns.toSeq == Seq("foo", "bar"))
    val keys = df.select("bar").collect().map(_.getInt(0)).sorted
    assert(keys.sameElements(10 until 40)) // keys [P, P+E)
  }

  test("three snapshots committed, sequence numbers 1/2/3") {
    val (root, _) = run(cfg((10, 2), (5, 1), (5, 1)))
    val m = TableIO.readManifest(root, "ns", "t")
    assert(m.filter(_.content == "data").forall(_.seq == 1L))
    assert(m.filter(_.content == "pos_delete").forall(_.seq == 2L))
    assert(m.filter(_.content == "eq_delete").forall(_.seq == 3L))
    assert(TableIO.currentVersion(root, "ns", "t") == 3L)
  }

  test("ddl lifecycle: create idempotent, drop removes") {
    val root = Files.createTempDirectory("graft-ddl-").toString
    TableIO.createNamespace(root, "ns")
    TableIO.createNamespace(root, "ns") // idempotent (reference D1 is not)
    TableIO.createTableIfNotExists(root, "ns", "t", FixSchemaGen.dataSchema)
    TableIO.createTableIfNotExists(root, "ns", "t", FixSchemaGen.dataSchema)
    assert(TableIO.tableExists(root, "ns", "t"))
    TableIO.dropTable(root, "ns", "t")
    assert(!TableIO.tableExists(root, "ns", "t"))
    TableIO.dropNamespace(root, "ns")
    assert(!TableIO.namespaceExists(root, "ns"))
  }

  test("toml config parses the reference shape") {
    val c = GenConfig.fromToml(
      """[table]
        |namespace = "my_ns"
        |table_name = "my_t"
        |[data_files]
        |rows_per_file = 1000
        |file_count = 5
        |[pos_delete_files]
        |rows_per_file = 1000
        |file_count = 2
        |[equality_delete_files]
        |rows_per_file = 1000
        |file_count = 2
        |""".stripMargin)
    assert(c == GenConfig.reference.copy(namespace = "my_ns", tableName = "my_t"))
  }
}

/** The two positional-delete strategies (broadcast bitmap vs anti-join)
  * must produce identical merged views.
  */
class DeleteStrategySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bitmap and anti-join pos-delete application agree") {
    val root = Files.createTempDirectory("graft-strat-").toString
    val cfg = GenConfig("ns", "t", FileConfig(40, 3),
      FileConfig(30, 2), FileConfig(25, 1))
    Pipeline.prepare(spark, root, cfg)
    val viaBitmap = Mor.read(spark, root, "ns", "t")
      .orderBy("bar").collect().map(_.toSeq)
    val viaJoin = Mor.read(spark, root, "ns", "t", bitmapThreshold = 0L)
      .orderBy("bar").collect().map(_.toSeq)
    assert(viaBitmap.length == cfg.expectedSurvivingRows)
    assert(viaBitmap.sameElements(viaJoin))
  }
}

/** Writer properties (the reference's WriterProperties surface): codec
  * and row-group size must actually reach the parquet files.
  */
class WriterPropsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def footer(p: java.nio.file.Path) = {
    import org.apache.hadoop.fs.{Path => HPath}
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new HPath(p.toString),
      spark.sparkContext.hadoopConfiguration)
    val r = ParquetFileReader.open(in)
    try r.getFooter finally r.close()
  }

  test("compression codec and row-group size reach the files") {
    import graft.plans.WriterProps
    import graft.sources.FixSchemaGenerator
    val root = Files.createTempDirectory("graft-props-").toString
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", FixSchemaGen.dataSchema)
    val df = FixSchemaGenerator.dataFile(spark, 0, 50000)

    val gz = TableIO.writeExactFile(spark, root, "ns", "t",
      "data/gz.parquet", df, "data", 1L, 50000,
      WriterProps(compression = "gzip"))
    val un = TableIO.writeExactFile(spark, root, "ns", "t",
      "data/un.parquet", df, "data", 1L, 50000,
      WriterProps(compression = "uncompressed"))
    val dir = TableIO.tableDir(root, "ns", "t")
    val gzBytes = Files.size(dir.resolve("data/gz.parquet"))
    val unBytes = Files.size(dir.resolve("data/un.parquet"))
    assert(gzBytes < unBytes, s"gzip $gzBytes !< uncompressed $unBytes")
    val codecs = footer(dir.resolve("data/gz.parquet")).getBlocks.get(0)
      .getColumns.get(0).getCodec.toString
    assert(codecs == "GZIP")

    // a 64 KB row-group cap must split 50k rows into multiple groups
    TableIO.writeExactFile(spark, root, "ns", "t",
      "data/small-rg.parquet", df, "data", 1L, 50000,
      WriterProps(rowGroupBytes = 64L << 10, pageBytes = 16L << 10))
    val nGroups = footer(dir.resolve("data/small-rg.parquet")).getBlocks.size()
    assert(nGroups > 1, s"expected multiple row groups, got $nGroups")

    // contents identical regardless of writer properties
    val a = spark.read.parquet(dir.resolve("data/gz.parquet").toString)
    val b = spark.read.parquet(dir.resolve("data/un.parquet").toString)
    assert(a.orderBy("bar").collect().sameElements(b.orderBy("bar").collect()))
    assert(gz.recordCount == un.recordCount)
  }
}
