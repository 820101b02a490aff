package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Mor, Pipeline, TableIO}
import graft.sources.{FileConfig, GenConfig}

/** The bulk (single-job) phase-1 write path must produce files with
  * exactly the same content and manifest as the per-file path.
  */
class BulkWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bulk data write equals per-file write") {
    val cfg = GenConfig("ns", "t", FileConfig(100, 4),
      FileConfig(0, 0), FileConfig(0, 0))
    val rootA = Files.createTempDirectory("graft-bulk-a-").toString
    val rootB = Files.createTempDirectory("graft-bulk-b-").toString
    Pipeline.prepare(spark, rootA, cfg)
    Pipeline.prepareBulkData(spark, rootB, cfg)

    assert(TableIO.readManifest(rootA, "ns", "t") ==
      TableIO.readManifest(rootB, "ns", "t"))

    // identical per-file contents (path + row index + values)
    def snapshot(root: String) =
      Mor.scanWithProvenance(spark, root, "ns", "t")
        .select("_file", "_pos", "foo", "bar", "baz")
        .collect().map(_.toSeq).sortBy(_.toString)
    assert(snapshot(rootA).sameElements(snapshot(rootB)))
  }

  test("taggedData derives files from one range — no per-file union plan") {
    import graft.sources.{FixSchemaGenerator, WideSchemaGenerator}
    for (gen <- Seq(FixSchemaGenerator, WideSchemaGenerator)) {
      val plan = gen.taggedData(spark, 10000, 5L)
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("Union"), s"per-file union in plan:\n$plan")
    }
    val tagged = FixSchemaGenerator.taggedData(spark, 10000, 5L)
    assert(tagged.count() == 50000L)
    import org.apache.spark.sql.functions._
    val byFile = tagged.groupBy("_file").count()
      .agg(count(lit(1)), min("count"), max("count")).collect().head
    assert(byFile.getLong(0) == 10000L &&
      byFile.getLong(1) == 5L && byFile.getLong(2) == 5L)
  }

  test("bulk write handles a many-file config in one job") {
    val cfg = GenConfig("ns", "t", FileConfig(4, 500),
      FileConfig(0, 0), FileConfig(0, 0))
    val root = Files.createTempDirectory("graft-bulk-many-").toString
    val t0 = System.nanoTime()
    Pipeline.prepareBulkData(spark, root, cfg)
    info(f"500-file bulk write: ${(System.nanoTime() - t0) / 1e9}%.1fs")
    val m = TableIO.readManifest(root, "ns", "t")
    assert(m.count(_.content == "data") == 500)
    assert(Mor.read(spark, root, "ns", "t").count() == 2000L)
  }

  test("writeExactFile counts rows from the written file's footer") {
    import org.apache.spark.sql.functions._
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import graft.plans.WriterProps
    val root = Files.createTempDirectory("graft-footer-").toString
    def rows(n: Long) = spark.range(0L, n).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"))
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", rows(1).schema)
    val small = WriterProps(rowGroupBytes = 4096L, pageBytes = 1024L)
    for ((n, props) <- Seq((0L, WriterProps()), (1L, WriterProps()),
        (20000L, small))) {
      val e = TableIO.writeExactFile(spark, root, "ns", "t",
        s"data/n$n.parquet", rows(n), "data", 1L, props = props)
      assert(e.recordCount == n, s"$n rows")
      val file = new org.apache.hadoop.fs.Path(
        TableIO.tableDir(root, "ns", "t").resolve(e.path).toUri)
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file,
        spark.sparkContext.hadoopConfiguration))
      val groups = try reader.getFooter.getBlocks.size finally reader.close()
      if (n == 20000L) assert(groups > 1, "expected several row groups")
      assert(spark.read.parquet(file.toString).count() == n)
    }
  }
}
