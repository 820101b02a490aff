package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Bloom, Mor, TableIO}

/** Bloom-filter file skipping: point lookups prune files whose bloom
  * proves the value absent; probes are deterministic, never produce a
  * false negative, and files without a bloom are always kept.
  */
class BloomSkipSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nFiles = 8
  private lazy val root = {
    val r = java.nio.file.Files.createTempDirectory("graft-bloom-").toString
    def fileDf(i: Int) = spark.range(i * 1000L, (i + 1) * 1000L).select(
      col("id").cast("string").as("foo"),
      col("id").cast("int").as("bar"), lit(true).as("baz"))
    TableIO.createNamespace(r, "ns")
    TableIO.createTableIfNotExists(r, "ns", "t", fileDf(0).schema)
    val entries = (0 until nFiles).map { i =>
      val df = fileDf(i)
      // last file gets NO bloom: must always be kept
      val bl = if (i == nFiles - 1) Map.empty[String, Vector[Long]]
        else TableIO.bloomsOf(df, Seq("foo"), 1000L)
      TableIO.writeExactFile(spark, r, "ns", "t",
        f"data/part-$i%05d.parquet", df, "data", 1L, recordCount = 1000L,
        blooms = bl)
    }
    TableIO.commit(r, "ns", "t", entries)
    r
  }

  private def admitted(value: String): Seq[String] =
    TableIO.readManifest(root, "ns", "t")
      .filter(_.mayContainEq("foo", value)).map(_.path)

  test("point lookups scan exactly the bloom-admitted files, never miss") {
    for (k <- Seq(0L, 999L, 1000L, 4242L, 7999L)) {
      val v = k.toString
      val expect = admitted(v)
      // the file actually holding the value is always admitted
      assert(expect.contains(f"data/part-${k / 1000}%05d.parquet"))
      val df = Mor.read(spark, root, "ns", "t").filter(col("foo") === v)
      val scanned = OpenedFiles.count(df)
      assert(scanned == expect.length,
        s"k=$k scanned $scanned, bloom admits ${expect.length}")
      assert(df.count() == 1L)
    }
  }

  test("bloom-less files are kept; out-of-domain values return empty") {
    // the bloom-less file is admitted for any value
    assert(admitted("no-such-value").contains(f"data/part-${nFiles - 1}%05d.parquet"))
    val df = Mor.read(spark, root, "ns", "t")
      .filter(col("foo") === "no-such-value")
    assert(df.count() == 0L)
    assert(OpenedFiles.count(df) == admitted("no-such-value").length)
    // skipping is substantial: across probes, most files are pruned
    val avgAdmitted = Seq("17", "2500", "6001", "7777")
      .map(v => admitted(v).length).sum / 4.0
    assert(avgAdmitted <= nFiles / 2.0,
      s"bloom admits $avgAdmitted of $nFiles on average — too weak")
  }

  test("planner-integrated: ordinary filter probes blooms via GraftFileIndex") {
    val df = graft.plans.GraftFileIndex.scan(spark, root, "ns", "t")
      .filter(col("foo") === "4242")
    // an ORDINARY equality filter skips files through the pushed-down
    // predicate's bloom probe
    assert(df.collect().length == 1)
    val scanned = OpenedFiles.count(df)
    assert(scanned == admitted("4242").length && scanned < nFiles,
      s"scanned $scanned, bloom admits ${admitted("4242").length}")
  }

  test("bloom codec round-trips through the manifest json") {
    val e = TableIO.readManifest(root, "ns", "t").head
    assert(e.blooms.contains("foo") && e.blooms("foo").exists(_ != 0L))
    // a value written into file 0 probes true; most others false
    assert(Bloom.mightContain(e.blooms("foo"), "42"))
  }
}
