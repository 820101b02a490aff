package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{GeneratedTables, Mor, TableIO}
import graft.sources.GenConfig

/** Manifest-bounds file skipping (Iceberg lower/upper-bounds pruning):
  * a range predicate on a bounds-tracked column drops files at the
  * METADATA level — Spark never opens them.
  */
class FileSkipSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val cfg = GenConfig.reference // 5 files x 1000 rows, bar == g

  test("manifest entries carry closed-form bar bounds") {
    val root = GeneratedTables.ensure(spark, "fileskip", cfg)
    val entries = TableIO.readManifest(root, cfg.namespace, cfg.tableName)
      .filter(_.content == "data")
    assert(entries.size == 5)
    entries.foreach { e =>
      val i = entries.indexOf(e)
      assert(e.bounds.get("bar").contains((i * 1000L, i * 1000L + 999L)),
        s"entry $e lacks expected bar bounds")
    }
  }

  test("bar-range scan opens only the intersecting files") {
    val root = GeneratedTables.ensure(spark, "fileskip", cfg)
    val got = Mor.read(spark, root, cfg.namespace, cfg.tableName)
      .filter(col("bar").between(3500, 4700))
    // bounds [3000,3999] and [4000,4999] intersect; 3 data files skipped
    val scanned = OpenedFiles.count(got)
    assert(scanned == 2, s"expected 2 scanned data files, got $scanned")
    // pruning is a superset guarantee: the result equals the unpruned
    // read (deletes still applied: survivors >= 4000)
    val full = Mor.read(spark, root, cfg.namespace, cfg.tableName).collect()
      .filter(r => r.getInt(1) >= 3500 && r.getInt(1) <= 4700)
    assert(got.count() == 701 && full.length == 701)
    assert(got.collect().sortBy(_.getInt(1)).toSeq ==
      full.sortBy(_.getInt(1)).toSeq)
  }

  test("clustered compaction yields non-overlapping bounds that prune") {
    val c2 = cfg.copy(tableName = "cluster_spec")
    val root = GeneratedTables.ensure(spark, "fileskip-cluster", c2)
    graft.plans.Maintenance.compact(spark, root, c2.namespace, c2.tableName,
      targetFileCount = 4, clusterBy = Seq("bar"))
    val entries = TableIO.readManifest(root, c2.namespace, c2.tableName)
      .filter(_.content == "data").filter(_.recordCount > 0)
    val bs = entries.flatMap(_.bounds.get("bar")).sortBy(_._1)
    assert(bs.size == entries.size, "every non-empty file has bar bounds")
    // survivors are 4000..4999; ranges tile without overlap
    assert(bs.head._1 == 4000L && bs.last._2 == 4999L)
    bs.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2, s"overlap: $bs")
      case _ =>
    }
    // a narrow range scan touches a strict subset of the files
    val pruned = Mor.read(spark, root, c2.namespace, c2.tableName)
      .filter(col("bar").between(4600, 4700))
    val scanned = OpenedFiles.count(pruned)
    assert(scanned <= 2 && scanned < entries.size,
      s"expected pruning, scanned $scanned of ${entries.size}")
    assert(pruned.count() == 101)
  }

  test("bounds survive the manifest JSON round-trip, absent stays open") {
    val e = graft.plans.ManifestEntry("data/x.parquet", "data", 1L, 10L,
      Map("bar" -> (5L, 9L), "neg" -> (-7L, -2L)))
    assert(e.mayContain("bar", 9, 20) && !e.mayContain("bar", 10, 20))
    assert(e.mayContain("neg", -3, 0) && !e.mayContain("neg", -1, 0))
    // a column with no recorded bounds can never prune the file
    assert(e.mayContain("other", 100, 200))
  }
}
