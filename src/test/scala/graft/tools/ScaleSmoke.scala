package graft.tools

import java.nio.file.Files
import graft.plans.{Maintenance, Mor, Pipeline}
import graft.sources.{FileConfig, GenConfig}

/** Scale smoke: run the full pipeline at millions of rows (bulk write
  * path) and print wall times — evidence that the write path, MOR read,
  * and compaction hold up well beyond the correctness-test sizes.
  * Args: [rowsPerFileMillions] (default 1 => 20M data rows).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 1.0
    val rpf = (m * 1e6).toLong
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val root = Files.createTempDirectory("graft-scale-").toString
    val cfg = GenConfig("ns", "big",
      data = FileConfig(rpf, 20),
      posDelete = FileConfig(rpf, 5),
      eqDelete = FileConfig(rpf, 5))
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    timed(s"bulk write ${cfg.data.totalRows / 1000000}M data rows")(
      Pipeline.prepareBulkData(spark, root, cfg))
    // delete phases via the standard pipeline (table already exists)
    timed(s"delete phases (${cfg.actualPosDeletes / 1000000}M pos + " +
      s"${cfg.actualEqDeletes / 1000000}M eq)")(
      Pipeline.prepareDeletes(spark, root, cfg))
    val n = timed("MOR merged count")(
      Mor.mergedCount(spark, root, "ns", "big"))
    println(s"[scale] surviving rows: $n (expected ${cfg.expectedSurvivingRows})")
    // CDC changelog across all three commits: inserts are a plain scan
    // of the added files; deletes resolve the new delete files against
    // the prior snapshot
    val ch = timed("CDC changelog counts (v0 -> v3)")(
      Mor.readChanges(spark, root, "ns", "big", 0L, 3L)
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap)
    println(s"[scale] changes: $ch")
    assert(ch("insert") == cfg.data.totalRows &&
      ch("delete") == cfg.actualPosDeletes + cfg.actualEqDeletes)
    // consolidate the pos-delete files; merged view must be unchanged
    timed(s"rewrite position deletes (${cfg.actualPosDeletes / 1000000}M rows)")(
      Maintenance.rewritePositionDeletes(spark, root, "ns", "big"))
    val nAfterRw = timed("MOR count after delete rewrite")(
      Mor.mergedCount(spark, root, "ns", "big"))
    assert(nAfterRw == n)
    // per-file bloom construction at a production file size: the build
    // is distributed bit_or word aggregation, so the driver receives at
    // most nWords word-rows (~2 MB at the 2^24-bit cap) — never the
    // ~30M per-row bit positions of a 10M-key column
    val bloom = timed("bloom build over a 10M-key column (distributed)")(
      graft.plans.TableIO.bloomsOf(
        spark.range(10000000).selectExpr("CAST(id AS STRING) AS k"),
        Seq("k"), 10000000L))
    assert(graft.plans.Bloom.mightContain(bloom("k"), "424242"))
    assert(graft.plans.Bloom.mightContain(bloom("k"), "9999999"))
    timed("compaction")(Maintenance.compact(spark, root, "ns", "big"))
    val n2 = timed("post-compaction count")(
      Mor.mergedCount(spark, root, "ns", "big"))
    assert(n == n2 && n == cfg.expectedSurvivingRows)
    val mb = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      .filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum() / 1024 / 1024
    println(s"[scale] table size on disk: ${mb}MB; OK")
    spark.stop()
  }
}
