package graft.tools

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PipelineOps}

/** Scale smoke for the corpus-preparation family: synthesize a
  * multi-million-document corpus (materialized to parquet so generation
  * cost never pollutes operator timings), then run each pipe_* operator
  * and print wall times — evidence the keyed-dataflow shapes hold well
  * past the 500-doc correctness corpus. Args: [docsMillions] (default 2).
  */
object PipeScaleSmoke {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 2.0
    val nDocs = (m * 1e6).toLong
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[pipescale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    val dir = Files.createTempDirectory("graft-pipescale-").toString
    timed(f"synthesize ${nDocs / 1000000}%dM docs (30 words each)") {
      // ~30-word documents from a 5k-word vocabulary; zipf-ish reuse via
      // modular arithmetic keeps shingle/ngram keys realistically skewed
      spark.range(nDocs).select(
        col("id").as("doc_id"),
        concat_ws(" ", (0 until 30).map(j =>
          concat(lit("w"), pmod(col("id") * 31 + lit(j * 7), lit(5000)))): _*)
          .as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (pmod(col("id"), lit(3)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dir/documents")
    }
    val docs = spark.read.parquet(s"$dir/documents")
    val n = timed("decontaminate")(PipelineOps.decontaminate(docs).count())
    println(s"[pipescale] contaminated pairs: $n")
    timed("sampleBySource")(PipelineOps.sampleBySource(docs).count())
    timed("packSequences")(PipelineOps.packSequences(docs).count())
    timed("shuffleShards")(PipelineOps.shuffleShards(docs).count())
    timed("topNgrams")(PipelineOps.topNgrams(docs).collect())
    timed("filterCompose")(PipelineOps.filterCompose(docs).count())
    timed("fingerprint dedup")(Dedup.fingerprint(docs).count())
    // same-JVM A/B: the retired two-regex normalize vs the native pass
    // (same Layout.expand as Dedup.fingerprint, so the arms
    // differ ONLY in the normalize expression, not partition layout)
    timed("fingerprint dedup (regex normalize)")(
      graft.Layout.expand(docs, col("doc_id"))
        .select(col("doc_id"), md5(Dedup.normalizeRegex(col("text"))).as("fp"))
        .groupBy("fp").count().count())
    val nc = timed("chunkDocuments")(PipelineOps.chunkDocuments(docs).count())
    println(s"[pipescale] chunks: $nc")
    val nm = timed("mixtureRepeat")(PipelineOps.mixtureRepeat(docs).count())
    println(f"[pipescale] mixture expansion: ${nm.toDouble / nDocs}%.3fx")
    timed("rarity")(graft.operators.TextAnalysis.rarity(docs).count())
    timed("bm25TopK")(graft.operators.Retrieval
      .bm25TopK(docs, Seq("w100", "w2500", "w4999")).collect())
    timed("passageDupStats")(PipelineOps.passageDupStats(docs).count())
    timed("trainValTest")(PipelineOps.trainValTest(docs).collect())
    // the sketch claims: shuffle bounded by sketch size at any corpus
    // size (count-min: d x w counter rows; datacard: #strata rows)
    timed("countMin")(graft.operators.TextAnalysis
      .countMin(docs, probes = Seq("w100", "w2500", "w4999", "zzz"))
      .collect())
    timed("dataCard")(PipelineOps.dataCard(docs).collect())
    timed("tokenBudget")(PipelineOps.tokenBudget(docs).collect())
    // the operator is unbounded since r17 (the top-100 lives in the
    // query registry) — collecting the full interleaved corpus would
    // time driver-side row collection, not the operator; count() keeps
    // the full distributed computation in the timing
    timed("interleave")(PipelineOps.interleave(docs).count())
    // round-9 additions: linear classifier scan, per-source window cap
    // (WindowGroupLimit), keep-best aggregate, Gopher rule scan
    timed("classifierScore")(
      graft.operators.TextAnalysis.classifierScore(docs).count())
    val nRules = timed("gopherRules")(graft.operators.TextAnalysis
      .gopherRules(docs).filter(col("passes") === 1L).count())
    val nPass = timed("gopherPass gate")(
      docs.filter(graft.operators.TextAnalysis.gopherPass).count())
    require(nRules == nPass, s"gopherPass kept $nPass docs, gopherRules $nRules")
    timed("curriculum")(PipelineOps.curriculum(docs).count())
    timed("sourceCap")(PipelineOps.sourceCap(docs, cap = 100000).count())
    timed("keepBest")(Dedup.keepBest(docs).count())
    // round-12 additions: rolling-window duplicated spans (3 linear
    // shuffles + a per-doc window), temperature mixture weights (one
    // groupBy(source))
    val nsp = timed("substrSpans")(PipelineOps.substrSpans(docs).count())
    println(s"[pipescale] docs with duplicated spans: $nsp")
    timed("temperatureMix")(PipelineOps.temperatureMix(docs).collect())
    timed("gateSweep")(PipelineOps.gateSweep(docs).collect())
    // r16: auto-width weighted sample — both prefix-sum window levels
    // O(sqrt n) rows per task at this corpus size; the offset-id run
    // (snowflake regime, ids starting at 10^12) must pick the same
    // range-based width, not a max(id)-derived ~10^6 one (r16 review)
    val ws = timed("weightedSampleAuto")(
      PipelineOps.weightedSampleAuto(docs).collect())
    val offsetDocs = docs.withColumn("doc_id",
      col("doc_id") + lit(1000000000000L))
    val wsOff = timed("weightedSampleAuto (offset ids)")(
      PipelineOps.weightedSampleAuto(offsetDocs).collect())
    require(ws.length == wsOff.length && ws.nonEmpty,
      s"offset ids changed the sample size: ${ws.length} vs ${wsOff.length}")
    println("[pipescale] OK")
    spark.stop()
  }
}
