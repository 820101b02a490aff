package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import graft.functions.{GopherStats, TextHash}
import graft.operators.{Dedup, PipelineOps, Similarity, TextAnalysis}

/** The native curation kernels (MinHash signatures, Gopher counts) are
  * checked against the built-in formulations they replace on edge
  * inputs, and the curation plans are checked to read each input once.
  */
class CurationKernelSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def docs(texts: String*): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").withColumn("n_chars", length($"text"))

  /** The explode + 16 x `min` aggregate formulation of the signatures. */
  private def explodedSignatures(d: DataFrame, n: Int = 4): DataFrame = {
    val sh = d.select(col("doc_id"),
      explode(TextHash.shingleHashes(split(col("text"), " "), n)).as("h"))
    val mins = TextHash.minhashSeeds.zipWithIndex.map { case ((a, b), j) =>
      min(TextHash.rehash(col("h"), a, b)).as(s"s$j")
    }
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** The higher-order-function formulation of the Gopher rules. */
  private def lambdaGopher(d: DataFrame): DataFrame = {
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
    val words = split(trim(col("text")), "\\s+")
    val nw = size(words).cast("long")
    val meanWl = aggregate(words, lit(0L), (a, w) => a + length(w))
      .cast("double") / nw
    val symRatio = (regexp_count(col("text"), lit("#")) +
      regexp_count(col("text"), lit("\\.\\.\\."))).cast("double") / nw
    val alphaFrac = size(filter(words, w => w.rlike("[A-Za-z]")))
      .cast("double") / nw
    val nStop = size(filter(words,
      w => stopwords.map(s => w === s).reduce(_ || _))).cast("long")
    def flag(c: Column): Column = when(c, 1L).otherwise(0L)
    val fWords = flag(nw >= 50 && nw <= 100000)
    val fMeanWl = flag(meanWl >= 3.0 && meanWl <= 10.0)
    val fSym = flag(symRatio <= 0.1)
    val fAlpha = flag(alphaFrac >= 0.8)
    val fStop = flag(nStop >= 2)
    d.select(col("doc_id"), nw.as("n_words"),
      fWords.as("ok_words"), fMeanWl.as("ok_mean_wl"), fSym.as("ok_sym"),
      fAlpha.as("ok_alpha"), fStop.as("ok_stop"),
      (fWords * fMeanWl * fSym * fAlpha * fStop).as("passes"))
      .orderBy("doc_id")
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString(",")).sorted.toSeq

  test("native MinHash signatures equal the explode + min aggregate") {
    val d = docs(
      "", "a", "a b c", "one two three four", "one two three four five",
      "a b c d a b c d a b c d", "x x x x x x x x",
      "tabs\tinside words and\nnewlines too here",
      "double  spaces and a trailing space ",
      " leading space makes an empty word",
      "café naïve résumé über straße 😀 emoji text",
      "Ünïcödé 漢字 かな 한국어 mixed scripts everywhere")
    val want = rows(explodedSignatures(d))
    val got = rows(Dedup.minhashSignatures(d))
    assert(got == want)
    // fewer than 4 words: no shingle, no row
    val ids = Dedup.minhashSignatures(d).select("doc_id").as[Long]
      .collect().toSet
    assert(!ids.contains(0L) && !ids.contains(1L) && !ids.contains(2L))
    assert(ids.contains(3L))
    assert(Dedup.minhashSignatures(d).schema ==
      explodedSignatures(d).schema)
  }

  test("native MinHash signatures equal the explode + min aggregate on " +
      "the sf0.001 corpus") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(rows(Dedup.minhashSignatures(d)) == rows(explodedSignatures(d)))
  }

  private val fiftyWords = (Seq("the", "cat", "is", "in", "a", "house") ++
    (1 to 44).map(i => s"word$i")).mkString(" ")

  private val gopherEdges = Seq(
    "", " ", "\t", "\tleading tab then the words of a text",
    "\nleading newline and the rest of it",
    "!!! ??? *** %%% @@@ ^^^ the and", "### # #a b#",
    "élan über naïve café the and of to in is", "日本語 中文 한국어 the a",
    "wait.... what..... why...... ok... the a", "a..b...c....d",
    fiftyWords, fiftyWords.split(" ").init.mkString(" "),
    fiftyWords + " #tag", fiftyWords.replace(" ", "\t"),
    fiftyWords.replace(" ", " \n "), fiftyWords + "   ",
    (fiftyWords + " ") * 3 + "...." * 20,
    fiftyWords.toUpperCase, fiftyWords.replace("word", "wörd"))

  test("native Gopher flags equal the lambda formulation on edge texts") {
    val d = docs(gopherEdges: _*)
    assert(TextAnalysis.gopherRules(d).collect().toSeq ==
      lambdaGopher(d).collect().toSeq)
    // the edge set exercises both outcomes of every rule
    val flags = TextAnalysis.gopherRules(d).collect()
    (2 to 7).foreach { i =>
      assert(flags.map(_.getLong(i)).toSet == Set(0L, 1L), s"column $i")
    }
  }

  test("native Gopher flags equal the lambda formulation on the sf0.001 " +
      "corpus") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(TextAnalysis.gopherRules(d).collect().toSeq ==
      lambdaGopher(d).collect().toSeq)
  }

  test("gopherPass keeps exactly the passes = 1 rows, computing the " +
      "stats once per row") {
    val d = docs(gopherEdges: _*)
    val want = lambdaGopher(d).filter($"passes" === 1L)
      .select("doc_id").as[Long].collect().toSet
    val gated = d.filter(TextAnalysis.gopherPass)
    assert(gated.select("doc_id").as[Long].collect().toSet == want)
    assert(want.nonEmpty && want.size < gopherEdges.size)
    // over a scan (a local relation would be folded away)
    val plan = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(TextAnalysis.gopherPass).queryExecution.optimizedPlan
    val kernels = plan.flatMap(_.expressions.flatMap(_.collect {
      case g: GopherStats => g
    }))
    assert(kernels.size == 1, s"stats evaluated ${kernels.size} times:\n$plan")
  }

  private def partitionedOnBandKey(e: ShuffleExchangeExec): Boolean =
    e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect {
        case a: Attribute => a.name
      } == Seq("band", "key")
      case _ => false
    }

  /** Band-key shuffles and reused exchanges of the final adaptive plan. */
  private def bandExchanges(df: DataFrame): (Int, Int) = {
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = PlanNodes.collect(plan) {
      case e: ShuffleExchangeExec if partitionedOnBandKey(e) => e
    }
    val reused = PlanNodes.collect(plan) {
      case r @ ReusedExchangeExec(_, e: ShuffleExchangeExec)
        if partitionedOnBandKey(e) => r
    }
    (shuffles.size, reused.size)
  }

  test("minhashPairs and knnJoin shuffle the band rows once and reuse " +
      "the exchange for the second join side") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    assert(bandExchanges(Dedup.minhashPairs(d)) == (1, 1))
    assert(bandExchanges(Similarity.knnJoin(emb)) == (1, 1))
  }

  test("the signature path has no aggregate keyed on doc_id") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val sig = Dedup.minhashSignatures(d)
    sig.collect()
    val aggs = PlanNodes.collect(sig.queryExecution.executedPlan) {
      case a: HashAggregateExec
        if a.groupingExpressions.exists(_.name == "doc_id") => a
    }
    assert(aggs.isEmpty, sig.queryExecution.executedPlan.toString)
  }

  test("e2eCuration scans documents once") {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val labels = PipelineOps.dedupClusters(d).localCheckpoint()
    val e2e = PipelineOps.e2eCuration(d, labels)
    e2e.collect()
    val scans = PlanNodes.collect(e2e.queryExecution.executedPlan) {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString
          .contains("documents")) => s
    }
    assert(scans.size == 1, e2e.queryExecution.executedPlan.toString)
  }
}
