package lakebench

import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.CacheScope
import graft.operators.{Dedup, PipelineOps, Similarity, TextAnalysis}
import graft.plans.{Mor, TableIO}

/** `llm_curate`: a batch curation job over a seeded corpus with planted
  * duplicates, near duplicates, boilerplate and a known Gopher pass set,
  * plus clustered embeddings. Each pass runs gopherRules -> keepBest ->
  * minhashPairs -> dedupClusters -> e2eCuration -> knnJoin and commits
  * the survivors through TableIO; the committed table is read back. Every
  * stage's output is checked, and no operator cache outlives its stage. */
object LlmCurate {
  val Ns = "lakebench"
  val Docs = 6000
  val WarmUpDocs = 1000
  val Clusters = 20
  val PerCluster = 20
  val K = 3
  val ReadBacks = 3

  /** Timed passes in one loop: one per ten seconds of run length, at least
    * two. An untimed pass over a small corpus runs first, so every timed
    * pass is past the JIT's start-up. */
  def passes(seconds: Double): Int = math.max(2, math.round(seconds / 10).toInt)

  final case class Inputs(corpus: Corpus, emb: Vector[(Long, Int, Array[Float])],
      docsDir: Path, embDir: Path)

  val EmbSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Generates the corpus and embeddings and lands them as raw parquet. */
  def setup(ctx: Ctx, dir: Path, docs: Int = Docs): Inputs = {
    val spark = ctx.spark
    val corpus = Corpus.generate(ctx.seed, docs)
    val emb = Embeddings.generate(ctx.seed, Clusters, PerCluster)
    val docRows = corpus.docs.map(d => Row(d.id, d.text, d.text.length.toLong))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    spark.createDataFrame(docRows.asJava, docSchema)
      .write.parquet(dir.resolve("documents").toString)
    spark.createDataFrame(emb.map { case (id, c, v) => Row(id, c, v.toSeq) }.asJava,
      EmbSchema).write.parquet(dir.resolve("embeddings").toString)
    Inputs(corpus, emb, dir.resolve("documents"), dir.resolve("embeddings"))
  }

  final class Loop {
    val passMs = mutable.ArrayBuffer.empty[Double]
    val scanMs = mutable.ArrayBuffer.empty[Double]
    val stageMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    var candidatePairs = 0.0
    var plantedFound = 0.0
    var precision = 0.0
    var nearRecall = 0.0
    var tables = Vector.empty[String]
    def loopMs: Double = passMs.sum + scanMs.sum
  }

  def loop(ctx: Ctx, in: Inputs, nPasses: Int, tag: String): Loop = {
    val spark = ctx.spark
    val checks = ctx.checks
    val corpus = in.corpus
    val out = new Loop
    val docs = spark.read.parquet(in.docsDir.toString)
    val emb = spark.read.parquet(in.embDir.toString)
    val planted = (corpus.exactPairs ++ corpus.nearPairs).toSet
    val survivors = corpus.survivors
    for (p <- 1 to nPasses) {
      val table = s"curated_${tag}_$p"
      ctx.tracer.nextOp()
      def stage[T](name: String)(body: => T): T = {
        val (r, ms) = Stats.timed(ctx.span(s"curate.$name")(body))
        out.stageMs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        CacheScope.drain()
        checks.check(s"$name leaves no cache", CacheScope.pendingCount == 0 &&
          spark.sharedState.cacheManager.isEmpty,
          s"pending ${CacheScope.pendingCount}")
        r
      }
      val t0 = System.nanoTime()
      val gopher = stage("gopherRules")(
        TextAnalysis.gopherRules(docs).localCheckpoint())
      val best = stage("keepBest")(Dedup.keepBest(docs).localCheckpoint())
      val pairs = stage("minhashPairs")(Dedup.minhashPairs(docs).collect())
        .map(r => (r.getLong(0), r.getLong(1)))
      val labels = stage("dedupClusters")(
        PipelineOps.dedupClusters(docs).localCheckpoint())
      val splits = stage("e2eCuration")(
        PipelineOps.e2eCuration(docs, labels).collect())
      val knn = stage("knnJoin")(Similarity.knnJoin(emb, k = K).collect())
      val kept = docs
        .join(gopher.filter(col("passes") === 1L).select("doc_id"), "doc_id")
        .join(best.select("doc_id"), "doc_id")
      stage("commit") {
        TableIO.createNamespace(ctx.root, Ns)
        TableIO.createTableIfNotExists(ctx.root, Ns, table, kept.schema)
        val e = ctx.span("tableio.writeExactFile")(TableIO.writeExactFile(
          spark, ctx.root, Ns, table, "data/curated.parquet", kept, "data", 1L))
        ctx.span("tableio.commit")(TableIO.commit(ctx.root, Ns, table, Seq(e)))
      }
      out.passMs += (System.nanoTime() - t0) / 1e6
      Stats.log(f"pass $p: ${out.passMs.last}%.0f ms " +
        out.stageMs.map { case (s, ms) => f"$s ${ms.last}%.0f" }.mkString(", "))
      out.tables :+= table

      // stage outputs against the planted answers
      val gRows = gopher.collect()
      val passIdx = gopher.columns.indexOf("passes")
      val passed = gRows.filter(_.getLong(passIdx) == 1L).map(_.getLong(0)).toSet
      checks.check("gopherRules pass set", gRows.length == corpus.docs.size &&
        passed == corpus.passing, s"${passed.size} passed, expected ${corpus.passing.size}")
      val nBest = best.count()
      checks.check("keepBest exact-duplicate count",
        corpus.docs.size - nBest == corpus.exactPairs.size,
        s"${corpus.docs.size - nBest} removed, planted ${corpus.exactPairs.size}")
      val pairSet = pairs.toSet
      val trueCands = pairs.count { case (a, b) => corpus.familyOf(a) == corpus.familyOf(b) }
      out.candidatePairs = pairs.length
      out.plantedFound = planted.count(pairSet)
      out.precision = if (pairs.isEmpty) 0.0 else trueCands.toDouble / pairs.length
      out.nearRecall = corpus.nearPairs.count(pairSet).toDouble / corpus.nearPairs.size
      checks.check("minhashPairs finds every exact duplicate",
        corpus.exactPairs.forall(pairSet), s"${corpus.exactPairs.count(pairSet)} of ${corpus.exactPairs.size}")
      checks.check("dedupClusters non-empty", labels.count() > 0, "no labels")
      val nDocs = splits.map(r => r.getLong(r.fieldIndex("n_docs"))).sum
      checks.check("e2eCuration survivors", splits.nonEmpty && nDocs == survivors.size,
        s"$nDocs curated, expected ${survivors.size}")
      val label = in.emb.map { case (id, c, _) => id -> c }.toMap
      checks.check("knnJoin neighbours", knn.length == in.emb.size * K &&
        knn.forall(r => label(r.getLong(0)) == label(r.getLong(2))),
        s"${knn.length} rows, ${knn.count(r => label(r.getLong(0)) != label(r.getLong(2)))} cross-cluster")

      // read the committed output back, merge-on-read
      (1 to ReadBacks).foreach { _ =>
        ctx.tracer.nextOp()
        val (got, scanMs) = Stats.timed(ctx.span("client.scan") {
          val df = ctx.span("mor.read")(Mor.read(spark, ctx.root, Ns, table))
          ctx.span("mor.collect")(df.agg(count(lit(1)),
            coalesce(sum(col("doc_id")), lit(0L))).head())
        })
        out.scanMs += scanMs
        checks.check("committed survivors read back",
          got.getLong(0) == survivors.size && got.getLong(1) == survivors.sum,
          s"got ${got.getLong(0)} rows, expected ${survivors.size}")
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    out
  }

  def run(ctx: Ctx, work: Path): Outcome = {
    val n = passes(ctx.seconds)
    val setups = (1 to 3).map { i =>
      val (in, ms) = Stats.timed(setup(ctx, work.resolve(s"raw_$i")))
      Stats.log(f"set-up $i: $ms%.0f ms")
      (in, ms)
    }
    val setupS = Stats.median(setups.map(_._2)) / 1000
    val in = setups(2)._1
    loop(ctx, setup(ctx, work.resolve("warm-up"), WarmUpDocs), 1, "warm_up")
    Stats.log("warm-up done")
    val survivors = in.corpus.survivors.size
    if (!ctx.traced) {
      val l = loop(ctx, in, n, "a")
      val st = TableState.of(ctx.root, Ns, l.tables.last)
      Outcome(
        endToEnd = Map(
          "setup_s" -> setupS,
          "op_ms.p50" -> Stats.median(l.passMs.toSeq),
          "rows_per_s" -> Docs / (Stats.median(l.passMs.toSeq) / 1000),
          "bytes_per_live_row" -> st.totalBytes.toDouble / survivors),
        perLayer = Map.empty,
        report = Seq(
          ("loop_ms", l.loopMs, "ms"),
          ("docs", Docs.toDouble, "count"),
          ("passes", n.toDouble, "count"),
          ("curate_s", Stats.median(l.passMs.toSeq) / 1000, "s"),
          ("readback_ms.p50", Stats.median(l.scanMs.toSeq), "ms"),
          ("survivors", survivors.toDouble, "count")) ++
          l.stageMs.toSeq.map { case (s, ms) =>
            (s"curate.${stageKey(s)}_ms", Stats.median(ms.toSeq), "ms")
          } ++ Seq(
          ("curate.near_dup_recall", l.nearRecall, "ratio"),
          ("curate.lsh_precision", l.precision, "ratio")))
    } else {
      ctx.tracer.recording = true
      val l = try loop(ctx, in, n, "a") finally ctx.tracer.recording = false
      val st = TableState.of(ctx.root, Ns, l.tables.last)
      val tr = Layers.report(ctx)
      Outcome(Map.empty,
        Layers.table(st, n.toLong) ++
          Layers.mor(tr, st, Seq.fill(n * ReadBacks)((1, 1)),
            Seq.fill(n * ReadBacks)(0.0)) ++
          tr.sparkMetrics ++ Map(
          "curate.candidate_pairs" -> l.candidatePairs,
          "curate.planted_pairs_found" -> l.plantedFound,
          "curate.lsh_precision" -> l.precision),
        Layers.common(tr, l.loopMs) ++
          l.stageMs.toSeq.map { case (s, _) =>
            (s"curate.${stageKey(s)}_ms", tr.meanMs(s"curate.$s"), "ms")
          } ++ Seq(("curate.near_dup_recall", l.nearRecall, "ratio")))
    }
  }

  private def stageKey(s: String): String = s match {
    case "gopherRules" => "gopher"
    case "keepBest" => "keepbest"
    case "minhashPairs" => "minhash"
    case "dedupClusters" => "clusters"
    case "e2eCuration" => "e2e"
    case "knnJoin" => "knn"
    case other => other
  }
}
