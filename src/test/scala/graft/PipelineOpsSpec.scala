package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PipelineOps}

/** Invariant tests for the corpus-preparation operators on the sf0.001
  * test tables (real inputs, properties checked in-process — the exact
  * values are covered by the DuckDB oracle at sf0.01).
  */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private lazy val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("interleave covers the WHOLE corpus with dense round-robin " +
      "positions (the top-100 bound lives in the query, not here)") {
    // 3 sources x 70 docs = 210 positions — past the registry's 100,
    // which used to be baked into the operator (r16 verdict nit)
    val d = (0 until 210).map(i => (i.toLong, s"src${i % 3}"))
      .toDF("doc_id", "source")
    val got = PipelineOps.interleave(d).collect()
    assert(got.length == 210, s"operator truncated to ${got.length} rows")
    // positions are exactly 1..210 (dense, no gaps)
    assert(got.map(_.getLong(2)).sorted.toSeq == (1L to 210L))
    // round-robin: position i carries source rank ((i-1) % n_sources)+1
    got.foreach { r =>
      val pos = r.getLong(2)
      val expSrc = s"src${((pos - 1) % 3)}"
      assert(r.getString(1) == expSrc, s"pos $pos got ${r.getString(1)}")
    }
  }

  test("shuffleShards emits a complete permutation with dense positions") {
    val got = PipelineOps.shuffleShards(docs).cache()
    assert(got.count() == docs.count())
    assert(got.select("doc_id").distinct().count() == docs.count())
    // positions are 1..count(shard) within every shard, no gaps
    val bad = got.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter($"mx" =!= $"n" || $"mn" =!= 1)
    assert(bad.count() == 0)
    got.unpersist()
  }

  test("HLL registers estimate distinct counts within tolerance") {
    // the oracle proves register equivalence; this pins estimation
    // quality independently (standard HLL with linear-counting
    // small-range correction)
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val exact = li.select("l_orderkey").distinct().count().toDouble
    val regs = PipelineOps.hllRegisters(li, "l_orderkey").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val m = 256
    val sum = (0 until m).map(b => math.pow(2.0, -regs.getOrElse(b.toLong, 0))).sum
    val alpha = 0.7213 / (1 + 1.079 / m)
    val raw = alpha * m * m / sum
    val zeros = m - regs.size
    val est = if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros)
      else raw
    val err = math.abs(est - exact) / exact
    assert(err < 0.15, s"HLL est $est vs exact $exact (err $err)")
  }

  test("chunkDocuments covers every char; overlap and sizes are exact") {
    val size = 100
    val overlap = 20
    val stride = size - overlap
    val chunks = PipelineOps.chunkDocuments(docs, size, overlap).cache()
    val withLen = chunks.join(docs.select(col("doc_id"),
      length(col("text")).as("len")), "doc_id")
    // every non-final chunk is exactly `size` chars; chunk ids are dense
    // from 0; starts are chunk_id * stride
    assert(chunks.filter($"chunk_start" =!= $"chunk_id" * stride).count() == 0)
    val perDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("chunk_id").as("mx"), min("chunk_id").as("mn"))
    assert(perDoc.filter($"mx" =!= $"n" - 1 || $"mn" =!= 0).count() == 0)
    // the final chunk reaches the end of the document; short chunks only
    // at the end
    val bad = withLen.filter(
      ($"chunk_start" + length($"chunk") =!= least($"chunk_start" + size, $"len")) ||
      (length($"chunk") < size && $"chunk_start" + length($"chunk") =!= $"len"))
    assert(bad.count() == 0)
    // chunk lengths minus the double-counted overlaps reassemble the
    // exact text length — chunks cover everything, nothing twice
    val total = chunks.groupBy("doc_id").agg(
      (sum(length($"chunk")) - (count(lit(1)) - 1) * overlap).as("covered"))
      .join(docs.select(col("doc_id"), length(col("text")).as("len")), "doc_id")
      .filter($"covered" =!= $"len")
    assert(total.count() == 0)
    chunks.unpersist()
  }

  test("mixtureRepeat multiplicity equals floor(w) + bernoulli(frac w)") {
    val mixed = PipelineOps.mixtureRepeat(docs).cache()
    // every emitted doc has dense copy ids 1..reps
    val per = mixed.groupBy("doc_id")
      .agg(count(lit(1)).as("n"), max("copy_id").as("mx"), min("copy_id").as("mn"),
        max("w100").as("w"))
    assert(per.filter($"mx" =!= $"n" || $"mn" =!= 1).count() == 0)
    // multiplicity bounded by floor(w/100) + 1, and >= floor(w/100)
    assert(per.filter($"n" > $"w" / 100 + 1 || $"n" < ($"w" / 100).cast("long"))
      .count() == 0)
    // sources with w >= 100 keep every document at least once; expected
    // corpus expansion is within a loose band of mean(w)/100
    val nDocs = docs.count().toDouble
    val ratio = mixed.count() / nDocs
    assert(ratio > 0.5 && ratio < 2.5, s"expansion ratio $ratio")
    mixed.unpersist()
  }

  test("packSequences bins respect the running-sum budget shape") {
    val budget = 600L
    val bins = PipelineOps.packSequences(docs, budget = budget).cache()
    // every document lands in exactly one bin
    assert(bins.agg(sum("n_docs")).head().getLong(0) == docs.count())
    // a bin only overflows the budget via its last (single spanning)
    // doc: chars < budget + max doc length
    val maxDoc = docs.agg(max("n_chars")).head().getLong(0)
    val over = bins.filter($"chars" >= budget + maxDoc)
    assert(over.count() == 0)
    bins.unpersist()
  }

  test("tokenBudget sharded prefix sum matches the single-window form " +
      "and never sorts a whole language in one partition") {
    import org.apache.spark.sql.expressions.Window
    val budget = 20000L
    val got = PipelineOps.tokenBudget(docs, budget)
    // reference: the naive one-window-per-language running sum
    val w = Window.partitionBy("lang")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        size(split(trim(col("text")), "\\s+")).as("n_tok"))
      .withColumn("cum", sum("n_tok").over(w))
      .filter($"cum" <= budget)
      .groupBy("lang").agg(count(lit(1)).as("n_selected"),
        sum("n_tok").as("total_tokens"), max("cum").as("budget_used"))
    assert(got.collect().toSeq.map(_.toSeq).sortBy(_.head.toString) ==
      ref.collect().toSeq.map(_.toSeq).sortBy(_.head.toString))
    // scale shape: the window that ranks DOCUMENTS (orders by n_chars)
    // must partition by (lang, quality bucket), never lang alone — at
    // 100 TB a lang-only partition is one task holding a whole language
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = got.queryExecution.optimizedPlan.collect {
      case lw: LWindow =>
        (lw.partitionSpec.map(_.toString), lw.orderSpec.map(_.toString))
    }
    val docWins = wins.filter(_._2.exists(_.contains("n_chars")))
    assert(docWins.nonEmpty)
    docWins.foreach { case (part, _) =>
      assert(part.size >= 2 && part.exists(_.contains("qb")),
        s"per-document window partitions by $part — whole-language sort")
    }
  }

  test("sampleBySource keeps rates in [20, 90) and is a strict filter") {
    val s = PipelineOps.sampleBySource(docs).cache()
    assert(s.count() > 0 && s.count() < docs.count())
    assert(s.filter($"rate" < 20 || $"rate" >= 90).count() == 0)
    // deterministic: same result twice
    val again = PipelineOps.sampleBySource(docs)
    assert(s.exceptAll(again).count() == 0 && again.exceptAll(s).count() == 0)
    s.unpersist()
  }

  test("decontaminate only flags train docs against test docs") {
    val d = PipelineOps.decontaminate(docs, minShared = 1).collect()
    // the 5% test split: rollingHash('t'||id) % 20 == 0
    val isTest = docs.select($"doc_id",
        (pmod(graft.functions.TextHash.rollingHash(
          concat(lit("t"), $"doc_id".cast("string"))), lit(20)) === 0).as("t"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    d.foreach { r =>
      assert(!isTest(r.getLong(0)), s"train side contained a test doc: $r")
      assert(isTest(r.getLong(1)), s"test side contained a train doc: $r")
    }
  }

  test("quantize bounds the int8 range and scale is the abs-max") {
    val q = PipelineOps.quantize(emb).cache()
    assert(q.count() == emb.count())
    // floor(e/amax*127) for e in [-amax, amax] lies in [-127, 127]
    assert(q.filter($"q_min" < -127 || $"q_max" > 127).count() == 0)
    assert(q.filter($"scale" < 0).count() == 0)
    q.unpersist()
  }

  test("dedupClusters labels close over the near-dup pair graph") {
    val pairs = Dedup.minhashLsh(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val lab = PipelineOps.dedupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every endpoint is labeled, labels are component-min <= doc_id,
    // and (3 iterations having converged for these tiny groups) both
    // endpoints of every edge share a label
    pairs.foreach { case (a, b) =>
      assert(lab.contains(a) && lab.contains(b))
      assert(lab(a) <= a && lab(b) <= b)
      assert(lab(a) == lab(b), s"edge ($a,$b) spans clusters")
    }
  }

  test("dedupClusters: the driver route matches the distributed one in " +
      "rows and schema, and its plan is a local leaf") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val driver = PipelineOps.dedupClusters(docs)
    val plan = driver.queryExecution.executedPlan
    assert(PlanNodes.collect(plan) { case l: LocalTableScanExec => l }.nonEmpty)
    assert(PlanNodes.collect(plan) { case e: ShuffleExchangeExec => e }.isEmpty)
    val rows = driver.collect().toSeq
    val (schema, distRows) = NoBroadcast(spark) {
      val d = PipelineOps.dedupClusters(docs)
      (d.schema, d.collect().toSeq)
    }
    CacheScope.drain()
    assert(rows.nonEmpty)
    assert(driver.schema == schema)
    assert(rows == distRows)
  }

  test("topNgrams counts the corpus-dominant trigram") {
    val top = PipelineOps.topNgrams(docs, k = 5).collect()
    assert(top.length == 5)
    // counts are non-increasing with deterministic tie-break
    val ns = top.map(_.getLong(1)).toSeq
    assert(ns == ns.sorted.reverse)
  }

  test("vocabCoverage: full-corpus vocab gives zero OOV; tiny vocab " +
      "gives positive OOV and consistent totals") {
    // vocab big enough to hold every distinct word -> nothing is OOV
    val nDistinct = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .distinct().count().toInt
    val full = PipelineOps.vocabCoverage(docs, vocabSize = nDistinct + 10)
      .collect()
    assert(full.nonEmpty)
    assert(full.forall(_.getAs[Long]("n_oov") == 0L))
    assert(full.forall(_.getAs[Double]("oov_rate") == 0.0))
    // a vocab of 1 word must leave most tokens OOV, rates in (0,1]
    val tiny = PipelineOps.vocabCoverage(docs, vocabSize = 1).collect()
    assert(tiny.forall { r =>
      val rate = r.getAs[Double]("oov_rate")
      r.getAs[Long]("n_oov") > 0 && rate > 0.0 && rate <= 1.0 &&
        r.getAs[Long]("n_oov") <= r.getAs[Long]("n_tokens")
    })
  }

  test("weightedSample equals a local systematic-PPS walk") {
    val local = docs.select("doc_id", "n_chars")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val total = local.map(_._2).sum
    val step = math.max(total / 50, 1L)
    var cum = 0L
    val want = local.flatMap { case (id, w) =>
      val before = cum; cum += w
      if (cum / step > before / step) Some((id, w, cum)) else None
    }.toSeq
    val got = PipelineOps.weightedSample(docs, k = 50)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq
    assert(got == want)
    // with max weight < step the sample hits its exact target size
    assert(local.map(_._2).max < step)
    assert(got.size == (total / step).toInt)
  }

  test("weightedSampleAuto: width ~ sqrt(id range) bounds BOTH window " +
      "levels at O(sqrt n) rows per task, result unchanged") {
    // adversarial row count: 40k dense ids — at the fixed width 512
    // the offset window is a single 79-bucket task (fine), but at 10⁹
    // docs it would be a 2M-row single task; auto-width keeps both
    // levels at ~sqrt(n) whatever the corpus size
    val n = 40000L
    val big = spark.range(n).selectExpr("id AS doc_id",
      "(id % 97 + 1) AS n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val auto = rows(PipelineOps.weightedSampleAuto(big, k = 50))
    // the decomposition is exact for ANY width: auto == fixed-512
    assert(auto == rows(PipelineOps.weightedSample(big, k = 50)))
    assert(auto.nonEmpty)
    // the picked width and the implied level sizes: ceil(sqrt(40000))
    // = 200 -> 200 buckets of <= 200 rows; no window frame exceeds
    // 2*sqrt(n) rows
    val width = math.ceil(math.sqrt((n - 1 + 1).toDouble)).toLong
    assert(width == 200L)
    val bucketRows = big.selectExpr(s"doc_id div $width AS b")
      .groupBy("b").count().collect().map(_.getLong(1))
    val bound = 2L * math.ceil(math.sqrt(n.toDouble)).toLong
    assert(bucketRows.length <= bound, s"${bucketRows.length} buckets")
    assert(bucketRows.max <= bound, s"deepest bucket ${bucketRows.max}")
    // OFFSET id space (r16 review): snowflake-style ids starting at
    // 10^12 must get the same sqrt(RANGE) width — a width derived from
    // max(id) alone would be ~10^6 and collapse the corpus into 1-2
    // giant buckets, recreating the single-task straggler
    val off = 1000000000000L
    val shifted = spark.range(off, off + n).selectExpr("id AS doc_id",
      "(id % 97 + 1) AS n_chars")
    val autoShift = rows(PipelineOps.weightedSampleAuto(shifted, k = 50))
    assert(autoShift == rows(PipelineOps.weightedSample(shifted, k = 50)))
    // the picked width must come from the RANGE (= 200), not from
    // max(id) (~10^6): the sampled rows are width-invariant, so only
    // the width itself can witness the fix
    assert(PipelineOps.autoBucketWidth(shifted) == 200L)
    assert(PipelineOps.autoBucketWidth(big) == 200L)
  }

  test("containment flags a quoted sub-document that Jaccard misses") {
    // small doc = 8 words; big doc = small quoted inside 60 words of
    // unrelated wrapper -> containment of small ~= 1.0, Jaccard << 0.8
    val small = (0 until 8).map(i => s"q$i").mkString(" ")
    val wrapper = (0 until 30).map(i => s"pre$i").mkString(" ")
    val tail = (0 until 30).map(i => s"post$i").mkString(" ")
    val corpus = Seq(
      (0L, small),
      (1L, s"$wrapper $small $tail"),
      (2L, (0 until 40).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containment(corpus).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("doc_a") == 0L && r.getAs[Long]("doc_b") == 1L)
    assert(r.getAs[Long]("contained_doc") == 0L)
    // all 5 of the small doc's shingles are inside the big doc
    assert(r.getAs[Long]("shared") == r.getAs[Long]("size_a"))
    // and the same pair is NOT a Jaccard near-dup
    assert(Dedup.ngramJaccard(corpus).collect().isEmpty)
  }
}
