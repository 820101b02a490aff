package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Similarity, Sketches, TimeSeriesOps}

/** Scale smoke for the round-9 analytics families (KMV sketches,
  * graph PageRank/triangles, EWMA, funnel): synthesize multi-million-
  * row inputs and print wall times plus sanity cross-checks — the
  * evidence that these operators' shapes (constant-size sketch state,
  * one-join-per-iteration rank loop, rank-limited tails) hold well
  * past the 500-doc correctness corpus. Args: [scaleMillions]
  * (default: sketch 20M rows, graph 2M nodes, events 20M rows).
  */
object AnalyticsScaleSmoke {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 1.0
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      graft.CacheScope.drain() // scoped like Bench: no cross-op caches
      println(f"[analyticsscale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }

    // ---- KMV sketch: 20M values, 32 groups, 500k distinct per group
    val nSketch = (20e6 * m).toLong
    val distinctPerGroup = 500000L
    val sk = timed(s"kmvDistinct ${nSketch / 1000000}M rows / 32 groups") {
      val df = spark.range(nSketch).selectExpr(
        "CAST(id % 32 AS STRING) AS g",
        // 500k distinct texts per group, each repeated ~1250x
        s"concat('doc ', id % 32, ':', (id DIV 32) % $distinctPerGroup) AS v")
      Sketches.kmvDistinct(df, "g", col("v")).collect()
    }
    require(sk.length == 32, s"expected 32 sketch groups, got ${sk.length}")
    sk.foreach { r =>
      val est = r.getAs[Double]("est_distinct")
      val err = math.abs(est - distinctPerGroup) / distinctPerGroup
      require(err < 0.25, s"KMV estimate off by ${err * 100}%: $est")
    }

    // ---- PageRank: 2M nodes / ~6M edges, 5 iterations
    val nGraph = (2e6 * m).toLong
    val docs = spark.range(nGraph).selectExpr("id AS doc_id")
    val pr = timed(s"pagerank ${nGraph / 1000000}M nodes x5 iter") {
      Graph.pagerank(spark, docs).collect()
    }
    require(pr.length == 20 && pr.head.getLong(1) >= Graph.Scale * 15 / 100,
      "pagerank top-20 malformed")

    // ---- Triangles: 300k nodes / ~900k edges
    val nTri = (300e3 * m).toLong
    val tri = timed(s"triangles ${nTri / 1000}k nodes") {
      Graph.triangles(spark, spark.range(nTri).selectExpr("id AS doc_id"))
        .collect().head
    }
    println(s"[analyticsscale]   triangles=${tri.getAs[Long]("n_triangles")} " +
      s"edges=${tri.getAs[Long]("n_edges")}")

    // ---- EWMA + funnel: 20M events over 1M users
    val nEvents = (20e6 * m).toLong
    val nUsers = (1e6 * m).toLong
    val events = spark.range(nEvents).selectExpr(
      "id AS event_id",
      s"timestamp_micros(1700000000000000 + id * 1000000) AS ts",
      s"id % $nUsers AS user_id",
      "CAST((id % 1000) AS DOUBLE) / 10.0 AS value",
      // deterministic pseudo-random event type mix (id % 5 would give
      // every user a single type: the user count divides 5's period)
      "element_at(array('view','click','purchase','error','signup'), " +
        "CAST(pmod(hash(id), 5) AS INT) + 1) AS event_type")
    val ew = timed(s"ewmaLast ${nEvents / 1000000}M events / " +
        s"${nUsers / 1000000}M users") {
      TimeSeriesOps.ewmaLast(events).count()
    }
    require(ew == nUsers, s"expected $nUsers ewma rows, got $ew")
    val fu = timed(s"funnel ${nEvents / 1000000}M events") {
      TimeSeriesOps.funnel(events).collect().head
    }
    println(s"[analyticsscale]   funnel=${fu.mkString(",")}")

    // ---- session-3 additions: CC/BFS on the 2M-node graph, sweep-line
    // concurrency + autocorrelation + Holt on the 20M events, HLL
    // estimate on the sketch input, systematic sampling on a synthetic
    // weighted corpus
    val cc = timed(s"connectedComponents ${nGraph / 1000000}M nodes") {
      Graph.connectedComponents(spark, docs).groupBy("component").count()
        .orderBy(desc("count")).limit(3).collect()
    }
    println(s"[analyticsscale]   top components=${cc.mkString(",")}")
    val bf = timed(s"bfs ${nGraph / 1000000}M nodes") {
      Graph.bfs(spark, docs).groupBy("hops").count().orderBy("hops")
        .collect()
    }
    println(s"[analyticsscale]   bfs hop histogram=${bf.mkString(",")}")
    val hll = timed(s"hllEstimate ${nSketch / 1000000}M rows / 32 groups") {
      val df = spark.range(nSketch).selectExpr(
        "CAST(id % 32 AS STRING) AS g",
        s"concat('doc ', id % 32, ':', (id DIV 32) % $distinctPerGroup) AS v")
      Sketches.hllEstimate(df, "g", col("v")).collect()
    }
    hll.foreach { r =>
      val est = r.getAs[Double]("est_distinct")
      val err = math.abs(est - distinctPerGroup) / distinctPerGroup
      require(err < 0.5, s"HLL estimate off by ${err * 100}%: $est")
    }
    val cc2 = timed(s"concurrency ${nEvents / 1000000}M events") {
      TimeSeriesOps.concurrency(events).collect()
    }
    println(s"[analyticsscale]   concurrency=${cc2.mkString(",")}")
    val ac = timed(s"autocorr ${nEvents / 1000000}M events") {
      TimeSeriesOps.autocorr(events).count()
    }
    require(ac == nUsers, s"expected $nUsers autocorr rows, got $ac")
    val ho = timed(s"holt ${nEvents / 1000000}M events") {
      TimeSeriesOps.holt(events).count()
    }
    require(ho == nUsers, s"expected $nUsers holt rows, got $ho")
    val nDocs = (20e6 * m).toLong
    val ws = timed(s"weightedSample ${nDocs / 1000000}M docs") {
      val docsW = spark.range(nDocs).selectExpr("id AS doc_id",
        "100 + pmod(hash(id), 900) AS n_chars")
      graft.operators.PipelineOps.weightedSample(docsW, k = 1000).count()
    }
    println(s"[analyticsscale]   weightedSample picked $ws of target 1000")

    // ---- session-4 additions: k-core + link prediction on the graph
    // families, CUSUM changepoint on the 20M events, collocations over
    // a synthetic worded corpus, PCA over 1M synthetic embeddings
    val kc = timed(s"kcore ${nGraph / 1000000}M nodes") {
      Graph.kcore(spark, docs).agg(
        count(lit(1)).as("n"), min("core_deg"), max("core_deg"))
        .collect().head
    }
    println(s"[analyticsscale]   kcore=${kc.mkString(",")}")
    val lp = timed(s"linkPrediction ${nTri / 1000}k nodes") {
      Graph.linkPrediction(spark,
        spark.range(nTri).selectExpr("id AS doc_id")).collect()
    }
    require(lp.length == 100 && lp.head.getLong(2) >= lp.last.getLong(2),
      "link prediction top-100 malformed")
    val cp = timed(s"changepoint ${nEvents / 1000000}M events") {
      TimeSeriesOps.changepoint(events).count()
    }
    require(cp == nUsers, s"expected $nUsers changepoint rows, got $cp")
    val nColl = (2e6 * m).toLong
    val co = timed(s"collocations ${nColl / 1000000}M docs x 20 words") {
      // 20-word docs over a 4096-word vocabulary — frequent words are
      // ubiquitous, so this drives the pair join at full vocab density
      val docsT = spark.range(nColl).selectExpr("id AS doc_id",
        """concat_ws(' ', transform(sequence(0, 19),
          |  i -> concat('w', pmod(hash(id * 31 + i), 4096)))) AS text"""
          .stripMargin)
      graft.operators.TextAnalysis
        .collocations(docsT, minSup = 500, maxVocab = 512).collect()
    }
    require(co.length <= 100, "collocations topK overflow")
    val nVec = (1e6 * m).toLong
    val pc = timed(s"pca ${nVec / 1000000}M x 64 embeddings") {
      val emb = spark.range(nVec).selectExpr("id AS vec_id",
        """transform(sequence(0, 63),
          |  i -> CAST(pmod(hash(id * 67 + i), 2000) - 1000 AS FLOAT)
          |       / 2000.0) AS embedding""".stripMargin)
      Similarity.pcaTopComponent(emb).collect()
    }
    require(pc.length == 64, s"expected 64 PCA loadings, got ${pc.length}")

    // ---- session-5 additions: Holt-Winters + seasonal decompose +
    // transitions + paths + hopping window on the 20M events (231
    // synthetic days), KMV set-difference on the 20M-row sketch input
    val pp = timed(s"personalizedPagerank ${nGraph / 1000000}M nodes x5 iter") {
      Graph.personalizedPagerank(spark, docs).collect()
    }
    require(pp.length == 20 && pp.forall(_.getLong(1) > 0L),
      "ppr top-20 malformed")
    val ht = timed(s"hits ${nGraph / 1000000}M nodes x5 iter") {
      Graph.hits(spark, docs).collect()
    }
    require(ht.length == 20 && ht.head.getLong(1) > 0L,
      "hits top-20 malformed")
    val sp = timed(s"sssp ${nGraph / 1000000}M nodes x${Graph.SsspHops} rounds") {
      Graph.sssp(spark, docs).agg(
        count(lit(1)).as("n"), max("cost")).collect().head
    }
    println(s"[analyticsscale]   sssp reached=${sp.mkString(",")}")
    val hw = timed(s"holtWinters ${nEvents / 1000000}M events") {
      TimeSeriesOps.holtWinters(events).count()
    }
    println(s"[analyticsscale]   holtWinters rows=$hw")
    val de = timed(s"decompose ${nEvents / 1000000}M events") {
      TimeSeriesOps.decompose(events).collect()
    }
    require(de.length <= 5 * 7, s"decompose shape: ${de.length} rows")
    val tr = timed(s"transitions ${nEvents / 1000000}M events") {
      TimeSeriesOps.transitions(events).collect()
    }
    require(tr.length <= 25, s"transitions shape: ${tr.length} rows")
    val pa = timed(s"paths ${nEvents / 1000000}M events") {
      TimeSeriesOps.paths(events).collect()
    }
    require(pa.length == 20, s"paths top-20: ${pa.length} rows")
    val hop = timed(s"hoppingWindow ${nEvents / 1000000}M events") {
      events.groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .count()
    }
    println(s"[analyticsscale]   hopping buckets=$hop")
    val kd = timed(s"kmvDifference ${nSketch / 1000000}M rows") {
      val df = spark.range(nSketch).selectExpr(
        s"concat('doc ', id % 32, ':', (id DIV 32) % $distinctPerGroup) AS v",
        "id")
      Sketches.kmvDifference(
        df.filter(col("id") % 2 === 0), df.filter(col("id") % 3 === 0),
        "v").collect().head
    }
    println(s"[analyticsscale]   kmvDifference=${kd.mkString(",")}")
    // sketch-only path first (the 100 TB shape: WindowGroupLimit
    // forwards <= K rows/group per map task), then the exact companion
    // (a FULL per-group rank — with 5 groups that is 5 reducers each
    // sorting 4M rows: the cost the sketch exists to avoid)
    val qs = timed(s"quantileSketch ${nEvents / 1000000}M events / 5 groups " +
        "(sketch only)") {
      Sketches.quantileSketch(events, "event_type", col("event_id"),
        col("value"), withExact = false).collect()
    }
    qs.foreach { r =>
      // value is uniform 0..99.9: the sampled median must be well
      // inside the bulk (a rank-level 3-sigma check like the oracle's)
      val p50 = r.getAs[Double]("p50_est")
      require(p50 > 30.0 && p50 < 70.0, s"quantile sketch p50 $p50")
    }
    timed(s"quantileSketch ${nEvents / 1000000}M events (with exact " +
        "companion — the full-sort contrast)") {
      Sketches.quantileSketch(events, "event_type", col("event_id"),
        col("value")).collect()
    }

    // ---- round-10 additions: forecast backtest + hopping-window HLL
    // on the 20M events, token entropy over the 2M worded docs
    // (ann_sim_histogram rides knnJoin's banded candidate machinery,
    // already smoked + volume-guarded via ann_band_stats)
    val fe = timed(s"forecastEval ${nEvents / 1000000}M events") {
      graft.operators.TimeSeriesOps.forecastEval(events).collect().head
    }
    require(fe.getLong(0) == nUsers,
      s"forecast eval covered ${fe.getLong(0)} of $nUsers users")
    println(s"[analyticsscale]   forecastEval=${fe.mkString(",")}")
    val hh = timed(s"hoppingHll ${nEvents / 1000000}M events") {
      val expanded = events
        .select(window(col("ts"), "1 hour", "30 minutes").as("w"),
          col("event_type"), col("user_id"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"), col("event_type"), col("user_id"))
      Sketches.hllEstimateGrouped(expanded, Seq("bucket", "event_type"),
        col("user_id").cast("string")).count()
    }
    println(s"[analyticsscale]   hopping HLL groups=$hh")
    val en = timed(s"entropy ${nColl / 1000000}M docs x 20 words") {
      val docsT = spark.range(nColl).selectExpr("id AS doc_id",
        """concat_ws(' ', transform(sequence(0, 19),
          |  i -> concat('w', pmod(hash(id * 31 + i), 4096)))) AS text"""
          .stripMargin)
      graft.operators.TextAnalysis.entropy(docsT).collect()
    }
    require(en.nonEmpty && en.map(_.getLong(1)).sum == nColl,
      "entropy histogram does not cover the corpus")

    // ---- round-11 additions: weighted PageRank on the 2M-node graph,
    // sessionized funnel on the 20M events
    val wp = timed(s"weightedPagerank ${nGraph / 1000000}M nodes x5 iter") {
      Graph.weightedPagerank(spark, docs).collect()
    }
    require(wp.length == 20 && wp.head.getLong(1) >= Graph.Scale * 15 / 100,
      "weighted pagerank top-20 malformed")
    // denser per-user stream (1k users -> consecutive gaps ~1000s <
    // 30min) so the sessionizer actually MERGES long event chains —
    // the main `events` set's per-user gaps are all session breaks
    val sf = timed(s"sessionFunnel ${nEvents / 1000000}M events") {
      val dense = events.withColumn("user_id", col("event_id") % 1000)
      TimeSeriesOps.sessionFunnel(dense).collect().head
    }
    require(sf.getLong(0) >= sf.getLong(1) && sf.getLong(1) >= sf.getLong(2)
      && sf.getLong(2) >= sf.getLong(3),
      s"session funnel not monotone: ${sf.mkString(",")}")
    println(s"[analyticsscale]   sessionFunnel=${sf.mkString(",")}")
    val mo = timed(s"modularity ${nGraph / 1000000}M nodes x" +
        s"${Graph.ModularityRounds} rounds") {
      Graph.modularity(spark, docs).collect().head
    }
    require(mo.getLong(0) > 1, "modularity partition collapsed")
    println(s"[analyticsscale]   modularity=${mo.mkString(",")}")

    // ---- round-12 additions: edge support + the k-truss peel on the
    // same 2M-node/~6M-edge graph the other whole-graph ops smoke at.
    // Support runs the degree-oriented wedge+closing join once; the
    // peel repeats it on a monotonically SHRINKING survivor set, so
    // the first round dominates — a peel needing more rounds than
    // TrussRounds throws loudly here rather than silently diverging
    // from the oracle's unroll depth.
    val es = timed(s"edgeSupport ${nGraph / 1000000}M nodes") {
      Graph.edgeSupport(spark, docs).collect()
    }
    require(es.nonEmpty && es.map(_.getLong(1)).sum > 0,
      "edge support histogram empty")
    println(s"[analyticsscale]   edgeSupport histogram=${es.mkString(",")}")
    val kt = timed(s"ktruss ${nGraph / 1000000}M nodes") {
      Graph.ktruss(spark, docs).collect().head
    }
    require(kt.getLong(1) >= 0 && kt.getLong(2) >= 0, "ktruss malformed")
    println(s"[analyticsscale]   ktruss=${kt.mkString(",")}")
    val lv = timed(s"louvainRefine ${nGraph / 1000000}M nodes x" +
        s"${Graph.LouvainPhases} phases") {
      Graph.louvainRefine(spark, docs).collect().head
    }
    // Q_refined >= Q_seed is an INVARIANT since r14: each phase's
    // candidate is accepted only when its exactly-recomputed Q does
    // not decrease (Graph.LouvainPhases doc) — so the smoke asserts it
    require(lv.getLong(3) >= lv.getLong(2),
      s"louvain monotonicity guard violated: ${lv.mkString(",")}")
    println(s"[analyticsscale]   louvain=${lv.mkString(",")} " +
      s"(rejected_phases=${lv.getLong(6)})")

    // ---- round-12: degree assortativity — one pass of exact long
    // sufficient statistics over the degree-joined edges
    val as = timed(s"assortativity ${nGraph / 1000000}M nodes") {
      Graph.assortativity(spark, docs).collect().head
    }
    require(as.getLong(0) > 0 && !as.isNullAt(1) &&
      as.getDouble(1) >= -1.0 && as.getDouble(1) <= 1.0,
      s"assortativity out of range: ${as.mkString(",")}")
    println(s"[analyticsscale]   assortativity=${as.mkString(",")}")

    // ---- round-12: market-basket co-occurrence — 4M baskets x 5 items
    // = 20M basket rows, C(5,2) = 10 pair rows per basket
    val nBaskets = (4e6 * m).toLong
    val baskets = spark.range(nBaskets * 5).selectExpr(
      "id DIV 5 AS l_orderkey",
      // ~2000 items, skewed co-membership via the shared residue
      "(id % 5) * 400 + (id DIV 5) % 400 AS l_partkey")
    val cooc = timed(s"cooccurrence ${nBaskets / 1000000}M baskets") {
      Graph.cooccurrence(baskets).collect()
    }
    require(cooc.length == 20 && cooc.forall(_.getDouble(3) > 0),
      "cooccurrence top-20 malformed")
    println(s"[analyticsscale]   top pair support=${cooc.head.getLong(2)}")

    // ---- round-14: the dense-bucket cap on an ADVERSARIALLY clustered
    // corpus. 2M 64-dim vectors with only 1024 distinct sign backbones
    // (~2k members per cluster), so sign-LSH buckets are ~125k deep and
    // the EXACT banded join implies sum(cnt²) ~ 1e12 candidate pairs —
    // uncomputable by any blocking. The volume guard must SEE that, and
    // knnJoinCapped must complete with bounded work anyway (pair volume
    // <= bands x keys x cap² = 16x16x64 = 16,384 before dedup).
    val nKnn = (2e6 * m).toLong
    val embC = spark.range(nKnn).selectExpr("id AS vec_id",
      """transform(sequence(0, 63),
        |  i -> CAST((pmod(hash((id % 1024) * 67 + i), 2000) - 1000)
        |         / 2000.0
        |       + (pmod(hash(id * 13 + i), 100)) / 1e6 AS FLOAT))
        |  AS embedding""".stripMargin)
    val bs = timed(s"bandCandidateStats ${nKnn / 1000000}M clustered vecs") {
      Similarity.bandCandidateStats(embC).collect().head
    }
    require(bs.getLong(0) > nKnn * 100,
      s"expected a degenerate banding (pairs >> n), got ${bs.mkString(",")}")
    println(s"[analyticsscale]   band_pairs=${bs.getLong(0)} " +
      s"max_bucket=${bs.getLong(2)} (exact join uncomputable here)")
    val kj = timed(s"knnJoinCapped ${nKnn / 1000000}M clustered vecs") {
      Similarity.knnJoinCapped(embC).collect()
    }
    require(kj.nonEmpty, "capped join emitted no rows")
    // every surviving vec_a emits <= k rows; survivors <= bands x keys
    // x cap distinct ids
    require(kj.length <= 16 * 16 * 8 * 3,
      s"capped join emitted ${kj.length} rows — cap not bounding")
    println(s"[analyticsscale]   knnJoinCapped rows=${kj.length}")
    spark.stop()
  }
}
