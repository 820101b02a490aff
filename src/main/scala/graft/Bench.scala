package graft
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
object Bench {
  /** A query exceeding this gets one rerun; min is recorded. Every
    * query in the suite runs well under this on a healthy JVM/host. */
  val RerunThresholdSec = 15.0

  /** Per-query regression visibility (r10 verdict item 2): the
    * suite-level 1.3x steal gate explains broad host warmth but
    * attributed a 2.24x SINGLE-query regression to it. Any
    * anchor-matched query whose final min exceeds PerQueryFlagRatio x
    * its anchor AND whose absolute excess clears FlagFloorSec (sub-
    * second queries jitter multiplicatively; a 0.05->0.12s wobble is
    * noise, not a regression) lands in the artifact's "flagged" map
    * with its ratio, plus a stderr warning — visible even when the
    * suite ratio sails under the 1.3x gate.
    */
  val PerQueryFlagRatio = 1.5
  val FlagFloorSec = 0.25

  /** Pure flag computation, spec-pinned on a synthetic fixture. */
  def flaggedQueries(best: Map[String, Double],
      anchor: Map[String, Double]): Seq[(String, Double)] =
    best.toSeq
      .flatMap { case (n, t) =>
        anchor.get(n).collect {
          case a if a > 0 && t / a > PerQueryFlagRatio &&
            t - a > FlagFloorSec => n -> t / a
        }
      }
      .sortBy { case (n, r) => (-r, n) }

  /** Isolated re-measurement of flagged queries: each runs `repeat`
    * times and the MIN is the isolated timing — the same min-of-N
    * discipline as the suite passes (r12 verdict item 2: a single-shot
    * isolation run turned a one-sample GC/state-store tail into a
    * CONFIRMED regression — `graph_degree_dist` "5.5x isolated" on a
    * 0.596s-anchor query). Pure over the injected runner; spec-pinned.
    */
  def isolatedTimes(flags: Seq[(String, Double)], repeat: Int,
      run: String => Double): Map[String, Double] =
    flags.map { case (n, _) =>
      n -> (1 to repeat.max(1)).map(_ => run(n)).min
    }.toMap

  /** Adjudicate suite-time flags against an end-of-suite ISOLATED
    * re-run of each flagged query (r11 verdict item 2: four driver-run
    * flags were adjudicated as environment variance by a human reading
    * a same-code run from 28 minutes earlier — the artifact itself
    * should settle variance vs. regression). A flag CONFIRMS only if
    * the isolated time still trips the same ratio+floor rule;
    * otherwise it clears (the suite hit was a transient — steal
    * window, page-cache cold start — not the code). Returns
    * (confirmed, cleared), each (name, suiteRatio, isolatedRatio),
    * most-severe first by the isolated ratio. Pure; spec-pinned.
    */
  def adjudicateFlags(suiteFlags: Seq[(String, Double)],
      isolated: Map[String, Double],
      anchor: Map[String, Double])
      : (Seq[(String, Double, Double)], Seq[(String, Double, Double)]) = {
    val judged = suiteFlags.flatMap { case (n, suiteRatio) =>
      for (t <- isolated.get(n); a <- anchor.get(n) if a > 0)
        yield (n, suiteRatio, t / a,
          t / a > PerQueryFlagRatio && t - a > FlagFloorSec)
    }
    (judged.collect { case (n, s, i, true) => (n, s, i) }
       .sortBy { case (n, _, i) => (-i, n) },
     judged.collect { case (n, s, i, false) => (n, s, i) }
       .sortBy { case (n, _, i) => (-i, n) })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed session warm-up: JVM/JIT/codegen/scheduler spin-up was
    // previously absorbed by whichever query ran first alphabetically
    // (~6s charged to ann_ivf in r1/r2 benches)
    spark.range(1000000).selectExpr("bit_xor(xxhash64(id))").collect()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val reran = scala.collection.mutable.ListBuffer.empty[String]
    // checksum over every output column — count() let Catalyst prune
    // unreferenced projections, timing a row-count scan instead of the
    // operator being advertised (r1 verdict finding 4); bit_xor cannot
    // overflow under ANSI (sum of hashes does) and stays order-free
    def runOnce(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try {
        val df = fn(spark, sfDir)
        df.agg(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*)))).collect()
      } catch { case e: Throwable =>
        // a failure must be machine-visible in the JSON, not just on
        // stderr — otherwise a time-to-exception reads as a real timing
        // in round-over-round compares (ADVICE r2)
        if (!failed.contains(name)) failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      } finally CacheScope.drain() // no cache outlives its query (r10 #3)
      (System.nanoTime() - t0) / 1e9
    }
    // dev-only filter for micro-benchmarking a subset in isolation
    // (unset — the driver's case — runs the full suite). REPEAT runs the
    // whole suite N times in one warm JVM and records each query's MIN
    // across runs UNCONDITIONALLY: this host degrades episodically
    // (documented: single-thread JVM throughput collapses 30-100x for
    // minutes while the host stays otherwise quiet), and two rounds of
    // committed bench JSON were steal-poisoned because only >15s
    // outliers got a rerun. Min-of-N is standard noise-robust
    // benchmarking; default N=2 so even an env-less driver run gets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').toSet)
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt.max(1)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(kv => only.forall(_.contains(kv._1)))
    val best = scala.collection.mutable.Map.empty[String, Double]
    (1 to repeat).foreach { r =>
      selected.foreach { case (name, fn) =>
        val t = runOnce(name, fn)
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
        System.err.println(f"[bench] run $r/$repeat: $name ${t}%.2fs")
      }
    }
    // Suite-level steal detector (r7 AND r8 committed steal-poisoned
    // artifacts): min-of-N is blind when one steal window spans every
    // repeat, but the COMMITTED prior clean run is not. If the queries
    // matched against BENCH_ANCHOR.json (last idle-host run) sum to
    // >1.3x their anchor sum, the whole suite gets extra min-folded
    // passes; still hot after that -> host_suspect flags the artifact
    // as a measurement of the host, not the code.
    val anchor: Map[String, Double] = {
      val p = java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_ANCHOR", "/root/repo/BENCH_ANCHOR.json"))
      if (!java.nio.file.Files.isRegularFile(p)) Map.empty
      // \s* : a python-min-merged anchor (json.dump default) puts a
      // space after the colon; without it the anchor silently parsed
      // EMPTY and the steal detector was blind (caught in r10)
      else """"([A-Za-z0-9_]+)":\s*([0-9.]+)""".r
        .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }
    def matchedRatio(): Option[Double] = {
      val m = selected.map(_._1).filter(n => anchor.contains(n) &&
        best.contains(n) && !failed.contains(n))
      val anchorSum = m.map(anchor).sum
      if (m.size < 20 || anchorSum <= 0) None
      else Some(m.map(best).sum / anchorSum)
    }
    val StealRatio = 1.3
    var hostSuspect = false
    matchedRatio().filter(_ > StealRatio).foreach { r0 =>
      System.err.println(f"[bench] suite ${r0}%.2fx the committed anchor " +
        "— host-steal suspected, re-measuring")
      var r = r0
      var extra = 0
      while (r > StealRatio && extra < 2) {
        extra += 1
        selected.foreach { case (name, fn) =>
          val t = runOnce(name, fn)
          best(name) = math.min(best.getOrElse(name, Double.MaxValue), t)
          System.err.println(f"[bench] steal-retry $extra: $name ${t}%.2fs")
        }
        r = matchedRatio().getOrElse(0.0)
      }
      hostSuspect = r > StealRatio
    }
    // safety net for a steal window spanning every repeat of one query:
    // a min still above threshold gets one more shot, flagged in JSON
    val results = selected.map { case (name, fn) =>
      val t0 = best(name)
      val t = if (t0 > RerunThresholdSec && !failed.contains(name)) {
        reran += name
        math.min(t0, runOnce(name, fn))
      } else t0
      best(name) = t // keep the anchor-ratio view on the final mins
      name -> t
    }
    // Locale.ROOT: the default-locale f interpolator would emit a comma
    // decimal separator under e.g. de_DE, producing invalid JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qsJson(rs: Seq[(String, Double)]): String =
      rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val reranJson = reran.map("\"" + _ + "\"").mkString("[", ",", "]")
    val ratioJson = matchedRatio()
      .map(r => s""""anchor_ratio":${fmt(r)},""").getOrElse("")
    // Per-query flags from the suite mins, then the ISOLATION pass
    // (r11 item 2): each flagged query re-runs SOLO at suite end, so
    // the artifact itself distinguishes a transient suite hit (clears)
    // from a reproducible regression (confirms) — no human cross-run
    // archaeology. The isolated time also min-folds into the recorded
    // timing (same philosophy as min-of-N: the best observed clean
    // run is the measurement).
    val suiteFlags = flaggedQueries(
      results.filterNot(r => failed.contains(r._1)).toMap, anchor)
    val isolated: Map[String, Double] = isolatedTimes(suiteFlags, repeat,
      n => {
        System.err.println(f"[bench] isolation re-run for flagged $n")
        runOnce(n, SparkEntry.queries(n))
      })
    val (confirmed, cleared) = adjudicateFlags(suiteFlags, isolated, anchor)
    val finalResults = results.map { case (n, t) =>
      n -> isolated.get(n).fold(t)(math.min(t, _))
    }
    confirmed.foreach { case (n, s, i) =>
      System.err.println(f"[bench] WARN $n CONFIRMED ${i}%.2fx its anchor " +
        f"in isolation (${s}%.2fx in suite) — per-query regression (or a " +
        "stale anchor: anchors must be re-measured whole-file on current " +
        "code, never min-merged)")
    }
    cleared.foreach { case (n, s, i) =>
      System.err.println(f"[bench] $n cleared: ${s}%.2fx in suite but " +
        f"${i}%.2fx isolated — transient, not a regression")
    }
    def pairsJson(xs: Seq[(String, Double, Double)]): String = xs
      .map { case (n, s, i) =>
        "\"" + n + "\":{\"suite\":" + fmt(s) + ",\"isolated\":" + fmt(i) + "}"
      }.mkString("{", ",", "}")
    val flaggedJson = pairsJson(confirmed)
    val clearedJson = pairsJson(cleared)
    val total = if (finalResults.nonEmpty) finalResults.map(_._2).sum else 0.0
    def line(rs: Seq[(String, Double)], extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","n_queries":${results.size},$extra$ratioJson"host_suspect":$hostSuspect,"flagged":$flaggedJson,"cleared":$clearedJson,"queries":${qsJson(rs)},"failed":$failedJson,"reran":$reranJson,"repeat":$repeat,"sf":"$sfDir"}"""
    // The driver records only the LAST ~2000 chars of stdout and JSON-parses
    // the final line; 160 queries at full Double precision is ~4KB, which
    // truncated the line and left every prior round's BENCH_r*.json with
    // parsed:null. Stdout gets a size-capped line (per-family totals + as
    // many of the slowest individual queries as fit); the complete per-query
    // map goes to BENCH_FULL.json next to the repo (and to stderr).
    // Stream-drain telemetry (r13 verdict item 4: stream_join measured
    // 3.1x its anchor on the driver host, 1.1x on the build host, and
    // the artifact could not say why): the FULL artifact records where
    // scratch checkpoints landed on THIS host (tmpfs vs disk) and, per
    // drained stream query, the micro-batch count, input rows, and
    // per-batch triggerExecution millis — so drain-scheduling cost vs
    // state-store-IO cost vs post-drain query cost is read off the
    // artifact instead of theorized about.
    val diagExtra = {
      // batches/rows/batch_ms come from the LAST drain; with repeat>1
      // that alone can misattribute a one-off slow drain, so drains +
      // min/max total trigger millis across the WHOLE history ride
      // along (ADVICE r14) — a one-off tail shows as max >> min
      val ds = graft.streaming.EventsStream.drainDiagHistory.toSeq.sortBy(_._1)
      val items = ds.map { case (k, hist) =>
        val d = hist.last
        val totals = hist.map(_.totalMs)
        // a truncated drain's totalMs undercounts (the progress ring
        // dropped its head), so min/max over the history are only
        // trustworthy when no drain truncated. A single boolean can't
        // say WHICH extreme is the artifact (ADVICE r15), so the COUNT
        // of truncated drains rides along: n_trunc == drains means
        // both extremes undercount, 0 < n_trunc < drains means min may
        // be a truncation artifact while max is a real measurement
        val nTrunc = hist.count(_.truncated)
        "\"" + k + "\":{\"batches\":" + d.nBatches + ",\"rows\":" +
          d.inputRows + ",\"batch_ms\":[" + d.batchMs.mkString(",") + "]" +
          ",\"drains\":" + hist.size + ",\"total_ms_min\":" + totals.min +
          ",\"total_ms_max\":" + totals.max +
          (if (nTrunc > 0)
            ",\"truncated\":true,\"truncated_drains\":" + nTrunc
           else "") + "}"
      }.mkString("{", ",", "}")
      val base = try graft.streaming.EventsStream.scratchBase
        catch { case _: Exception => "unknown" }
      System.err.println(s"[bench] scratch_base=$base stream_diag=$items")
      s""""scratch_base":"$base","stream_diag":$items,"""
    }
    val fullLine = line(finalResults, diagExtra)
    val fullPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "/root/repo/BENCH_FULL.json"))
    // a dev micro-bench (SPARK_GRAFT_ONLY subset) must never overwrite
    // the committed full-suite artifacts (it did, in r10)
    if (only.isEmpty)
      java.nio.file.Files.write(fullPath, (fullLine + "\n").getBytes("UTF-8"))
    // round-stamped snapshot next to it (r7 item 8): round-over-round
    // per-query comparison without git archaeology. The round number is
    // the driver's CORRECTNESS_r{N} high-water mark + 1 (the artifact
    // for round N lands at N's END, so during round N the max is N-1).
    val roundNo = sys.env.get("SPARK_GRAFT_ROUND").map(_.toInt).orElse {
      val dir = fullPath.toAbsolutePath.getParent
      val re = """CORRECTNESS_r(\d+)\.json""".r
      val it = java.nio.file.Files.list(dir).iterator()
      val ns = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .flatMap(p => re.findFirstMatchIn(p.getFileName.toString))
        .map(_.group(1).toInt).toSeq
      if (ns.isEmpty) None else Some(ns.max + 1)
    }
    if (only.isEmpty) roundNo.foreach { n =>
      java.nio.file.Files.write(
        fullPath.resolveSibling(f"BENCH_FULL_r$n%02d.json"),
        (fullLine + "\n").getBytes("UTF-8"))
    }
    System.err.println("[bench] full results: " + fullLine)
    val families = finalResults.groupBy(_._1.takeWhile(_ != '_'))
      .map { case (f, rs) => f -> rs.map(_._2).sum }.toSeq.sortBy(_._1)
    val famJson = families.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val slowest = finalResults.sortBy(-_._2)
    val budget = 1800 // tail window 2000 minus sbt's trailing [success] line
    val keep = (slowest.size to 0 by -1).map(slowest.take)
      .find(rs => line(rs, s""""families":$famJson,"full":"$fullPath",""").length <= budget)
      .getOrElse(Seq.empty)
    println(line(keep, s""""families":$famJson,"full":"$fullPath","""))
    spark.stop()
  }
}
