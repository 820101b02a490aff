package graft.tools

import java.nio.file.Files
import graft.operators.Dedup

/** Scale smoke for the cross-corpus dedup family: synthesize a
  * multi-million-document incoming/existing pair with 50% fingerprint
  * overlap (materialized to parquet so generation never pollutes
  * timings), then run the plain anti-join, the bloom prefilter (sized
  * for the corpus), and — on a smaller slice, since shingling dominates
  * — the MinHash near path, printing wall times and cross-checking the
  * exact paths agree row-for-row. Evidence the prefilter's
  * constant-size bloom and the banded near join hold well past the
  * 500-doc correctness corpus. Args: [docsMillions] (default 5).
  *
  * Refuses docsMillions < 2 up front: the boilerplate router section's
  * `require(autoFull == capFull)` asserts the corpus routes CAPPED,
  * which its bucket depths only reach past ~640k boiler docs
  * (bp = nb²/1000 vs the exact bound 256·nb) — at docsMillions = 1
  * (nb = 500k) the guard legitimately routes exact (bp 102M ≤ 128M,
  * measured) and the require would fail by design.
  */
object DedupScaleSmoke {
  def main(args: Array[String]): Unit = {
    val m = if (args.nonEmpty) args(0).toDouble else 5.0
    require(m >= 2, s"docsMillions must be >= 2, got $m: below that the " +
      "boilerplate corpus routes exact, and the router section's " +
      "require(autoFull == capFull) fails by design")
    val n = (m * 1e6).toLong
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[dedupscale] $label: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      r
    }
    val dir = Files.createTempDirectory("graft-dedupscale-").toString
    // existing ids [0, n); incoming ids [n/2, 3n/2) -> 50% overlap,
    // survivors are exactly the ids >= n
    spark.range(n).selectExpr("id AS doc_id",
        "concat('document number ', id, ' body text') AS text")
      .write.parquet(s"$dir/existing")
    spark.range(n).selectExpr(s"id + ${n / 2} AS doc_id",
        s"concat('document number ', id + ${n / 2}, ' body text') AS text")
      .write.parquet(s"$dir/incoming")
    val ex = spark.read.parquet(s"$dir/existing")
    val in = spark.read.parquet(s"$dir/incoming")
    val plain = timed(s"crossCorpusNew ${n}x$n")(
      Dedup.crossCorpusNew(in, ex).count())
    // inline prefilter, saturated regime (~0.8 bits/element): nearly
    // every probe is a false positive, everything rides the
    // exact-confirm path — the correctness worst case
    val bloomSat = timed(s"bloomPrefilterNew bits=2^22 (saturated)")(
      Dedup.bloomPrefilterNew(in, ex, bits = 1 << 22).count())
    require(plain == bloomSat, s"saturated bloom diverged: $plain vs $bloomSat")
    require(plain == n / 2, s"expected ${n / 2} survivors, got $plain")
    // the real lifecycle: build the index ONCE (bloom sized ~13
    // bits/element, fpp well under 1% — 2^26 bits is 1M words, past
    // the broadcast gate, so probes join the bloom co-partitioned),
    // then probe a small mostly-new batch per "crawl": 10% dups. The
    // per-batch win is what the prefilter exists for — the batch's own
    // fingerprinting + a bloom probe + a confirm join on only the
    // bloom-positive sliver, never a full-corpus join per batch.
    val root = Files.createTempDirectory("graft-bloomidx-").toString
    timed(s"buildBloomIndex $n docs, bits=2^26 (one-time)")(
      Dedup.buildBloomIndex(spark, ex, root, "corp", "bloom",
        bits = 1 << 26))
    val b = n / 10
    val batch = spark.range(b).selectExpr(
      // first 10% of ids overlap the existing corpus, the rest are new
      s"CASE WHEN id < ${b / 10} THEN id ELSE id + $n END AS doc_id",
      s"concat('document number ', CASE WHEN id < ${b / 10} THEN id " +
        s"ELSE id + $n END, ' body text') AS text")
    batch.write.parquet(s"$dir/batch")
    val batchDf = spark.read.parquet(s"$dir/batch")
    val plainBatch = timed(s"crossCorpusNew batch ${b}x$n (per-batch join)")(
      Dedup.crossCorpusNew(batchDf, ex).count())
    val probed = timed(s"probeBloomIndexed batch $b (indexed)")(
      Dedup.probeBloomIndexed(spark, batchDf, root, "corp", "bloom").count())
    require(plainBatch == probed, s"indexed diverged: $plainBatch vs $probed")
    require(probed == b - b / 10, s"expected ${b - b / 10}, got $probed")
    // near path on a 25x smaller slice: per-doc shingle + 16-rehash
    // cost dominates, the join itself is banded
    val k = math.max(n / 25, 1000L)
    val exS = ex.limit(k.toInt)
    val inS = in.limit(k.toInt)
    val near = timed(s"crossCorpusNear ${k}x$k")(
      Dedup.crossCorpusNear(inS, exS).count())
    println(s"[dedupscale] near survivors: $near of $k")
    // --- near-dup SIGNATURE INDEX at full corpus scale, mirroring the
    // bloom tiers: build once (the expensive shingle + 16-rehash pass
    // over the whole corpus), append a delta, probe a batch paying only
    // the batch's own signatures — and run the candidate-volume guard
    // first, as a production pipeline would.
    val nroot = Files.createTempDirectory("graft-nearidx-").toString
    timed(s"buildNearIndex $n docs (one-time)")(
      Dedup.buildNearIndex(spark, ex, nroot, "corp", "sig"))
    // delta ids [2n, 2n+b): disjoint from existing, incoming, and batch
    val delta = spark.range(2 * n, 2 * n + b).selectExpr("id AS doc_id",
      "concat('document number ', id, ' body text') AS text")
    timed(s"refreshNearIndex $b docs (delta append)")(
      Dedup.refreshNearIndex(spark, delta, nroot, "corp", "sig"))
    val sigIndex = graft.plans.Mor.read(spark, nroot, "corp", "sig")
    val guard = timed(s"crossBandStats batch $b vs $n-doc index (guard)")(
      Dedup.crossBandStatsFromSigs(
        Dedup.minhashSignatures(batchDf), sigIndex).head())
    println(s"[dedupscale]   guard: cand_pairs=${guard.getLong(0)} " +
      s"hot_buckets=${guard.getLong(1)} max_bucket_pairs=${guard.getLong(2)}")
    val nearProbe = timed(s"probeNearIndexed batch $b (indexed)")(
      Dedup.probeNearIndexed(spark, batchDf, nroot, "corp", "sig").count())
    // the direct path re-shingles the ENTIRE existing corpus per batch
    // — the cost the persisted index exists to avoid; answers must agree
    val nearDirect = timed(s"crossCorpusNear batch ${b}x${n + b} (direct)")(
      Dedup.crossCorpusNear(batchDf, ex.unionByName(delta)).count())
    require(nearProbe == nearDirect,
      s"near index diverged: direct $nearDirect vs indexed $nearProbe")
    println(s"[dedupscale] near batch survivors: $nearProbe of $b")
    // --- exact Jaccard: full inverted join vs PREFIX-FILTERED join on
    // a worded near-dup corpus (k2 docs, every odd doc a one-word-
    // appended copy of its even sibling -> J = 13/14 per pair). Both
    // paths must find exactly the same pairs; the prefix path indexes
    // only each doc's ~(1-tau)|A|+1 rarest shingles.
    val k2 = math.max(n / 25, 1000L)
    spark.range(k2).selectExpr("id AS doc_id",
        """concat(concat_ws(' ', transform(sequence(0, 15),
          |  i -> concat('t', pmod(hash((id DIV 2) * 131 + i), 50000)))),
          |  CASE WHEN id % 2 = 1 THEN ' extraword' ELSE '' END) AS text"""
          .stripMargin)
      .write.parquet(s"$dir/worded")
    val worded = spark.read.parquet(s"$dir/worded")
    val fullJ = timed(s"ngramJaccard $k2 worded docs (full inverted join)")(
      Dedup.ngramJaccard(worded).count())
    val prefJ = timed(s"prefixJaccard $k2 worded docs (prefix-filtered)")(
      Dedup.prefixJaccard(worded).count())
    require(fullJ == prefJ, s"prefix path diverged: $fullJ vs $prefJ")
    require(fullJ == k2 / 2, s"expected ${k2 / 2} sibling pairs, got $fullJ")
    println(s"[dedupscale] jaccard pairs: $fullJ (paths agree)")

    // ---- boilerplate-heavy corpus: the text-side dense-bucket regime
    // (r15). 10% of docs are exact copies of only 100 templates (the
    // copy ids are multiples of 10, so `id % 1000` hits just the 100
    // multiples of 10 — ADVICE r15), so those MinHash buckets run
    // ~nb/1000 deep and the EXACT band join
    // is quadratic in copy multiplicity; the capped path bounds pair
    // volume at buckets x cap^2 and the auto router must pick it from
    // the guard aggregate alone. Exact runs on a 10x smaller slice for
    // the growth contrast (on the full corpus it would be the 100x
    // blow-up this family exists to avoid).
    val nb = math.max(n / 2, 10000L) // boilerplate corpus size
    spark.range(nb).selectExpr("id AS doc_id",
        """CASE WHEN id % 10 = 0
          |  THEN concat('boilerplate template number ', id % 1000,
          |              ' repeated across the crawl')
          |  ELSE concat('unique document ', id, ' body text words here')
          |END AS text""".stripMargin)
      .write.parquet(s"$dir/boiler")
    val boiler = spark.read.parquet(s"$dir/boiler")
    val slice = boiler.filter(s"doc_id < ${nb / 10}")
    val exSlice = timed(s"minhashLsh ${nb / 10} boilerplate docs (EXACT)")(
      Dedup.minhashLsh(slice).count())
    graft.CacheScope.drain()
    val capSlice = timed(s"minhashLshCapped ${nb / 10} (capped twin)")(
      Dedup.minhashLshCapped(slice).count())
    graft.CacheScope.drain()
    val capFull = timed(s"minhashLshCapped $nb boilerplate docs")(
      Dedup.minhashLshCapped(boiler).count())
    graft.CacheScope.drain()
    val autoFull = timed(s"minhashLshAuto $nb (guard + routed)")(
      Dedup.minhashLshAuto(boiler).count())
    graft.CacheScope.drain()
    require(autoFull == capFull,
      s"auto router did not take the capped path: $autoFull vs $capFull")
    println(s"[dedupscale] boilerplate: exact@${nb / 10}=$exSlice pairs, " +
      s"capped@${nb / 10}=$capSlice, capped@$nb=$capFull (auto agrees)")
    // ---- capped-survivor CLUSTER INDEX lifecycle (r16) on a
    // boilerplate-heavy corpus with REALISTIC document length (~50
    // words — the 8-word bodies above make the corpus-wide shingle
    // pass unrealistically cheap, hiding the refresh economics): the
    // production artifact whose dense-corpus path this family exists
    // for. Build on the first 2/3, fold the last 1/3 in as a delta,
    // and require the refreshed labels equal a from-scratch capped
    // build of the full corpus BIT-FOR-BIT (the semilattice fold
    // contract) — at corpus scale, not spec scale. An exact build
    // (PairSource.Exact) would refuse this corpus outright (its band
    // buckets run ~nb/1000 deep).
    import graft.operators.PipelineOps
    spark.range(nb).selectExpr("id AS doc_id",
        """CASE WHEN id % 10 = 0
          |  THEN concat('boilerplate template number ', id % 1000, ' ',
          |    concat_ws(' ', transform(sequence(0, 39),
          |      i -> concat('tmpl', (id % 1000) * 40 + i))))
          |  ELSE concat('unique document ', id, ' ',
          |    concat_ws(' ', transform(sequence(0, 39),
          |      i -> concat('w', id * 40 + i))))
          |END AS text""".stripMargin)
      .write.parquet(s"$dir/boilerlong")
    val boilerLong = spark.read.parquet(s"$dir/boilerlong")
    val base3 = boilerLong.filter(s"doc_id % 3 != 0")
    val delta3 = boilerLong.filter(s"doc_id % 3 = 0")
    val iroot = Files.createTempDirectory("graft-clidx-").toString
    timed(s"buildClusterIndex capped ${nb * 2 / 3} boilerplate docs")(
      PipelineOps.buildClusterIndex(spark, base3, iroot, "corp",
        "clusters", PipelineOps.PairSource.Capped()))
    graft.CacheScope.drain()
    timed(s"refreshClusterIndex capped ${nb / 3} delta docs")(
      PipelineOps.refreshClusterIndex(spark, delta3, iroot, "corp",
        "clusters"))
    graft.CacheScope.drain()
    val iroot2 = Files.createTempDirectory("graft-clidx2-").toString
    timed(s"buildClusterIndex capped $nb docs (from-scratch reference)")(
      PipelineOps.buildClusterIndex(spark, boilerLong, iroot2, "corp",
        "clusters", PipelineOps.PairSource.Capped()))
    graft.CacheScope.drain()
    val refreshed = PipelineOps.readClusterIndex(spark, iroot, "corp",
      "clusters")
    val scratch = PipelineOps.readClusterIndex(spark, iroot2, "corp",
      "clusters")
    val diverged = timed("refresh-equals-rebuild check")(
      refreshed.exceptAll(scratch).count() +
        scratch.exceptAll(refreshed).count())
    require(diverged == 0L,
      s"capped index refresh diverged from rebuild on $diverged label rows")
    println(s"[dedupscale] capped cluster index: refresh == rebuild on " +
      s"$nb docs (${refreshed.count()} labels)")
    // the steady-state economics: a SMALL delta (1% of the corpus)
    // against the full index. Refresh pays the delta's shingle pass +
    // the index-sized relabel; a rebuild would pay the CORPUS-wide
    // shingle pass + the same relabel — the gap is the avoided
    // full-corpus signature cost, which grows with the corpus while
    // the delta's stays fixed.
    // EIGHT successive small deltas (r19): MaxSurvDeleteFiles = 8, so
    // the loop's last refresh triggers the auto-compaction — the
    // delete-scoped fold (Maintenance.compactDeletes) runs INSIDE the
    // measured steady state, and the union-reference check below
    // covers its output, not just fresh delta commits
    val step = math.max(1L, nb / 800)
    timed(s"8 x refreshClusterIndex capped $step delta vs $nb-doc index " +
      "(steady state, auto-compaction inside the loop)") {
      for (k <- 0L until 8L) {
        PipelineOps.refreshClusterIndex(spark,
          spark.range(10 * nb + k * step, 10 * nb + (k + 1) * step)
            .selectExpr("id AS doc_id",
              "concat('fresh crawl document ', id, ' new body words') " +
                "AS text"),
          iroot2, "corp", "clusters")
        graft.CacheScope.drain()
      }
    }
    val small = spark.range(10 * nb, 10 * nb + 8 * step).selectExpr(
      "id AS doc_id",
      "concat('fresh crawl document ', id, ' new body words') AS text")
    // the small-delta path is CHECKED, not just timed (r16 advice): the
    // refreshed labels must equal a from-scratch capped build of the
    // union corpus, same contract as the 1/3-delta fold above — a
    // regression in the steady-state fold cannot pass this smoke
    // silently
    val iroot3 = Files.createTempDirectory("graft-clidx3-").toString
    timed(s"buildClusterIndex capped ${nb + 8 * step} docs (union reference)")(
      PipelineOps.buildClusterIndex(spark, boilerLong.unionByName(small),
        iroot3, "corp", "clusters", PipelineOps.PairSource.Capped()))
    graft.CacheScope.drain()
    val smallRefreshed = PipelineOps.readClusterIndex(spark, iroot2, "corp",
      "clusters")
    val unionScratch = PipelineOps.readClusterIndex(spark, iroot3, "corp",
      "clusters")
    val divergedSmall = timed("steady-state refresh-equals-rebuild check")(
      smallRefreshed.exceptAll(unionScratch).count() +
        unionScratch.exceptAll(smallRefreshed).count())
    require(divergedSmall == 0L,
      s"steady-state small-delta refresh diverged from rebuild on " +
        s"$divergedSmall label rows")

    // --- EXACT-index steady state (r19, VERDICT r18 item 1): the
    // branch SPARSE corpora route to. A twin-pair corpus (10% of docs
    // have one near-dup partner, distinct bodies across pairs) keeps
    // band buckets 2 deep, so the exact build's density guard passes
    // at any corpus size; the 1%-delta refresh must take the DELTA
    // branch (size route) and fold in delta-sized work — until r19 it
    // paid a full re-propagation over ALL pairs plus a label-snapshot
    // replace per refresh, index-sized however small the delta.
    val ne = nb
    spark.range(ne).selectExpr("id AS doc_id",
        """concat_ws(' ', transform(sequence(0, 39),
          |  i -> concat('sw', (CASE WHEN id % 10 < 2
          |    THEN id - (id % 10) ELSE id END) * 40 + i))) AS text"""
          .stripMargin)
      .write.parquet(s"$dir/sparselong")
    val sparseLong = spark.read.parquet(s"$dir/sparselong")
    val exroot = Files.createTempDirectory("graft-clexd-").toString
    timed(s"buildClusterIndex $ne sparse docs (exact branch)")(
      PipelineOps.buildClusterIndex(spark, sparseLong, exroot, "corp",
        "clusters"))
    graft.CacheScope.drain()
    // every 10th delta doc is an EXACT copy of a distinct base twin
    // group's body, so the delta branch's real fold runs (adjacency
    // delta + scoped relabel + delta label commit) — an all-unique
    // delta would hit the unchanged-adjacency skip and the
    // refresh-equals-rebuild check would pass vacuously (r19 review).
    // The unique 7-word bodies keep every 4-shingle id-bearing, so
    // unique delta docs stay pairwise unrelated (an 8th shared word
    // would hand all of them one common shingle and a quadratic
    // delta-delta pair clique, measured 12.4s vs the true 5.2s).
    val exSmall = spark.range(20 * ne, 20 * ne + ne / 100).selectExpr(
      "id AS doc_id",
      s"""CASE WHEN id % 10 = 0
         |  THEN concat_ws(' ', transform(sequence(0, 39),
         |    i -> concat('sw', (((id - ${20 * ne}) DIV 10) * 10) * 40 + i)))
         |  ELSE concat('fresh sparse doc ', id, ' new body words')
         |END AS text""".stripMargin)
    timed(s"refreshClusterIndex ${ne / 100} delta vs $ne-doc exact index " +
      "(steady state)")(
      PipelineOps.refreshClusterIndex(spark, exSmall, exroot, "corp",
        "clusters"))
    graft.CacheScope.drain()
    val exroot2 = Files.createTempDirectory("graft-clexd2-").toString
    timed(s"buildClusterIndex ${ne + ne / 100} docs (union reference)")(
      PipelineOps.buildClusterIndex(spark,
        sparseLong.unionByName(exSmall), exroot2, "corp", "clusters"))
    graft.CacheScope.drain()
    val exRefreshed = PipelineOps.readClusterIndex(spark, exroot, "corp",
      "clusters")
    val exScratch = PipelineOps.readClusterIndex(spark, exroot2, "corp",
      "clusters")
    val exDiverged = timed("exact steady-state refresh-equals-rebuild check")(
      exRefreshed.exceptAll(exScratch).count() +
        exScratch.exceptAll(exRefreshed).count())
    require(exDiverged == 0L,
      s"exact steady-state refresh diverged from rebuild on " +
        s"$exDiverged label rows")
    println("[dedupscale] OK")
    spark.stop()
  }
}
