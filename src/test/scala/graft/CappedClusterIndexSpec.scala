package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.{Dedup, PipelineOps}
import graft.operators.PipelineOps.PairSource
import graft.plans.TableIO

/** The CAPPED cluster index (VERDICT r15 item 1): on a dense corpus
  * the exact index gave EITHER incremental refresh OR bounded work —
  * never both. Persisting the per-bucket cap SURVIVORS as index state
  * gives both: top-cap under a static total order is a semilattice
  * (top-cap(A ∪ B) = top-cap(top-cap(A) ∪ B)), so folding a delta's
  * band rows against the frozen survivors reproduces the from-scratch
  * capped rebuild bit-for-bit, while pair volume stays ≤ buckets×cap².
  */
class CappedClusterIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Boilerplate-heavy corpus (the DedupScaleSmoke regime): half the
    * docs are EXACT copies of one template, so its MinHash buckets run
    * n/2 deep — far past cap 8, the shape whose exact band join is
    * quadratic and where the old index had no bounded path.
    */
  private def denseDocs(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { id =>
      val body =
        if (id % 2 == 0)
          "boilerplate template body alpha beta gamma delta epsilon zeta"
        else s"unique filler text number $id with trailing entropy word$id"
      (id, body)
    }.toDF("doc_id", "text")
  }

  private def labelsOf(root: String): Seq[(Long, Long)] = {
    val out = PipelineOps.readClusterIndex(spark, root, "corp", "clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    CacheScope.drain()
    out
  }

  private def survivorsOf(root: String): Seq[(Long, Int, String)] = {
    val out = graft.plans.Mor.read(spark, root, "corp", "clusters_surv")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .toSeq.sorted
    CacheScope.drain()
    out
  }

  test("dense corpus: survivor-folding refresh is bit-identical to a " +
      "from-scratch capped rebuild, with bounded survivor state") {
    val ids = (0L until 600L)
    val docs = denseDocs(ids)
    val batch1 = docs.filter(col("doc_id") < 400)
    val batch2 = docs.filter(col("doc_id") >= 400)

    val rebuildRoot = Files.createTempDirectory("graft-clcap-a-").toString
    PipelineOps.buildClusterIndex(spark, docs, rebuildRoot, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()

    val refreshRoot = Files.createTempDirectory("graft-clcap-b-").toString
    PipelineOps.buildClusterIndex(spark, batch1, refreshRoot, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()
    val preRefresh = survivorsOf(refreshRoot)
    PipelineOps.refreshClusterIndex(spark, batch2, refreshRoot,
      "corp", "clusters")
    CacheScope.drain()

    assert(labelsOf(refreshRoot) == labelsOf(rebuildRoot))
    // the SURVIVOR state converged too (labels only happening to match
    // over diverged survivor sets would be a latent bug)
    val s = survivorsOf(refreshRoot)
    assert(s == survivorsOf(rebuildRoot) && s.nonEmpty)
    // bounded state: no bucket holds more than cap survivors, even
    // though the template bucket's true membership is 300 deep
    val maxDepth = s.groupBy(r => (r._2, r._3)).values.map(_.size).max
    assert(maxDepth <= 8, s"bucket depth $maxDepth exceeds cap 8")
    // the fold EVICTED at least one frozen survivor (a delta doc
    // out-ranked it) — the interesting semilattice case, not a plain
    // append; this is what the exact index's delta contract could
    // never reproduce for capped pairs
    val survIds = s.map(_._1).toSet
    assert(preRefresh.exists(r => !survIds.contains(r._1)),
      "refresh exercised no eviction — fixture too sparse to test the fold")
  }

  /** Genuinely sparse corpus: duplicate groups of exactly 2 whose
    * vocabulary is group-suffixed THROUGHOUT (no shared shingles
    * across groups — a shared prefix alone makes LSH bands collide
    * cross-group and buckets run past the cap), so every band bucket
    * is at most 2 deep.
    */
  private def sparseDocs(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = i.toLong
      val g = i / 3
      val body =
        if (i % 3 < 2)
          s"shared$g corpus$g body$g alpha$g beta$g gamma$g delta$g zeta$g"
        else s"unique filler text number $i with trailing entropy word$i"
      (id, body)
    }.toDF("doc_id", "text")
  }

  test("sparse corpus (every bucket at or under cap): capped index " +
      "labels equal the exact index's") {
    val docs = sparseDocs(60)
    val exactRoot = Files.createTempDirectory("graft-clcap-c-").toString
    PipelineOps.buildClusterIndex(spark, docs, exactRoot, "corp", "clusters")
    CacheScope.drain()
    val cappedRoot = Files.createTempDirectory("graft-clcap-d-").toString
    PipelineOps.buildClusterIndex(spark, docs, cappedRoot, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()
    val l = labelsOf(cappedRoot)
    assert(l == labelsOf(exactRoot) && l.nonEmpty)
  }

  test("refresh RELABELS pre-existing rows via a replacing commit " +
      "with the overwrite marker") {
    import spark.implicits._
    val base = Seq(
      (10L, "same exact body tokens one two three four five six"),
      (11L, "same exact body tokens one two three four five six"),
      (20L, "unrelated filler content omega psi chi phi upsilon tau"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (5L, "same exact body tokens one two three four five six"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-clcap-e-").toString
    PipelineOps.buildClusterIndex(spark, base, root, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root) == Seq((10L, 10L), (11L, 10L)))
    val vBuild = TableIO.currentVersion(root, "corp", "clusters")

    PipelineOps.refreshClusterIndex(spark, delta, root, "corp",
      "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == Seq((5L, 5L), (10L, 5L), (11L, 5L)))
    val vNow = TableIO.currentVersion(root, "corp", "clusters")
    assert(vNow == vBuild + 1)
    assert(TableIO.replaceOperation(root, "corp", "clusters", vNow)
      .contains("overwrite"))
  }

  test("a second capped build refuses") {
    val root = Files.createTempDirectory("graft-clcap-f-").toString
    val docs = denseDocs(0L until 24L)
    PipelineOps.buildClusterIndex(spark, docs, root, "corp", "clusters",
      PairSource.Capped())
    CacheScope.drain()
    val e = intercept[IllegalArgumentException](
      PipelineOps.buildClusterIndex(spark, docs, root, "corp", "clusters",
        PairSource.Capped()))
    assert(e.getMessage.contains("refreshClusterIndex"))
    CacheScope.drain()
  }

  test("the EXACT build refuses a dense corpus loudly, naming the " +
      "capped path and the measured volume (VERDICT r15 item 8)") {
    val root = Files.createTempDirectory("graft-clcap-h-").toString
    val e = intercept[IllegalArgumentException](
      PipelineOps.buildClusterIndex(spark, denseDocs(0L until 600L),
        root, "corp", "clusters"))
    assert(e.getMessage.contains("PairSource.Capped"))
    assert(e.getMessage.contains("candidate volume"))
    CacheScope.drain()
    // the refusal left nothing behind: no half-built index blocks a
    // later capped build at the same root
    PipelineOps.buildClusterIndex(spark, denseDocs(0L until 600L),
      root, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root).nonEmpty)
  }

  test("auto build ROUTES on density (dense -> capped state, sparse -> " +
      "exact state) and auto refresh dispatches on the committed branch") {
    // dense corpus: auto must land on the capped branch — survivor
    // table + cluster-cap.json present, labels == the capped build's
    val dense = denseDocs(0L until 600L)
    val dAuto = Files.createTempDirectory("graft-clauto-a-").toString
    PipelineOps.buildClusterIndex(spark, dense, dAuto, "corp",
      "clusters", PairSource.Auto)
    CacheScope.drain()
    // the dense spec corpus is IDENTICAL-clone dense (template copies
    // collide at any band width), so the shape-aware capped branch
    // must stay at 4×4 — re-banding would only halve the cap draws
    assert(PipelineOps.readClusterCap(dAuto, "corp", "clusters") == ((8, 4)))
    val dCapped = Files.createTempDirectory("graft-clauto-b-").toString
    PipelineOps.buildClusterIndex(spark, dense, dCapped, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(dAuto) == labelsOf(dCapped))

    // sparse corpus: auto must land on the exact branch — signature +
    // pair state (no cap marker), labels == the exact build's
    val sparse = sparseDocs(60)
    val sAuto = Files.createTempDirectory("graft-clauto-c-").toString
    PipelineOps.buildClusterIndex(spark, sparse, sAuto, "corp",
      "clusters", PairSource.Auto)
    CacheScope.drain()
    intercept[IllegalArgumentException](
      PipelineOps.readClusterCap(sAuto, "corp", "clusters"))
    val sExact = Files.createTempDirectory("graft-clauto-d-").toString
    PipelineOps.buildClusterIndex(spark, sparse, sExact, "corp",
      "clusters")
    CacheScope.drain()
    assert(labelsOf(sAuto) == labelsOf(sExact))

    // auto refresh reads each index's OWN branch marker: the dense
    // root folds through the capped survivor path, the sparse root
    // appends through the exact path — both end bit-equal to a
    // from-scratch build of the union corpus on their branch
    val denseDelta = denseDocs(600L until 900L)
    PipelineOps.refreshClusterIndex(spark, denseDelta, dAuto, "corp",
      "clusters")
    CacheScope.drain()
    val dFull = Files.createTempDirectory("graft-clauto-e-").toString
    PipelineOps.buildClusterIndex(spark, denseDocs(0L until 900L),
      dFull, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(dAuto) == labelsOf(dFull))

    import spark.implicits._
    val sparseDelta = Seq((1000L,
      "shared0 corpus0 body0 alpha0 beta0 gamma0 delta0 zeta0"))
      .toDF("doc_id", "text")
    PipelineOps.refreshClusterIndex(spark, sparseDelta, sAuto, "corp",
      "clusters")
    CacheScope.drain()
    val sFullLabels = labelsOf(sAuto)
    assert(sFullLabels.contains((1000L, 0L)),
      s"delta doc must join group-0's cluster: $sFullLabels")
  }

  test("band shape is INDEX STATE (r17): a 2x8-shape capped index " +
      "records its banding, refreshes fold at that shape, and the " +
      "result equals a from-scratch 2x8 rebuild bit-for-bit") {
    val ids = (0L until 600L)
    val docs = denseDocs(ids)
    val rebuildRoot = Files.createTempDirectory("graft-cl28-a-").toString
    PipelineOps.buildClusterIndex(spark, docs, rebuildRoot, "corp",
      "clusters", PairSource.Capped(nBands = 2))
    CacheScope.drain()
    assert(PipelineOps.readClusterCap(rebuildRoot, "corp", "clusters")
      == ((8, 2)))
    // survivor rows live in the 2-band key space
    val bands = survivorsOf(rebuildRoot).map(_._2).distinct.sorted
    assert(bands == Seq(0, 1), s"2x8 survivors carry bands $bands")

    val refreshRoot = Files.createTempDirectory("graft-cl28-b-").toString
    PipelineOps.buildClusterIndex(spark,
      docs.filter(col("doc_id") < 400), refreshRoot, "corp", "clusters",
      PairSource.Capped(nBands = 2))
    CacheScope.drain()
    // the refresh reads the shape from the committed index — no shape
    // argument anywhere — and must reproduce the 2x8 rebuild exactly
    PipelineOps.refreshClusterIndex(spark,
      docs.filter(col("doc_id") >= 400), refreshRoot, "corp", "clusters")
    CacheScope.drain()
    assert(labelsOf(refreshRoot) == labelsOf(rebuildRoot))
    assert(survivorsOf(refreshRoot) == survivorsOf(rebuildRoot))
  }

  test("small-delta refresh takes the DELTA branch (r17): appends + " +
      "eq-deletes in one commit, component-scoped relabel, and the " +
      "result still equals a from-scratch rebuild bit-for-bit") {
    import spark.implicits._
    def corpus(ids: Seq[Long]) = ids.map { id =>
      val body =
        if (id < 40 || (id >= 2000 && id < 2020))
          "deep template group body alpha beta gamma delta epsilon zeta"
        else s"unique filler text number $id with trailing entropy word$id"
      (id, body)
    }.toDF("doc_id", "text")
    // base: one 40-deep clone group + 1960 unique docs -> ~7.9k
    // survivor rows; delta: 20 MORE clones of the same group (re-cap
    // eviction pressure) + 40 unique -> changed rows ~270, well under
    // index/8: the size route must pick the delta branch
    val base = corpus(0L until 2000L)
    val delta = corpus(2000L until 2060L)
    val root = Files.createTempDirectory("graft-cldelta-a-").toString
    PipelineOps.buildClusterIndex(spark, base, root, "corp",
      "clusters", PairSource.Capped())
    CacheScope.drain()
    val vBuild = TableIO.currentVersion(root, "corp", "clusters_surv")
    PipelineOps.refreshClusterIndex(spark, delta, root, "corp",
      "clusters")
    CacheScope.drain()
    // the delta branch committed ONE new survivor version carrying an
    // eq-delete entry (evicted survivors) next to delta-sized appends
    // — not a replacing rewrite of the whole snapshot
    val vNow = TableIO.currentVersion(root, "corp", "clusters_surv")
    assert(vNow == vBuild + 1)
    val manifest = TableIO.readManifest(root, "corp", "clusters_surv")
    assert(manifest.exists(_.content == "eq_delete"),
      "no eq-delete entry — the delta branch did not run (or the " +
        "fixture exercised no eviction)")
    val appended = manifest.filter(e => e.content == "data" &&
      e.seq == manifest.map(_.seq).max).map(_.recordCount).sum
    assert(appended > 0 && appended < 1000,
      s"delta-sized append expected, wrote $appended rows")
    // ...and the folded state equals a from-scratch capped build
    val root2 = Files.createTempDirectory("graft-cldelta-b-").toString
    PipelineOps.buildClusterIndex(spark,
      base.unionByName(delta), root2, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    assert(survivorsOf(root) == survivorsOf(root2))
    // long-lived-index maintenance: compaction folds the accumulated
    // eq-delete files away without changing the survivor state
    graft.plans.Maintenance.compact(spark, root, "corp", "clusters_surv")
    assert(!TableIO.readManifest(root, "corp", "clusters_surv")
      .exists(_.content == "eq_delete"))
    assert(survivorsOf(root) == survivorsOf(root2))
  }

  /** The delta-branch fixture both r18 tests share: one deep template
    * group (eviction pressure) plus a unique tail, sliced so each
    * delta's changed-bucket volume stays under index/8 — the size
    * route must keep picking the delta branch.
    */
  private def deltaCorpus(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { id =>
      val body =
        if (id < 40 || id >= 2000)
          "deep template group body alpha beta gamma delta epsilon zeta"
        else s"unique filler text number $id with trailing entropy word$id"
      (id, body)
    }.toDF("doc_id", "text")
  }

  test("r18: the delta branch maintains LABELS and ADJACENCY by MOR " +
      "delta commits (appends + eq-deletes, no snapshot rewrite), and " +
      "two successive delta refreshes still equal the rebuild") {
    val root = Files.createTempDirectory("graft-cldl-a-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2000L),
      root, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    val vBuild = TableIO.currentVersion(root, "corp", "clusters")
    PipelineOps.refreshClusterIndex(spark,
      deltaCorpus(2000L until 2020L), root, "corp", "clusters")
    CacheScope.drain()
    // ONE label commit, and an APPEND commit (no overwrite sidecar):
    // fresh ball labels + a doc_id-keyed eq-delete file — never a
    // rewrite of the full snapshot (the r17 replace)
    val vNow = TableIO.currentVersion(root, "corp", "clusters")
    assert(vNow == vBuild + 1)
    assert(TableIO.replaceOperation(root, "corp", "clusters", vNow).isEmpty,
      "delta refresh must not full-replace the label snapshot")
    val lm = TableIO.readManifest(root, "corp", "clusters")
    assert(lm.exists(_.content == "eq_delete"),
      "no label eq-delete — the relabel set was not delta-committed")
    val maxSeq = lm.map(_.seq).max
    val appended = lm.filter(e => e.content == "data" && e.seq == maxSeq)
      .map(_.recordCount).sum
    assert(appended > 0 && appended < 1000,
      s"ball-sized label append expected, wrote $appended rows")
    // adjacency state invariant: {t}_adj holds EXACTLY the
    // multi-member-bucket survivor rows after the delta fold
    val surv = graft.plans.Mor.read(spark, root, "corp", "clusters_surv")
      .select("doc_id", "band", "key")
    val multi = surv.join(
      surv.groupBy("band", "key")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .filter(col("n") >= 2).select("band", "key"),
      Seq("band", "key"), "left_semi")
      // USING joins move the join keys first; exceptAll is positional
      .select("doc_id", "band", "key")
    val adj = graft.plans.Mor.read(spark, root, "corp", "clusters_adj")
      .select("doc_id", "band", "key")
    assert(adj.exceptAll(multi).isEmpty && multi.exceptAll(adj).isEmpty,
      "clusters_adj diverged from the multi-member-bucket survivor rows")
    CacheScope.drain()

    // a SECOND delta folds against delta-committed adjacency + labels
    // (eq-delete files present on every table) — still bit-equal to a
    // from-scratch rebuild of the union corpus. Its executions are
    // PLAN-PINNED (VERDICT r17 item 2 "done" criterion): the steady
    // state must contain (a) no bucket-occupancy aggregate over the
    // survivor relation — the r17 `multiKeys` full-index groupBy the
    // committed adjacency state replaced — and (b) no scan of the
    // committed label snapshot — the r17 full-replace read the delta
    // label commit replaced.
    val snap = PlanCapture.capture(spark) {
      PipelineOps.refreshClusterIndex(spark,
        deltaCorpus(2020L until 2040L), root, "corp", "clusters")
      CacheScope.drain()
    }
    assert(snap.nonEmpty, "listener captured no refresh executions")
    val occAgg = """HashAggregate\(keys=\[band#\d+, key#\d+\], functions=\[count""".r
    snap.foreach { p =>
      assert(!(p.contains("clusters_surv") &&
          occAgg.findFirstIn(p).isDefined),
        "steady-state refresh re-derived bucket occupancy with a " +
          s"full-index aggregate over the survivors:\n${p.take(3000)}")
      assert(!p.contains("/clusters/data/part-"),
        "steady-state refresh scanned the committed label snapshot " +
          s"(the r17 full-replace read):\n${p.take(3000)}")
    }
    val root2 = Files.createTempDirectory("graft-cldl-b-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2040L),
      root2, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    assert(survivorsOf(root) == survivorsOf(root2))
  }

  test("r18: a NO-OP delta (empty, or fully evicted by the re-cap) " +
      "commits nothing — no table version moves, labels stay the " +
      "rebuild's") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-clnoop-a-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2000L),
      root, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    val before = labelsOf(root)
    def versions() = (
      TableIO.currentVersion(root, "corp", "clusters_surv"),
      TableIO.currentVersion(root, "corp", "clusters_adj"),
      TableIO.currentVersion(root, "corp", "clusters"))
    val v0 = versions()
    // an EMPTY delta: a change-feed-driven refresher's idle tick —
    // before the r18 review fix this burned an adjacency eq-delete
    // version per run and eventually an index-sized compaction
    PipelineOps.refreshClusterIndex(spark,
      deltaCorpus(Seq.empty[Long]), root, "corp", "clusters")
    CacheScope.drain()
    assert(versions() == v0, s"empty delta moved versions: $v0 -> " +
      s"${versions()}")
    assert(labelsOf(root) == before)
    // ...and the untouched index is still in step: the next real delta
    // takes the delta branch (append commit, no overwrite sidecar)
    PipelineOps.refreshClusterIndex(spark,
      deltaCorpus(2000L until 2020L), root, "corp", "clusters")
    CacheScope.drain()
    val vNow = TableIO.currentVersion(root, "corp", "clusters")
    assert(vNow == v0._3 + 1 &&
      TableIO.replaceOperation(root, "corp", "clusters", vNow).isEmpty)
  }

  test("r18: OUT-OF-STEP index state (r17 advice) is detected by the " +
      "sync token and heals via a full relabel — stale label rows are " +
      "never preserved by the scoped branch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-clsync-a-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2000L),
      root, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    // simulate the crash/tamper window: the label snapshot moves
    // WITHOUT a completed refresh updating the token — exactly the
    // state the r17 scoped relabel would have silently folded against
    val spec = graft.plans.Partitioning.readSpec(root, "corp", "clusters")
      .getOrElse(fail("labels table has no partition spec"))
    val garbage = Seq((0L, 424242L)).toDF("doc_id", "cluster")
    val entries = graft.plans.Partitioning.writePartitioned(spark, root,
      "corp", "clusters", garbage, spec,
      seq = TableIO.nextSeq(root, "corp", "clusters"))
    TableIO.commitReplacing(root, "corp", "clusters", entries,
      operation = Some("overwrite"))
    CacheScope.drain()

    // the next delta refresh must refuse the scoped branch (token
    // mismatch), fully relabel from the committed survivors, and end
    // bit-equal to the rebuild — no garbage row survives
    PipelineOps.refreshClusterIndex(spark,
      deltaCorpus(2000L until 2020L), root, "corp", "clusters")
    CacheScope.drain()
    val vAfter = TableIO.currentVersion(root, "corp", "clusters")
    assert(TableIO.replaceOperation(root, "corp", "clusters", vAfter)
      .contains("overwrite"),
      "out-of-step refresh must take the full-relabel fallback")
    val root2 = Files.createTempDirectory("graft-clsync-b-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2020L),
      root2, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    // ...and the healed index is back in step: the NEXT delta may take
    // the scoped branch again (append commit, no overwrite sidecar)
    PipelineOps.refreshClusterIndex(spark,
      deltaCorpus(2020L until 2040L), root, "corp", "clusters")
    CacheScope.drain()
    val vNext = TableIO.currentVersion(root, "corp", "clusters")
    assert(TableIO.replaceOperation(root, "corp", "clusters", vNext).isEmpty,
      "healed index must resume delta label maintenance")
    val root3 = Files.createTempDirectory("graft-clsync-c-").toString
    PipelineOps.buildClusterIndex(spark, deltaCorpus(0L until 2040L),
      root3, "corp", "clusters", PairSource.Capped())
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root3))
  }

  test("MIXED index state fails loudly (r16 advice): an orphaned " +
      "survivor table blocks the auto build, and a stale capped marker " +
      "beside exact state blocks the auto refresh") {
    import spark.implicits._
    val docs = sparseDocs(24)
    // simulate an interrupted capped build: _surv committed (labels
    // never reached) — the auto build must refuse instead of committing
    // an exact index beside the orphan
    val root = Files.createTempDirectory("graft-clmix-a-").toString
    val surv = Seq((1L, 0, "k")).toDF("doc_id", "band", "key")
    graft.plans.Partitioning.preparePartitioned(spark, root, "corp",
      "clusters_surv", surv, graft.plans.PartitionSpec("bucket", "doc_id", 8))
    val e = intercept[IllegalArgumentException](
      PipelineOps.buildClusterIndex(spark, docs, root, "corp",
        "clusters", PairSource.Auto))
    assert(e.getMessage.contains("interrupted"), e.getMessage)
    CacheScope.drain()

    // a capped MARKER with no committed survivors (the other half of
    // the interruption window) routes NO refresh — loud mixed-state
    // failure, not a capped refresh of nonexistent state
    val root2 = Files.createTempDirectory("graft-clmix-b-").toString
    PipelineOps.buildClusterIndex(spark, docs, root2, "corp", "clusters")
    CacheScope.drain()
    val capFile = TableIO.tableDir(root2, "corp", "clusters_surv")
      .resolve("cluster-cap.json")
    Files.createDirectories(capFile.getParent)
    Files.writeString(capFile, """{"cap":8}""")
    val e2 = intercept[IllegalArgumentException](
      PipelineOps.refreshClusterIndex(spark,
        Seq((2000L, "some fresh text body")).toDF("doc_id", "text"),
        root2, "corp", "clusters"))
    assert(e2.getMessage.contains("MIXED"), e2.getMessage)
    CacheScope.drain()

    // NO committed index at all: the refresh refuses up front, naming
    // the build call, and commits nothing to any index table
    val root3 = Files.createTempDirectory("graft-clmix-c-").toString
    val tables = Seq("clusters", "clusters_sig", "clusters_pairs",
      "clusters_surv", "clusters_adj")
    val e3 = intercept[IllegalArgumentException](
      PipelineOps.refreshClusterIndex(spark, docs, root3, "corp",
        "clusters"))
    assert(e3.getMessage.contains("buildClusterIndex"), e3.getMessage)
    assert(tables.forall(TableIO.currentVersion(root3, "corp", _) == 0L))
    CacheScope.drain()
  }
}
