package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.operators.PipelineOps
import graft.plans.TableIO

/** The persisted near-dup cluster index (r11 verdict item 1): cluster
  * once into governed tables, consume labels many times — and an
  * incremental refresh must be BIT-IDENTICAL to reclustering the union
  * corpus from scratch, including relabelling rows committed before
  * the delta arrived (which is why the label snapshot is REPLACED
  * under the commit protocol, not appended).
  */
class ClusterIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Corpus with forced near-dup groups: docs 3k/3k+1 share identical
    * text (guaranteed LSH pairs), 3k+2 is unique filler.
    */
  private def docsDf(n: Int, idOffset: Long = 0L) = {
    import spark.implicits._
    (0 until n).map { i =>
      val id = idOffset + i
      val body =
        if (i % 3 < 2)
          s"shared corpus body alpha beta gamma delta epsilon zeta ${i / 3}"
        else s"unique filler text number $i with trailing entropy word$i"
      (id, body)
    }.toDF("doc_id", "text")
  }

  private def labelsOf(root: String): Seq[(Long, Long)] = {
    val out = PipelineOps.readClusterIndex(spark, root, "corp", "clusters")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    CacheScope.drain()
    out
  }

  test("an index MOR delta after a rollback leaves the rolled-back " +
      "version readable") {
    import spark.implicits._
    import graft.plans.{Mor, PartitionSpec, Partitioning}
    val root = Files.createTempDirectory("graft-clidx-rb-").toString
    Partitioning.preparePartitioned(spark, root, "corp", "lab",
      Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "cluster"),
      PartitionSpec("bucket", "doc_id", 8))
    val ix = PipelineOps.Ix(root, "corp", "lab")
    def content(v: Long) = Mor.readAt(spark, root, "corp", "lab", v)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def relabel3(to: Long): Long = {
      PipelineOps.commitMorDelta(spark, ix, "",
        Seq((3L, to)).toDF("doc_id", "cluster"), Seq(3L).toDF("doc_id"))
      TableIO.currentVersion(root, "corp", "lab")
    }
    val v2 = relabel3(1L)
    val first = content(v2)
    assert(first == Set((1L, 1L), (2L, 1L), (3L, 1L)))
    // the next delta lands at the same sequence number as the first
    TableIO.rollback(root, "corp", "lab", 1L)
    val v4 = relabel3(2L)
    assert(content(v2) == first)
    assert(content(v4) == Set((1L, 1L), (2L, 1L), (3L, 2L)))
  }

  test("build + change-fold refresh is bit-identical to a from-scratch " +
      "rebuild of the union corpus") {
    val docs = docsDf(90)
    val batch1 = docs.filter(col("doc_id") % 3 =!= 0)
    val batch2 = docs.filter(col("doc_id") % 3 === 0)

    val rebuildRoot = Files.createTempDirectory("graft-clidx-a-").toString
    PipelineOps.buildClusterIndex(spark, docs, rebuildRoot, "corp", "clusters")
    CacheScope.drain()

    val refreshRoot = Files.createTempDirectory("graft-clidx-b-").toString
    PipelineOps.buildClusterIndex(spark, batch1, refreshRoot, "corp",
      "clusters")
    CacheScope.drain()
    PipelineOps.refreshClusterIndex(spark, batch2, refreshRoot, "corp",
      "clusters")
    CacheScope.drain()

    assert(labelsOf(refreshRoot) == labelsOf(rebuildRoot))
    // the PAIR tables converged to the same set too (the labels only
    // HAPPENING to match while the pair sets diverged would be a
    // latent bug waiting for a different corpus)
    def pairsOf(root: String) = {
      val out = graft.plans.Mor.read(spark, root, "corp", "clusters_pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      CacheScope.drain()
      out
    }
    val p = pairsOf(refreshRoot)
    assert(p == pairsOf(rebuildRoot) && p.nonEmpty)
  }

  test("refresh RELABELS pre-existing rows via a replacing commit " +
      "with the overwrite marker") {
    // existing near-dup group {10, 11}: min-label 10. The delta doc 5
    // shares their text, so the merged group's label becomes 5 — rows
    // committed BEFORE the delta must change, which an append-only
    // label table cannot express.
    import spark.implicits._
    val base = Seq(
      (10L, "same exact body tokens one two three four five six"),
      (11L, "same exact body tokens one two three four five six"),
      (20L, "unrelated filler content omega psi chi phi upsilon tau"))
      .toDF("doc_id", "text")
    val delta = Seq(
      (5L, "same exact body tokens one two three four five six"))
      .toDF("doc_id", "text")
    val root = Files.createTempDirectory("graft-clidx-c-").toString
    PipelineOps.buildClusterIndex(spark, base, root, "corp", "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == Seq((10L, 10L), (11L, 10L)))
    val vBuild = TableIO.currentVersion(root, "corp", "clusters")

    PipelineOps.refreshClusterIndex(spark, delta, root, "corp", "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == Seq((5L, 5L), (10L, 5L), (11L, 5L)))

    // snapshot history: the refresh REPLACED the label snapshot (one
    // new version, content-changing marker) — time travel still sees
    // the pre-refresh labels, the changelog sees a relabel, and the
    // sig/pair tables grew by plain appends
    val vNow = TableIO.currentVersion(root, "corp", "clusters")
    assert(vNow == vBuild + 1)
    assert(TableIO.replaceOperation(root, "corp", "clusters", vNow)
      .contains("overwrite"))
    assert(TableIO.replaceOperation(root, "corp", "clusters", vBuild).isEmpty)
  }

  test("a second build over a committed index refuses loudly") {
    val root = Files.createTempDirectory("graft-clidx-d-").toString
    PipelineOps.buildClusterIndex(spark, docsDf(12), root, "corp", "clusters")
    CacheScope.drain()
    val e = intercept[IllegalArgumentException](
      PipelineOps.buildClusterIndex(spark, docsDf(12), root, "corp",
        "clusters"))
    assert(e.getMessage.contains("refreshClusterIndex"))
    CacheScope.drain()
  }

  /** SPARSE corpus for the r19 delta-branch tests: twin docs {3g, 3g+1}
    * share [[groupBody]](g) — bodies fully distinct ACROSS groups, so
    * band buckets stay 2 deep and the exact build's density guard
    * passes at any corpus size ([[docsDf]]'s groups share most of
    * their shingles across groups, which at 600 docs runs the buckets
    * hundreds deep and trips the guard).
    */
  private def groupBody(g: Long): String =
    s"group $g twin body token${g}a token${g}b token${g}c " +
      s"token${g}d token${g}e"

  private def sparseCorpus(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map { id =>
      val body =
        if (id % 3 < 2) groupBody(id / 3)
        else s"unique filler text number $id with trailing entropy word$id"
      (id, body)
    }.toDF("doc_id", "text")
  }

  test("r19: a SMALL delta takes the DELTA branch — adjacency and " +
      "labels MOR-delta-committed, the pair table written but never " +
      "read, the label snapshot never scanned — and two successive " +
      "delta refreshes stay bit-identical to the union rebuild") {
    import spark.implicits._
    val base = sparseCorpus(0L until 600L)
    val root = Files.createTempDirectory("graft-cldx-e-").toString
    PipelineOps.buildClusterIndex(spark, base, root, "corp", "clusters")
    CacheScope.drain()
    // delta 1: one doc whose id UNDERCUTS group 0's min label (old
    // rows {0, 1} must relabel to -5 — pre-existing label rows change
    // through the delta commit), one group-1 join, two fresh uniques
    val delta1 = Seq(
      (-5L, groupBody(0)),
      (100000L, groupBody(1)),
      (100001L, "fresh crawl document one hundred thousand and one"),
      (100002L, "fresh crawl document one hundred thousand and two"))
      .toDF("doc_id", "text")
    val vLabels0 = TableIO.currentVersion(root, "corp", "clusters")
    PipelineOps.refreshClusterIndex(spark, delta1, root, "corp", "clusters")
    CacheScope.drain()
    val vLabels1 = TableIO.currentVersion(root, "corp", "clusters")
    assert(vLabels1 == vLabels0 + 1 &&
      TableIO.replaceOperation(root, "corp", "clusters", vLabels1).isEmpty,
      "small delta must maintain labels by an APPEND (MOR delta) " +
        "commit, not a replacing snapshot rewrite")
    assert(labelsOf(root).take(3) == Seq((-5L, -5L), (0L, -5L), (1L, -5L)))

    // delta 2 — the STEADY state, plan-pinned (the r19 twin of the
    // capped index's r18 pin): no scan of the committed pair table
    // (the r16-era full re-propagation), no scan of the committed
    // label snapshot (the full-replace read), and no bucket-occupancy
    // aggregate over a signature-table scan (the adjacency is
    // committed state, not a per-refresh re-derivation)
    val delta2 = Seq(
      (200000L, groupBody(2)),
      (200001L, "fresh crawl document two hundred thousand and one"))
      .toDF("doc_id", "text")
    val snap = PlanCapture.capture(spark) {
      PipelineOps.refreshClusterIndex(spark, delta2, root, "corp",
        "clusters")
      CacheScope.drain()
    }
    assert(snap.nonEmpty, "listener captured no refresh executions")
    val occAgg =
      """HashAggregate\(keys=\[band#\d+, key#\d+\], functions=\[count""".r
    snap.foreach { p =>
      assert(!p.contains("clusters_pairs/data/"),
        "steady-state exact refresh scanned the committed pair table " +
          s"(the r16-era full re-propagation read):\n${p.take(3000)}")
      assert(!p.contains("/clusters/data/part-"),
        "steady-state exact refresh scanned the committed label " +
          s"snapshot (the full-replace read):\n${p.take(3000)}")
      assert(!(p.contains("clusters_sig") && occAgg.findFirstIn(p).isDefined),
        "steady-state exact refresh re-derived bucket occupancy with " +
          s"an aggregate over the signature table:\n${p.take(3000)}")
    }

    // bit-equality with the from-scratch rebuild of the union corpus,
    // for labels AND pairs (the same dual check as the bulk test)
    val root2 = Files.createTempDirectory("graft-cldx-f-").toString
    PipelineOps.buildClusterIndex(spark,
      base.unionByName(delta1).unionByName(delta2), root2, "corp",
      "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    def pairsOf(r: String) = {
      val out = graft.plans.Mor.read(spark, r, "corp", "clusters_pairs")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      CacheScope.drain()
      out
    }
    assert(pairsOf(root) == pairsOf(root2))
    // ...and the delta-maintained adjacency equals the multi-member
    // band rows of the committed signatures (the same invariant the
    // capped spec pins for survivors)
    val bands = graft.operators.Dedup.sigBands(
      graft.plans.Mor.read(spark, root, "corp", "clusters_sig"))
      .select("doc_id", "band", "key")
    val multi = bands.join(
      bands.groupBy("band", "key")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
        .filter(col("n") >= 2).select("band", "key"),
      Seq("band", "key"), "left_semi")
      .select("doc_id", "band", "key")
    val adj = graft.plans.Mor.read(spark, root, "corp", "clusters_adj")
      .select("doc_id", "band", "key")
    assert(adj.exceptAll(multi).isEmpty && multi.exceptAll(adj).isEmpty,
      "clusters_adj diverged from the multi-member-bucket band rows")
    CacheScope.drain()
  }

  test("r19: an EMPTY delta is a no-op — no exact-index table version " +
      "moves") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cldx-g-").toString
    PipelineOps.buildClusterIndex(spark, docsDf(90), root, "corp",
      "clusters")
    CacheScope.drain()
    def versions() = Seq("clusters_sig", "clusters_pairs", "clusters_adj",
      "clusters").map(t => TableIO.currentVersion(root, "corp", t))
    val v0 = versions()
    PipelineOps.refreshClusterIndex(spark,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), root, "corp",
      "clusters")
    CacheScope.drain()
    assert(versions() == v0, s"empty delta moved versions: $v0 -> " +
      s"${versions()}")
  }

  test("r19: a LOST pair append (crash between a refresh's signature " +
      "and pair commits) is repaired by the heal — the pair table is " +
      "re-derived from the signatures, and labels equal the rebuild") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cldx-j-").toString
    val base = sparseCorpus(0L until 600L)
    PipelineOps.buildClusterIndex(spark, base, root, "corp", "clusters")
    CacheScope.drain()
    // simulate the crash window: a delta's signatures land, its pairs
    // never do (the direct append moves the sig version behind the
    // token's back — exactly the state an interrupted refresh leaves)
    val orphan = Seq((400000L, groupBody(5))).toDF("doc_id", "text")
    graft.plans.Partitioning.appendPartitioned(spark, root, "corp",
      "clusters_sig", graft.operators.Dedup.minhashSignatures(orphan))
    CacheScope.drain()
    // the next refresh must refuse the delta branch, RE-DERIVE the
    // pair table from the committed signatures (a full relabel over
    // the stale pair table would silently drop the orphan's merge —
    // no later delta's band join ever re-emits another delta's
    // pairs), and converge to the union rebuild
    val delta = Seq((500000L, groupBody(6))).toDF("doc_id", "text")
    PipelineOps.refreshClusterIndex(spark, delta, root, "corp", "clusters")
    CacheScope.drain()
    val root2 = Files.createTempDirectory("graft-cldx-k-").toString
    PipelineOps.buildClusterIndex(spark,
      base.unionByName(orphan).unionByName(delta), root2, "corp",
      "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    def pairsOf(r: String) = {
      val out = graft.plans.Mor.read(spark, r, "corp", "clusters_pairs")
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq.sorted
      CacheScope.drain()
      out
    }
    assert(pairsOf(root) == pairsOf(root2))
    // the orphan really merged: doc 400000 carries group 5's label
    assert(labelsOf(root).contains((400000L, 15L)))
  }

  test("r19: OUT-OF-STEP exact-index state is detected by the sync " +
      "token and heals via a full relabel — stale label rows are never " +
      "preserved by the scoped branch") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-cldx-h-").toString
    val base = sparseCorpus(0L until 600L)
    PipelineOps.buildClusterIndex(spark, base, root, "corp", "clusters")
    CacheScope.drain()
    // simulate the crash/tamper window: the label snapshot moves
    // WITHOUT a completed refresh updating the token
    val spec = graft.plans.Partitioning.readSpec(root, "corp", "clusters")
      .getOrElse(fail("labels table has no partition spec"))
    val garbage = Seq((0L, 424242L)).toDF("doc_id", "cluster")
    val entries = graft.plans.Partitioning.writePartitioned(spark, root,
      "corp", "clusters", garbage, spec,
      seq = TableIO.nextSeq(root, "corp", "clusters"))
    TableIO.commitReplacing(root, "corp", "clusters", entries,
      operation = Some("overwrite"))
    CacheScope.drain()

    val delta = Seq((300000L, groupBody(3))).toDF("doc_id", "text")
    PipelineOps.refreshClusterIndex(spark, delta, root, "corp", "clusters")
    CacheScope.drain()
    val vAfter = TableIO.currentVersion(root, "corp", "clusters")
    assert(TableIO.replaceOperation(root, "corp", "clusters", vAfter)
      .contains("overwrite"),
      "out-of-step refresh must take the full-relabel fallback")
    val root2 = Files.createTempDirectory("graft-cldx-i-").toString
    PipelineOps.buildClusterIndex(spark, base.unionByName(delta), root2,
      "corp", "clusters")
    CacheScope.drain()
    assert(labelsOf(root) == labelsOf(root2))
    // ...and the healed index is back in step: the NEXT small delta
    // takes the delta branch again (append commit, no overwrite marker)
    val delta2 = Seq((300001L, groupBody(4))).toDF("doc_id", "text")
    PipelineOps.refreshClusterIndex(spark, delta2, root, "corp", "clusters")
    CacheScope.drain()
    val vNext = TableIO.currentVersion(root, "corp", "clusters")
    assert(vNext == vAfter + 1 &&
      TableIO.replaceOperation(root, "corp", "clusters", vNext).isEmpty)
  }
}
