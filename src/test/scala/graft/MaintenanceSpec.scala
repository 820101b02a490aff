package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.{Maintenance, Mor, Pipeline, TableIO}
import graft.sources.{FileConfig, GenConfig}

/** Compaction (MOR -> copy-on-write rewrite) and snapshot expiry. */
class MaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def prepared(): (String, GenConfig) = {
    val root = Files.createTempDirectory("graft-maint-").toString
    val cfg = GenConfig("ns", "t", FileConfig(50, 4),
      FileConfig(50, 1), FileConfig(50, 1))
    Pipeline.prepare(spark, root, cfg)
    (root, cfg)
  }

  test("compaction preserves the merged view and drops delete files") {
    val (root, _) = prepared()
    val before = Mor.read(spark, root, "ns", "t")
      .orderBy("bar").collect().map(_.toSeq)
    val v = Maintenance.compact(spark, root, "ns", "t")
    assert(v == 4L)
    val m = TableIO.readManifest(root, "ns", "t")
    assert(m.nonEmpty && m.forall(_.content == "data")) // no delete entries
    val after = Mor.read(spark, root, "ns", "t")
      .orderBy("bar").collect().map(_.toSeq)
    assert(after.sameElements(before))
    // pre-compaction time travel still works
    assert(Mor.readAt(spark, root, "ns", "t", 1L).count() == 200L)
    assert(Mor.readAt(spark, root, "ns", "t", 3L).count() == 100L)
  }

  test("a clustered compaction lays out exact quantile ranges, the same " +
      "in any session history") {
    import org.apache.spark.sql.functions.{col, lit}
    def layout(): Seq[(Long, Long)] = {
      val root = Files.createTempDirectory("graft-maint-range-").toString
      val df = spark.range(0, 5000).select(col("id").cast("string").as("foo"),
        col("id").cast("int").as("bar"), lit(true).as("baz"))
      TableIO.createNamespace(root, "ns")
      TableIO.createTableIfNotExists(root, "ns", "t", df.schema)
      TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
        "ns", "t", "data/part-00000.parquet", df, "data", seq = 1L)))
      Maintenance.compact(spark, root, "ns", "t", targetFileCount = 5,
        clusterBy = Seq("bar"))
      TableIO.readManifest(root, "ns", "t").map(_.bounds("bar")).sorted
    }
    val first = layout()
    assert(first == (0 until 5).map(i => (i * 1000L, i * 1000L + 999L)))
    // other RDDs in between move a seeded sample's boundaries, not these
    spark.range(0, 10).rdd.count()
    assert(layout() == first)
  }

  test("rewritePositionDeletes consolidates, dedupes, and preserves gates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val (root, cfg) = prepared() // 200 rows, 50 pos-deletes, 50 eq-deletes
    val (ns, t) = ("ns", "t")
    // post-delete append (seq 4): rows [200, 250)
    val df5 = spark.range(200, 250).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root, ns, t,
      graft.sources.FixSchemaGen.dataFilePath(4), df5, "data",
      TableIO.nextSeq(root, ns, t), recordCount = 50)))
    // late pos-delete (seq 5): first 10 rows of the appended file PLUS
    // 5 duplicate targets already deleted at seq 2
    val late = spark.range(0, 10).select(
        lit(graft.sources.FixSchemaGen.dataFilePath(4)).as("file_path"),
        col("id").as("pos"))
      .union(spark.range(0, 5).select(
        lit(graft.sources.FixSchemaGen.dataFilePath(0)).as("file_path"),
        col("id").as("pos")))
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root, ns, t,
      "deletes/pos_delete-late.parquet", late, "pos_delete",
      TableIO.nextSeq(root, ns, t), recordCount = 15)))

    val before = Mor.read(spark, root, ns, t).orderBy("bar").collect().map(_.toSeq)
    assert(before.length == 100 + 40) // (200-50-50) + (50-10)
    val v = Maintenance.rewritePositionDeletes(spark, root, ns, t)
    assert(v == 6L && TableIO.currentVersion(root, ns, t) == 6L)

    // merged view byte-identical; duplicate targets collapsed (65 -> 60
    // rows: the 5 re-deleted positions keep only their max seq); one
    // consolidated file per original seq, committed at that seq
    val after = Mor.read(spark, root, ns, t).orderBy("bar").collect().map(_.toSeq)
    assert(after.sameElements(before))
    val pos = TableIO.readManifest(root, ns, t).filter(_.content == "pos_delete")
    assert(pos.map(_.seq).sorted == Seq(2L, 5L))
    assert(pos.map(_.recordCount).sum == 60L)
    assert(pos.find(_.seq == 5L).get.recordCount == 15L) // 10 new + 5 dup moved up
    // time travel behind the rewrite unchanged
    assert(Mor.readAt(spark, root, ns, t, 3L).count() == 100L)

    // after compaction every pos-delete row is dangling: rewrite purges
    // them all and the manifest carries zero pos-delete files
    Maintenance.compact(spark, root, ns, t)
    assert(Maintenance.rewritePositionDeletes(spark, root, ns, t) ==
      TableIO.currentVersion(root, ns, t))
    assert(TableIO.readManifest(root, ns, t).forall(_.content == "data"))
  }

  test("compactSmall merges within seq groups; gating and view unchanged") {
    import org.apache.spark.sql.functions._
    val (root, cfg) = prepared() // 4 files x 50 rows seq1; 50 pos, 50 eq
    val (ns, t) = ("ns", "t")
    // a later small append at its own seq
    val seq4 = TableIO.nextSeq(root, ns, t)
    val extra = (4 to 5).map { i =>
      val df = spark.range(i * 50L, (i + 1) * 50L).select(
        col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
        lit(true).as("baz"))
      TableIO.writeExactFile(spark, root, ns, t,
        graft.sources.FixSchemaGen.dataFilePath(i), df, "data", seq4,
        recordCount = 50L)
    }
    TableIO.commit(root, ns, t, extra)

    val before = Mor.read(spark, root, ns, t).orderBy("bar").collect().map(_.toSeq)
    assert(before.length == 100 + 100) // (200-50-50) + 100 appended
    Maintenance.compactSmall(spark, root, ns, t)

    val m = TableIO.readManifest(root, ns, t)
    val dataE = m.filter(_.content == "data")
    // one merged file per seq group, seqs preserved; pos-deletes purged
    assert(dataE.size == 2 && dataE.map(_.seq).sorted == Seq(1L, seq4))
    assert(m.count(_.content == "pos_delete") == 0)
    assert(m.count(_.content == "eq_delete") == 1) // still present, gate intact
    val after = Mor.read(spark, root, ns, t).orderBy("bar").collect().map(_.toSeq)
    assert(after.sameElements(before))
    // history: pre-binpack versions still read correctly
    assert(Mor.readAt(spark, root, ns, t, 3L).count() == 100L)
    // idempotent: a second pass has nothing to merge
    val v = TableIO.currentVersion(root, ns, t)
    assert(Maintenance.compactSmall(spark, root, ns, t) == v)
  }

  test("row lineage survives compaction and binpack (materialized ids " +
      "win over firstRowId inheritance)") {
    import org.apache.spark.sql.functions._
    val (root, _) = prepared() // 200 rows, 50 pos + 50 eq deletes
    def lineage(): Map[Int, Long] = Mor.readLineage(spark, root, "ns", "t")
      .select("bar", "_row_id").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val before = lineage()
    assert(before.size == 100 && before.values.toSet.size == 100)
    Maintenance.compact(spark, root, "ns", "t")
    assert(lineage() == before, "compaction changed row ids")
    // a post-compaction append continues the id space monotonically —
    // never reuses an id, even though the compacted entries were
    // re-stamped with fresh (unused) firstRowIds
    val highWater = before.values.max
    val df = spark.range(900, 920).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"),
      lit(true).as("baz"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", graft.sources.FixSchemaGen.dataFilePath(7), df, "data",
      TableIO.nextSeq(root, "ns", "t"), recordCount = 20L)))
    val appended = lineage()
    assert(before.forall { case (k, v) => appended(k) == v })
    val newIds = appended.filterNot(kv => before.contains(kv._1)).values
    assert(newIds.size == 20 && newIds.forall(_ > highWater))
    // binpack (small-file merge) preserves ids the same way
    Maintenance.compactSmall(spark, root, "ns", "t")
    assert(lineage() == appended, "binpack changed row ids")
  }

  test("removeOrphanFiles deletes only never-committed debris") {
    val (root, _) = prepared()
    val dir = TableIO.tableDir(root, "ns", "t")
    // orphan debris: a stray data file and a stray delete file
    Files.write(dir.resolve("data/part-99999.parquet"), Array[Byte](1, 2, 3))
    Files.write(dir.resolve("deletes/pos_delete-stray.parquet"), Array[Byte](4))
    val nBefore = Mor.read(spark, root, "ns", "t").count()

    val removed = Maintenance.removeOrphanFiles(root, "ns", "t")
    assert(removed == Seq("data/part-99999.parquet",
      "deletes/pos_delete-stray.parquet"))
    assert(!Files.exists(dir.resolve("data/part-99999.parquet")))
    // every referenced file (current AND historical) survives; reads and
    // time travel are untouched
    assert(Mor.read(spark, root, "ns", "t").count() == nBefore)
    assert(Mor.readAt(spark, root, "ns", "t", 1L).count() == 200L)
    // idempotent: second pass removes nothing
    assert(Maintenance.removeOrphanFiles(root, "ns", "t").isEmpty)
  }

  test("compactDeletes folds eq-delete debt into ONLY the touched " +
      "bucket partitions — untouched partitions' files survive " +
      "verbatim (path AND seq), delete files are gone, the merged " +
      "view is unchanged") {
    import spark.implicits._
    import graft.plans.{PartitionSpec, Partitioning}
    val root = Files.createTempDirectory("graft-cdel-").toString
    val (ns, t) = ("ns", "pt")
    val spec = PartitionSpec("bucket", "doc_id", 8)
    Partitioning.preparePartitioned(spark, root, ns, t,
      spark.range(200).selectExpr("id AS doc_id", "id * 7 AS v"), spec)
    // accumulated delete debt: one eq-delete file per "refresh",
    // keyed on two doc_ids — at most two bucket partitions touched
    val keys = Seq(3L, 11L)
    keys.foreach { k =>
      val seq = TableIO.nextSeq(root, ns, t)
      TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root,
        ns, t, s"data/eqdel-$seq.parquet", Seq(k).toDF("doc_id"),
        "eq_delete", seq)))
    }
    val before = Mor.read(spark, root, ns, t)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(before.length == 198)
    val touchedVals = keys.map(spec.valueOf).toSet
    val manifestBefore = TableIO.readManifest(root, ns, t)
    val untouchedBefore = manifestBefore.filter(e => e.content == "data" &&
      e.bounds.get(spec.fieldName).exists(b => !touchedVals(b._1)))
    assert(untouchedBefore.size >= 6 - touchedVals.size,
      "fixture must leave most bucket partitions untouched")
    Maintenance.compactDeletes(spark, root, ns, t)
    val after = TableIO.readManifest(root, ns, t)
    assert(!after.exists(_.content == "eq_delete"))
    val afterData = after.filter(_.content == "data")
      .map(e => (e.path, e.seq)).toSet
    untouchedBefore.foreach(e => assert(afterData((e.path, e.seq)),
      s"untouched partition file ${e.path} was rewritten"))
    manifestBefore.filter(e => e.content == "data" &&
        e.bounds.get(spec.fieldName).exists(b => touchedVals(b._1)))
      .foreach(e => assert(!afterData((e.path, e.seq)),
        s"touched partition file ${e.path} still carries folded-away " +
          "delete targets"))
    val got = Mor.read(spark, root, ns, t)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(got.sameElements(before))
    // later deletes still gate: kill a row that was rewritten by the
    // scoped fold — the fresh data seq must be strictly lower
    val seq2 = TableIO.nextSeq(root, ns, t)
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root,
      ns, t, s"data/eqdel-$seq2.parquet", Seq(4L).toDF("doc_id"),
      "eq_delete", seq2)))
    assert(Mor.read(spark, root, ns, t).count() == 197L)
  }

  test("compactDeletes DEGRADES to the full rewrite when scoping is " +
      "unsound: a data file without partition bounds could hold any " +
      "key") {
    import spark.implicits._
    import graft.plans.{PartitionSpec, Partitioning}
    val root = Files.createTempDirectory("graft-cdelf-").toString
    val (ns, t) = ("ns", "pt")
    val spec = PartitionSpec("bucket", "doc_id", 8)
    Partitioning.preparePartitioned(spark, root, ns, t,
      spark.range(100).selectExpr("id AS doc_id", "id * 7 AS v"), spec)
    // an unpartitioned append (no bounds) — e.g. a pre-r19 full
    // compaction's output
    val s1 = TableIO.nextSeq(root, ns, t)
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root,
      ns, t, s"data/extra-$s1.parquet",
      spark.range(100, 120).selectExpr("id AS doc_id", "id * 7 AS v"),
      "data", s1)))
    val s2 = TableIO.nextSeq(root, ns, t)
    TableIO.commit(root, ns, t, Seq(TableIO.writeExactFile(spark, root,
      ns, t, s"data/eqdel-$s2.parquet", Seq(105L).toDF("doc_id"),
      "eq_delete", s2)))
    val before = Mor.read(spark, root, ns, t)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(before.length == 119)
    Maintenance.compactDeletes(spark, root, ns, t)
    val after = TableIO.readManifest(root, ns, t)
    assert(!after.exists(_.content == "eq_delete"))
    val got = Mor.read(spark, root, ns, t)
      .orderBy("doc_id").collect().map(_.toSeq)
    assert(got.sameElements(before))
  }

  test("expireSnapshots removes dead files, keeps the live view") {
    val (root, _) = prepared()
    Maintenance.compact(spark, root, "ns", "t")
    val removed = Maintenance.expireSnapshots(root, "ns", "t",
      keepFromVersion = 4L)
    // the original data + delete files are all dead after compaction
    assert(removed.nonEmpty)
    assert(removed.forall(p => !Files.exists(
      TableIO.tableDir(root, "ns", "t").resolve(p))))
    assert(Mor.read(spark, root, "ns", "t").count() == 100L)
    // expired version's manifest is gone
    assert(!Files.exists(Paths.get(root, "ns", "t", "manifest/v1.json")))
  }
}
