package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.plans.{Maintenance, ManifestEntry, Mor, TableIO}

/** The commit sequences a MOR read gates on ride its scans as partition
  * values (`_seq` on data files, `_dseq` on delete files). Spark drops a
  * filter on a partition column from the filter it applies after the
  * scan, so the file index must apply it: a filter on `_seq` returns
  * exactly the reference rows of the matching files, alone and combined
  * with a data filter, on every delete route. The delete-side callers
  * outside the read (dead-file compaction, the position-delete rewrite)
  * keep their results. */
class MorSeqColumnsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Data file `part-<i>` holds `keys(i)` in order, committed at `seqs(i)`. */
  private val keys = Seq(0 until 10, 10 until 20, 20 until 30, 30 until 40,
    40 until 50, 50 until 60, Seq(3, 45) ++ (60 until 68))
  private val seqs = Seq(1L, 1L, 1L, 1L, 2L, 4L, 6L)
  private def file(i: Int) = f"data/part-$i%05d.parquet"
  /** (file, pos, delete seq); the last names a file committed after it. */
  private val posDeletes = Seq((file(0), 1L, 3L), (file(4), 2L, 3L),
    (file(5), 0L, 3L), (file(1), 9L, 5L))
  /** (key, delete seq): 3 and 45 come back in file 6 at seq 6. */
  private val eqDeletes = Seq((3, 5L), (45, 5L), (55, 5L))

  /** (bar, _seq, _file) of every row the merged view keeps. */
  private val reference: Seq[(Int, Long, String)] =
    keys.indices.flatMap { i =>
      keys(i).zipWithIndex.collect {
        case (k, p) if !posDeletes.exists { case (f, q, ds) =>
              f == file(i) && q == p && seqs(i) <= ds } &&
            !eqDeletes.exists { case (ek, ds) => ek == k && seqs(i) < ds } =>
          (k, seqs(i), file(i))
      }
    }.sorted

  private def dataFile(i: Int): DataFrame = {
    import spark.implicits._
    keys(i).map(k => (k.toString, k, true)).toDF("foo", "bar", "baz")
      .coalesce(1)
  }

  /** The table above: one commit per sequence number, in order. */
  private def build(): String = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-seqcols-").toString
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", dataFile(0).schema)
    def data(i: Int) = TableIO.writeExactFile(spark, root, "ns", "t", file(i),
      dataFile(i), "data", seqs(i), recordCount = keys(i).size)
    def pos(s: Long) = TableIO.writeExactFile(spark, root, "ns", "t",
      s"deletes/pos-s$s.parquet",
      posDeletes.filter(_._3 == s).map(d => (d._1, d._2)).toDF("file_path", "pos"),
      "pos_delete", s)
    TableIO.commit(root, "ns", "t", (0 to 3).map(data))
    TableIO.commit(root, "ns", "t", Seq(data(4)))
    TableIO.commit(root, "ns", "t", Seq(pos(3L)))
    TableIO.commit(root, "ns", "t", Seq(data(5)))
    TableIO.commit(root, "ns", "t", Seq(pos(5L), TableIO.writeExactFile(spark,
      root, "ns", "t", "deletes/eq-s5.parquet",
      eqDeletes.map(_._1).toDF("bar"), "eq_delete", 5L)))
    TableIO.commit(root, "ns", "t", Seq(data(6)))
    assert(TableIO.readManifest(root, "ns", "t").map(_.seq).distinct.sorted ==
      Seq(1L, 2L, 3L, 4L, 5L, 6L))
    root
  }

  private def provenance(df: DataFrame): Seq[(Int, Long, String)] =
    df.select("bar", "_seq", "_file").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1), r.getString(2))).sorted

  test("a filter on _seq returns the reference rows of the matching files, " +
    "alone and with a data filter, on every delete route") {
    val root = build()
    def read(bitmapThreshold: Long) = Mor.read(spark, root, "ns", "t",
      bitmapThreshold = bitmapThreshold, keepProvenance = true)
    def check(label: String, bitmapThreshold: Long): Unit = {
      assert(provenance(read(bitmapThreshold)) == reference, label)
      (0L to 7L).foreach { k =>
        assert(provenance(read(bitmapThreshold).filter(col("_seq") >= k)) ==
          reference.filter(_._2 >= k), s"$label, _seq >= $k")
        assert(provenance(read(bitmapThreshold)
            .filter(col("_seq") >= k && col("bar") < 50)) ==
          reference.filter(r => r._2 >= k && r._1 < 50),
          s"$label, _seq >= $k and bar < 50")
      }
      assert(provenance(read(bitmapThreshold).filter(col("_seq") === 4L ||
          col("bar") === 3)) == reference.filter(r => r._2 == 4L || r._1 == 3),
        s"$label, a disjunction across _seq and bar")
    }
    check("broadcast", Mor.BitmapDeleteThreshold)
    NoBroadcast(spark) {
      check("deletion vectors", Mor.BitmapDeleteThreshold)
      check("anti-join", 0L)
    }
    // the partition filter skips the other files: _seq >= 4 opens 5 and 6
    assert(OpenedFiles.count(read(Mor.BitmapDeleteThreshold)
      .filter(col("_seq") >= 4L)) == 2L)
  }

  test("readLineage and readChanges carry the same ids with sequences as " +
    "scan columns") {
    val root = build()
    val firstRowIds = TableIO.readManifest(root, "ns", "t")
      .collect { case e if e.content == "data" => e.path -> e.firstRowId.get }
      .toMap
    val expect = reference.map { case (k, _, f) =>
      (k, firstRowIds(f) + keys(f.stripPrefix("data/part-")
        .stripSuffix(".parquet").toInt).indexOf(k)) }.sorted
    val lineage = Mor.readLineage(spark, root, "ns", "t")
      .select("bar", "_row_id").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    assert(lineage == expect)
    // v6 inserts file 6; its rows carry their file's first row id
    val v = TableIO.currentVersion(root, "ns", "t")
    val inserts = Mor.readChanges(spark, root, "ns", "t", v - 1, v,
      withLineage = true).select("bar", "_row_id", "_change_type").collect()
      .toSeq.map(r => (r.getInt(0), r.getLong(1), r.getString(2))).sorted
    assert(inserts == keys(6).zipWithIndex
      .map { case (k, p) => (k, firstRowIds(file(6)) + p, "insert") }.sorted)
    // v5 deletes by position and by key; each deleted row names its id
    val deletes = Mor.readChanges(spark, root, "ns", "t", v - 2, v - 1,
      withLineage = true).select("bar", "_row_id").collect().toSeq
      .map(r => (r.getInt(0), r.getLong(1))).sorted
    val key19 = firstRowIds(file(1)) + 9
    assert(deletes == Seq((3, firstRowIds(file(0)) + 3), (19, key19),
      (45, firstRowIds(file(4)) + 5), (55, firstRowIds(file(5)) + 5)).sorted)
  }

  private def posDeleteRows(root: String,
      e: ManifestEntry): Seq[(String, Long)] =
    spark.read.parquet(TableIO.tableDir(root, "ns", "t").resolve(e.path).toString)
      .collect().toSeq.map((r: Row) => (r.getString(0), r.getLong(1))).sorted

  test("the position-delete rewrite and dead-file compaction read each " +
    "delete row's own sequence") {
    val root = build()
    val before = provenance(Mor.read(spark, root, "ns", "t", keepProvenance = true))
    // rewrite: the seq-3 delete of file 5 can never apply (file 5 came
    // at seq 4) and is purged; the others keep their original sequence
    Maintenance.rewritePositionDeletes(spark, root, "ns", "t")
    val rewritten = TableIO.readManifest(root, "ns", "t")
      .filter(_.content == "pos_delete").sortBy(_.seq)
    assert(rewritten.map(e => (e.seq, posDeleteRows(root, e))) == Seq(
      3L -> Seq((file(0), 1L), (file(4), 2L)), 5L -> Seq((file(1), 9L))))
    assert(provenance(Mor.read(spark, root, "ns", "t", keepProvenance = true)) ==
      before)
    // kill every row of file 4 at seq 7: file 4 is dead, no other file
    import spark.implicits._
    val all4 = keys(4).indices.map(p => (file(4), p.toLong)).toDF("file_path", "pos")
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", "deletes/pos-s7.parquet", all4, "pos_delete", 7L)))
    Maintenance.compactDeadFiles(spark, root, "ns", "t")
    assert(TableIO.readManifest(root, "ns", "t").filter(_.content == "data")
      .map(_.path).sorted == (0 to 6).filter(_ != 4).map(file))
    assert(provenance(Mor.read(spark, root, "ns", "t", keepProvenance = true)) ==
      before.filterNot(_._3 == file(4)))
  }
}
