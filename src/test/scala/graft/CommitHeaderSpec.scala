package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.{Dml, Maintenance, ManifestEntry, Mor, TableIO}

/** The published manifest version is the whole commit: its header
  * carries the row-id mark and the operation marker, so a table is fully
  * described by its schema, its files and its `manifest/v<N>.json`
  * versions, and every commit kind writes exactly one file.
  */
class CommitHeaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val schema = StructType(Seq(
    StructField("foo", StringType, nullable = false),
    StructField("bar", IntegerType, nullable = false)))

  private def newTable(): String = {
    val root = Files.createTempDirectory("graft-header-").toString
    TableIO.createNamespace(root, "ns")
    TableIO.createTableIfNotExists(root, "ns", "t", schema)
    root
  }

  private def append(root: String, name: String, lo: Int, n: Int): Long = {
    val df = spark.range(lo, lo + n).select(
      col("id").cast("string").as("foo"), col("id").cast("int").as("bar"))
    TableIO.commit(root, "ns", "t", Seq(TableIO.writeExactFile(spark, root,
      "ns", "t", s"data/$name.parquet", df, "data",
      TableIO.nextSeq(root, "ns", "t"), recordCount = n.toLong)))
  }

  /** Every file of the table outside data/ and deletes/, with its bytes. */
  private def metadataFiles(root: String): Map[String, Seq[Byte]] = {
    val dir = TableIO.tableDir(root, "ns", "t")
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString)
      .filterNot(p => p.startsWith("data/") || p.startsWith("deletes/"))
      .map(p => p -> Files.readAllBytes(dir.resolve(p)).toSeq).toMap
    finally s.close()
  }

  private def copyTree(from: Path, to: Path, keep: Path => Boolean): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) && keep(p))
      .foreach { p =>
        val target = to.resolve(from.relativize(p))
        Files.createDirectories(target.getParent)
        Files.copy(p, target)
      }
    finally s.close()
  }

  test("a copy of the schema, files and manifest versions keeps every " +
    "operation marker and the row-id mark") {
    val root = newTable()
    append(root, "a", 0, 10) // v1, ids 0..9
    append(root, "b", 10, 10) // v2, ids 10..19
    Maintenance.compact(spark, root, "ns", "t", targetFileCount = 1) // v3
    Dml.truncate(root, "ns", "t") // v4
    TableIO.rollback(root, "ns", "t", 1L) // v5
    assert(TableIO.currentVersion(root, "ns", "t") == 5L)
    val highWater = (0L to 5L)
      .flatMap(TableIO.readManifestAt(root, "ns", "t", _))
      .flatMap(e => e.firstRowId.map(_ + e.recordCount)).max
    assert(highWater >= 40L) // the compacted file took fresh ids too

    val copy = Files.createTempDirectory("graft-header-copy-").toString
    val (src, dst) = (TableIO.tableDir(root, "ns", "t"),
      TableIO.tableDir(copy, "ns", "t"))
    copyTree(src, dst, p => {
      val rel = src.relativize(p).toString
      rel == "schema.json" || rel.startsWith("data/") ||
        rel.startsWith("deletes/") || rel.matches("""manifest/v\d+\.json""")
    })
    assert(TableIO.currentVersion(copy, "ns", "t") == 5L)

    def changes(from: Long) = Mor.readChanges(spark, copy, "ns", "t", from, from + 1)
    assert(changes(2L).count() == 0L, "the compaction is content-preserving")
    val truncated = changes(3L).groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(truncated == Map("delete" -> 20L))
    val ex = intercept[IllegalStateException](changes(4L))
    assert(ex.getMessage.contains("rollback"))

    append(copy, "c", 100, 5)
    val added = TableIO.readManifest(copy, "ns", "t")
      .filter(_.path == "data/c.parquet")
    assert(added.size == 1 && added.head.firstRowId.exists(_ >= highWater),
      s"firstRowId ${added.map(_.firstRowId)} below the mark $highWater")
  }

  test("each commit kind writes exactly one file: its manifest version") {
    val root = newTable()
    def onlyNewManifest(label: String)(commit: => Long): Long = {
      val before = metadataFiles(root)
      val v = commit
      val after = metadataFiles(root)
      assert(after.keySet -- before.keySet == Set(s"manifest/v$v.json"), label)
      assert(before.forall { case (p, bytes) => after.get(p).contains(bytes) },
        s"$label rewrote an existing file")
      v
    }
    def entry(name: String) = ManifestEntry(s"data/$name.parquet", "data", 1L, 10L)
    onlyNewManifest("append")(TableIO.commit(root, "ns", "t", Seq(entry("a"))))
    onlyNewManifest("expecting-append")(TableIO.commitAppendExpecting(root,
      "ns", "t", Seq(entry("b")), expected = 1L).fold(
        cur => fail(s"lost to v$cur"), identity))
    onlyNewManifest("replace")(TableIO.commitReplacing(root,
      "ns", "t", Seq(entry("ab")), expectedVersion = Some(2L),
      operation = Some("replace")))
    val rolledBack = onlyNewManifest("rollback")(
      TableIO.rollback(root, "ns", "t", 1L))

    // the markers ride in the headers of exactly those versions
    assert((1L to rolledBack).map(TableIO.replaceOperation(root, "ns", "t", _)) ==
      Seq(None, None, Some("replace"), None))
    assert((1L to rolledBack).map(TableIO.isRollback(root, "ns", "t", _)) ==
      Seq(false, false, false, true))
    // readers see entries only, never the header
    assert(TableIO.readManifestAt(root, "ns", "t", rolledBack).map(_.path) ==
      Seq("data/a.parquet"))
  }
}
