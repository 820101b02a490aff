package graft.plans

import java.nio.file.Files
import java.util.ConcurrentModificationException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Row-level DML beyond upsert: DELETE FROM t WHERE <range predicate>
  * (Iceberg's delete-by-filter / RowLevelOperations shape). The cost
  * model is the point:
  *
  *   - files whose bounds lie FULLY inside the range leave the manifest
  *     — pure metadata, no file opened, no delete row written;
  *   - files partially overlapping get position-delete rows for exactly
  *     their matching rows, computed by scanning ONLY those files;
  *   - files outside the range are never read or touched.
  *
  * So a "delete one day from a year of data" commit costs metadata +
  * a scan of the boundary files, independent of table size. History is
  * preserved (old manifests untouched); the commit appears in the
  * snapshots table as an overwrite when files were dropped.
  */
object Dml {

  /** TRUNCATE TABLE: publish an empty snapshot — O(1) metadata, no
    * file touched; prior versions stay readable (time travel), so
    * truncate is also instantly rollback-able.
    */
  def truncate(root: String, ns: String, table: String): Long =
    TableIO.commitReplacing(root, ns, table, Nil,
      operation = Some("delete"))

  /** Delete all rows with `column` in [lo, hi]. Returns the new
    * snapshot version (or the current one when nothing matched).
    *
    * Planned against one pinned version `v` and committed only as
    * v + 1: a commit landing in between (say a concurrent append) makes
    * this throw `ConcurrentModificationException` instead of being
    * erased by the replacing manifest.
    */
  def deleteWhere(spark: SparkSession, root: String, ns: String,
      table: String, column: String, lo: Long, hi: Long): Long = {
    val snap = TableIO.snapshot(root, ns, table)
    val (v, manifest) = (snap.version, snap.entries)
    val dataEntries = manifest.filter(_.content == "data")
    val fullyCovered = dataEntries.filter(e =>
      e.bounds.get(column).exists { case (l, h) => l >= lo && h <= hi })
    val fullSet = fullyCovered.map(_.path).toSet
    val touched = dataEntries.filterNot(e => fullSet(e.path))
      .filter(_.mayContain(column, lo, hi))

    val seq = snap.nextSeq
    val newDeletes =
      if (touched.isEmpty) Nil
      else {
        val matches = Mor.scanWithProvenance(spark, root, ns, table,
            version = Some(v), onlyPaths = Some(touched.map(_.path).toSet))
          .filter(col(column).between(lo, hi))
          .select(col("_file").as("file_path"), col("_pos").as("pos"))
        // one pass: write the file (the writer sorts it), count it from
        // its footer, and drop it again when nothing matched. The name
        // is this call's own: `seq` alone repeats for two calls planned
        // at one version and after a rollback, and a file another
        // version names must never be overwritten or dropped here.
        val unique = java.util.UUID.randomUUID().toString.take(8)
        val rel = s"deletes/pos_delete-dml-s$seq-$unique.parquet"
        val e = TableIO.writeExactFile(spark, root, ns, table, rel, matches,
          "pos_delete", seq)
        if (e.recordCount > 0) Seq(e)
        else {
          Files.delete(snap.dir.resolve(rel))
          Nil
        }
      }
    if (fullyCovered.isEmpty && newDeletes.isEmpty) v
    else
      try TableIO.commitReplacing(root, ns, table,
        manifest.filterNot(e => e.content == "data" && fullSet(e.path)) ++
          newDeletes,
        expectedVersion = Some(v),
        // content-CHANGING when files leave the manifest: the changelog
        // must synthesize their alive rows as deletes, not skip the
        // commit as compaction. A pos-delete-only boundary commit stays
        // append-shaped and needs no marker.
        operation = if (fullyCovered.isEmpty) None else Some("delete"))
      catch {
        case lost: ConcurrentModificationException =>
          // never published: the delete file is an orphan of this call
          newDeletes.foreach(e => Files.delete(snap.dir.resolve(e.path)))
          throw lost
      }
  }
}
