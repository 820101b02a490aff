package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}

/** MERGE-shaped row-level upsert, the operation the reference's
  * equality deletes exist to enable (`main.rs:218-276` writes the delete
  * side; an engine pairs it with the replacement rows): ONE snapshot
  * commit containing
  *
  *   1. an equality-delete file keyed on the table's identifier columns,
  *      one row per incoming key, and
  *   2. a data file holding the incoming rows,
  *
  * both at the SAME sequence number. Iceberg v2's strict gate
  * (`data_seq < delete_seq` for equality deletes) then does all the
  * work: rows from older snapshots with a matching key are deleted,
  * while the incoming rows — committed at the delete's own sequence —
  * survive. Repeated upserts chain correctly for the same reason: a
  * later upsert's delete outranks every earlier snapshot's rows.
  *
  * Scale shape: no data rewrite, no read of existing data at all —
  * O(incoming) writes plus an O(#files) metadata commit. The cost is
  * deferred to readers (the MOR anti-join) until compaction folds the
  * deletes away, which is exactly Iceberg's write-optimized trade.
  */
object Upsert {

  /** Apply `df` as an upsert on `keyCols`. Returns the committed
    * snapshot version. `statsCols` adds manifest bounds on the new data
    * file for scan-time pruning.
    */
  def upsert(spark: SparkSession, root: String, ns: String, table: String,
      df: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Nil): Long = {
    require(keyCols.nonEmpty, "upsert requires identifier columns")
    val schema = TableIO.readSchema(root, ns, table)
    require(keyCols.forall(schema.fieldNames.contains),
      s"key columns ${keyCols.mkString(",")} not all in table schema")
    // the files are this call's own; the sequence lives only in the
    // manifest (TableIO.commitAtNextSeq)
    val unique = java.util.UUID.randomUUID().toString.take(8)
    val delete = TableIO.writeExactFile(spark, root, ns, table,
      s"deletes/upsert_eq-$unique.parquet",
      df.select(keyCols.head, keyCols.tail: _*), "eq_delete", seq = 0L)
    val data = TableIO.writeExactFile(spark, root, ns, table,
      s"data/upsert-$unique.parquet", df, "data", seq = 0L,
      bounds = TableIO.longBounds(df, statsCols))
    TableIO.commitAtNextSeq(root, ns, table, Seq(delete, data))
  }
}
