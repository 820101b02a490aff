package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.plans.TableIO

/** CDC replication: apply a governed table's change stream to a target
  * table so the target CONVERGES to the source — the cross-region /
  * cross-catalog mirroring loop (Iceberg users run this as
  * "changelog scan → MERGE INTO mirror").
  *
  * Each micro-batch of change rows becomes ONE upsert-shaped commit on
  * the target: an equality-delete file carrying the DISTINCT KEYS of
  * every change row (a deleted key must die; an inserted key must kill
  * any older target row — a source-side upsert arrives as delete+insert
  * of the same key in one version), plus a data file with the insert
  * rows, both at the same sequence. The strict eq-delete gate
  * (data_seq < delete_seq) keeps the batch's own inserts alive.
  *
  * A micro-batch may span SEVERAL source versions (the source committed
  * more than once between triggers, or a restart is catching up), so a
  * key can appear at multiple `_change_version`s in one batch —
  * insert(k)@v then delete(k)@v+1, or two upserts of k. Only the key's
  * LATEST version decides its fate: each key is collapsed to its
  * max(`_change_version`) change set before the files are built, and
  * inserts are taken from that latest set only. Without the collapse a
  * later delete could not kill a same-batch earlier insert (both land at
  * the new sequence, which the eq-delete gate protects), and a
  * double-upsert would insert the key twice — the target would diverge
  * permanently.
  *
  * Delivery: Spark's offset log gives at-least-once `foreachBatch`
  * invocation; the apply is IDEMPOTENT by construction — replaying a
  * batch kills exactly the rows the previous apply inserted and
  * re-inserts identical ones, so target CONTENT is unchanged (the
  * exactly-once-content contract, without a batch-id ledger). At 100 TB
  * a batch's cost is O(changed rows) + O(1) metadata; the target is
  * never rewritten or scanned.
  */
object Replication {

  /** Apply one batch of CDC rows (`_change_type`, `_change_version`,
    * data columns) to the target as a single upsert-shaped commit.
    * Returns the committed version, or -1 for an empty batch (no
    * commit — replays of empty batches must not burn versions).
    */
  def applyChanges(spark: SparkSession, root: String, ns: String,
      table: String, batch: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "replication requires identifier columns")
    val dataCols = batch.columns
      .filterNot(c => c == "_change_type" || c == "_change_version").toSeq
    graft.CacheScope.scoped { cache =>
      val cached = cache(batch.select((dataCols.map(col) :+
        col("_change_type") :+ col("_change_version")): _*))
      if (cached.isEmpty) -1L
      else {
        val keys = cached.select(keyCols.map(col): _*).distinct()
        // collapse each key to its latest source version: a key-partitioned
        // window (shuffle bounded by changed rows, per-key groups tiny)
        val byKey = Window.partitionBy(keyCols.map(col): _*)
        val ins = cached
          .withColumn("_latest_v", max(col("_change_version")).over(byKey))
          .filter(col("_change_version") === col("_latest_v") &&
            col("_change_type") === "insert")
          .select(dataCols.map(col): _*)
        // the files are this call's own; the sequence lives only in the
        // manifest (TableIO.commitAtNextSeq)
        val unique = java.util.UUID.randomUUID().toString.take(8)
        val delete = TableIO.writeExactFile(spark, root, ns, table,
          s"deletes/replica_eq-$unique.parquet", keys, "eq_delete", seq = 0L)
        val data = TableIO.writeExactFile(spark, root, ns, table,
          s"data/replica-$unique.parquet", ins, "data", seq = 0L)
        TableIO.commitAtNextSeq(root, ns, table, Seq(delete, data))
      }
    }
  }

  /** Continuous replication: tail the source's CDC stream and apply
    * each micro-batch to the target. The checkpoint carries the source
    * snapshot offset, so restarts resume where they left off.
    */
  def replicate(spark: SparkSession, srcRoot: String, srcNs: String,
      srcTable: String, dstRoot: String, dstNs: String, dstTable: String,
      keyCols: Seq[String], checkpoint: String): StreamingQuery = {
    spark.readStream.format(graft.streaming.GraftTableSource.Format)
      .option("root", srcRoot).option("namespace", srcNs)
      .option("table", srcTable).option("mode", "cdc")
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, _: Long) =>
        applyChanges(spark, dstRoot, dstNs, dstTable, b, keyCols); ()
      }
      .start()
  }
}
