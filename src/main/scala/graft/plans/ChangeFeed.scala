package graft.plans

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental change-feed consumption — the micro-batch CDC shape
  * with the SNAPSHOT VERSION as the stream offset (exactly how a
  * Spark streaming source over an Iceberg table advances):
  *
  *   - each `processAvailable` call reads the changelog from the
  *     checkpointed version to the table's current version and hands
  *     the batch to the callback;
  *   - the offset advances (atomic tmp+move) only AFTER the callback
  *     returns — a crash between processing and the offset write
  *     replays the batch: at-least-once delivery, exactly-once when
  *     the sink is idempotent on (_change_version, physical row), the
  *     standard streaming-sink contract;
  *   - state is one number; no log retention problem — the versioned
  *     manifests ARE the log, bounded by `expireSnapshots`.
  */
object ChangeFeed {

  def offsetOf(checkpoint: Path): Long =
    if (Files.isRegularFile(checkpoint))
      Files.readString(checkpoint).trim.toLong
    else 0L

  /** The checkpoint an index keeps beside its `table`: the source
    * snapshot version it has folded up to.
    */
  def srcVersionFile(root: String, ns: String, table: String): Path =
    TableIO.tableDir(root, ns, table).resolve("src-version.text")

  /** Process all snapshots committed since the checkpoint. Returns
    * (fromVersion, toVersion); equal values mean nothing new.
    */
  def processAvailable(spark: SparkSession, root: String, ns: String,
      table: String, checkpoint: Path)(
      callback: DataFrame => Unit): (Long, Long) = {
    val from = offsetOf(checkpoint)
    val to = TableIO.currentVersion(root, ns, table)
    require(from <= to,
      s"checkpoint v$from is ahead of $ns.$table (v$to) — wrong table?")
    if (to > from) {
      callback(Mor.readChanges(spark, root, ns, table, from, to))
      val tmp = Files.createTempFile(checkpoint.getParent, ".ckpt", ".tmp")
      Files.writeString(tmp, to.toString)
      Files.move(tmp, checkpoint, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
    (from, to)
  }
}
