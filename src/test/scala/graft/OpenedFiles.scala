package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graftbridge.Bridge

/** How many data files a query actually opened. `df.inputFiles` is no
  * use for this: it lists the relation's files before `listFiles`
  * prunes them.
  */
object OpenedFiles extends AdaptiveSparkPlanHelper {

  /** Runs `df`'s plan afresh and sums the `numFiles` metric of its
    * parquet scans over data files (delete-file scans excluded), looking
    * inside adaptive query stages. A fresh plan, because a re-run of an
    * executed plan resets its metrics without listing files again. A
    * catalog table's V1 scan hides its parquet scan inside the RDD it
    * hands Spark; its files are the file partitions of that RDD's
    * lineage.
    */
  def count(df: DataFrame): Long = {
    val run = Bridge.ofRows(df.sparkSession, df.queryExecution.logical)
    run.collect()
    collect(run.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if !f.relation.location.inputFiles.exists(isDelete) =>
        f.metrics("numFiles").value
      case r: RowDataSourceScanExec =>
        filesOf(r.rdd).distinct.count(!isDelete(_)).toLong
    }.sum
  }

  private def isDelete(path: String): Boolean = path.contains("/deletes/")

  private def filesOf(rdd: RDD[_]): Seq[String] =
    rdd.partitions.toSeq.flatMap {
      case p: FilePartition => p.files.map(_.filePath.toString).toSeq
      case _ => Nil
    } ++ rdd.dependencies.flatMap(d => filesOf(d.rdd))
}
