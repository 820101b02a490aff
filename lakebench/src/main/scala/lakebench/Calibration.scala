package lakebench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Host-speed reference. The shared hosts this benchmark runs on change
  * speed by up to two times over tens of minutes, uniformly for every
  * operation, so whole runs land in a fast or a slow period and no amount
  * of work inside one run averages that out. Before the workload makes its
  * first graft call, a fixed pure-Spark job (an aggregation and a small
  * parquet round trip) is timed; the end-to-end times are reported scaled
  * by [[NominalMs]] / reference, i.e. as they would read on a host where
  * the reference takes [[NominalMs]]. The wall times are printed beside
  * them. The reference runs before any graft code, so no change to graft
  * can move it.
  */
object Calibration {
  val NominalMs = 500.0
  val Samples = 7
  val Warmup = 2

  def referenceMs(spark: SparkSession, dir: Path): Double = {
    val ms = (1 to Samples).map { i =>
      Stats.timed(job(spark, dir.resolve(s"reference-$i").toString))._2
    }
    Stats.log(ms.map(m => f"$m%.0f").mkString("reference ms: ", ", ", ""))
    Stats.median(ms.drop(Warmup))
  }

  private def job(spark: SparkSession, out: String): Unit = {
    spark.range(0, 2000000, 1, spark.sparkContext.defaultParallelism)
      .groupBy((col("id") % 1009).as("k"))
      .agg(sum("id"), count(lit(1))).collect()
    spark.range(0, 100000, 1, 1).selectExpr("id", "cast(id as string) as s")
      .write.parquet(out)
    spark.read.parquet(out).agg(sum("id")).collect()
  }
}
