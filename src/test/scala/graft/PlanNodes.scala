package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Collects physical plan nodes through adaptive query stages: after an
  * action, the final adaptive plan; before one, the initial plan. */
object PlanNodes extends AdaptiveSparkPlanHelper

/** Runs a body with Spark's automatic broadcast joins off, the setting
  * under which a MOR read takes its deletion-vector and shuffle paths. */
object NoBroadcast {
  private val Key = "spark.sql.autoBroadcastJoinThreshold"

  def apply[T](spark: SparkSession)(body: => T): T = {
    val prev = spark.conf.getOption(Key)
    spark.conf.set(Key, "-1")
    try body finally prev.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
  }
}
