package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Memory-pressure smoke (VERDICT r14 stretch item 8): the 128 GiB
  * sandbox never exercises the spill paths a 100 TB cluster lives in,
  * so this smoke runs the suite's most expensive queries under a
  * DELIBERATELY starved execution-memory budget
  * (`spark.memory.fraction` cut ~20x, few shuffle partitions so each
  * partition is large) against the sf1 scale-up, and records per
  * query: wall time, `memoryBytesSpilled` / `diskBytesSpilled`
  * (summed over all tasks via a listener), and completion — the claim
  * under test is that the operators DEGRADE to sort/aggregate/join
  * spills instead of OOMing when execution memory runs out.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/tmp/sf1 run_main.sh graft.tools.SpillSmoke
  * (optional args: [memoryFraction] [shufflePartitions] [query,...]).
  * Results are pasted into README's scale section per round policy.
  */
object SpillSmoke {
  def main(args: Array[String]): Unit = {
    val frac = if (args.length > 0) args(0).toDouble else 0.02
    val parts = if (args.length > 1) args(1).toInt else 4
    val names: Seq[String] = if (args.length > 2) args(2).split(',').toSeq
      else Seq("graph_louvain", "ann_ivfpq", "ann_recall_eval_ivfpq",
        "dedup_substr_spans", "q_window_range_frame")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sf1")
    val spark = graft.LocalSession.builder()
      .config("spark.sql.shuffle.partitions", parts.toLong)
      // the starvation knob: ~frac of (heap - 300MB) is ALL the
      // execution+storage memory every concurrent task shares
      .config("spark.memory.fraction", frac)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val mem = new java.util.concurrent.atomic.AtomicLong(0L)
    val disk = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          mem.addAndGet(m.memoryBytesSpilled)
          disk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    println(s"[spillsmoke] sf=$sfDir memory.fraction=$frac " +
      s"shuffle.partitions=$parts heap=${Runtime.getRuntime.maxMemory / (1 << 20)}MB")
    names.foreach { n =>
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val outcome = try {
        val df = fn(spark, sfDir)
        import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}
        df.agg(bit_xor(xxhash64(struct(
          df.columns.toIndexedSeq.map(col): _*)))).collect()
        "completed"
      } catch {
        case e: Throwable => s"FAILED: ${e.getClass.getSimpleName} ${e.getMessage}"
      } finally graft.CacheScope.drain()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; a short settle keeps the
      // per-query attribution honest at smoke granularity
      Thread.sleep(1500)
      val m = mem.getAndSet(0L)
      val d = disk.getAndSet(0L)
      println(f"[spillsmoke] $n: $outcome in $wall%.1fs, " +
        f"spill mem=${m / (1 << 20)}MB disk=${d / (1 << 20)}MB")
    }
    spark.stop()
  }
}
