package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{bit_xor, col, struct, xxhash64}

/** Dev helper: per-JOB wall breakdown of one registry query — where a
  * many-stage eval's seconds actually go (scheduling, planning, or
  * data). Args: <sfDir> <name>
  */
object JobProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val descs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    // listener-bus thread writes, main thread reads after a drain wait
    val total = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var t00 = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        starts.put(js.jobId, js.time)
        val cs = Option(js.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .getOrElse("?")
        descs.put(js.jobId,
          s"$cs stages=${js.stageInfos.size} " +
            s"tasks=${js.stageInfos.map(_.numTasks).sum}")
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val d = je.time - starts.getOrDefault(je.jobId, je.time)
        total.addAndGet(d)
        val rel = (starts.getOrDefault(je.jobId, je.time) - t00) / 1000.0
        println(f"[jobprobe] job ${je.jobId}%3d start=$rel%7.2f " +
          f"dur=${d / 1000.0}%7.2fs  ${descs.getOrDefault(je.jobId, "?")}")
      }
    })
    spark.range(1000000).selectExpr("bit_xor(xxhash64(id))").collect()
    Thread.sleep(500)
    println("[jobprobe] ---- query start ----")
    // repeat (arg 3, default 1): with N>1 the LAST pass is the warm
    // anatomy — a bench's steady state — instead of first-in-JVM
    // planning+codegen; caches drain between passes like the bench.
    val passes = if (args.length > 2) args(2).toInt.max(1) else 1
    (1 to passes).foreach { p =>
      total.set(0L)
      t00 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.agg(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))))
        .collect()
      graft.CacheScope.drain()
      val wall = (System.nanoTime() - t0) / 1e9
      // settle until the async listener bus stops delivering job ends
      var last = -1L
      while (total.get() != last) { last = total.get(); Thread.sleep(500) }
      println(f"[jobprobe] pass $p/$passes wall ${wall}%.2fs, " +
        f"sum-of-jobs ${total.get() / 1000.0}%.2fs")
    }
    spark.stop()
  }
}
