package lakebench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** `lakebench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> [--trace-out <file>]`
  *
  * Runs one workload in one Spark session at local[cores] with as many
  * shuffle partitions as cores, a fresh catalog root under `--work` (deleted
  * on exit), and prints the report lines followed by the result JSON as the
  * last stdout line. `--trace 1` reports the per-layer metrics of a traced
  * loop instead of the end-to-end ones, and writes every span to
  * `--trace-out`.
  */
object Main {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_ms.p50" -> "ms",
    "rows_per_s" -> "1/s",
    "bytes_per_live_row" -> "bytes")

  val PerLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_ms" -> "ms",
    "spark.job_ms" -> "ms", "spark.gap_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "tableio.manifest_entries" -> "count", "tableio.manifest_bytes" -> "bytes",
    "tableio.metadata_bytes" -> "bytes", "tableio.data_bytes" -> "bytes",
    "tableio.commits" -> "count",
    "write.jobs_per_op" -> "count",
    "maintenance.bytes_rewritten" -> "bytes",
    "maintenance.delete_files_before" -> "count",
    "maintenance.delete_files_after" -> "count",
    "mor.build_ms" -> "ms", "mor.plan_ms" -> "ms", "mor.exec_ms" -> "ms",
    "mor.data_files_live" -> "count", "mor.data_files_scanned" -> "count",
    "mor.prune_ratio" -> "ratio", "mor.pos_delete_files" -> "count",
    "mor.eq_delete_files" -> "count", "mor.rows_deleted" -> "count",
    "curate.candidate_pairs" -> "count", "curate.planted_pairs_found" -> "count",
    "curate.lsh_precision" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    require(Seq("lake_ingest", "llm_curate").contains(workload),
      s"unknown workload $workload")
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)
    val checks = new Checks
    var outcome: Option[Outcome] = None
    var referenceMs = Double.NaN
    var error: Option[Throwable] = None
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(spark)
      val ctx = Ctx(spark, work.resolve("catalog").toString, seed, seconds,
        traced, tracer, checks)
      Stats.log(s"session up; $workload seed $seed")
      referenceMs = Calibration.referenceMs(spark, work.resolve("reference"))
      outcome = Some(workload match {
        case "lake_ingest" => LakeIngest.run(ctx)
        case "llm_curate" => LlmCurate.run(ctx, work)
      })
      if (traced) opts.get("trace-out").foreach { f =>
        val tr = new TraceReport(tracer)
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        Files.write(Paths.get(f), (tr.spansJsonLines.toSeq :+ "").mkString("\n")
          .getBytes("UTF-8"))
      }
    } catch {
      case e: Throwable =>
        error = Some(e)
        System.err.println(s"[lakebench] $workload failed: $e")
        e.printStackTrace()
    } finally {
      Stats.log("workload done")
      spark.stop()
      Stats.deleteTree(work)
    }
    val o = outcome.getOrElse(Outcome(Map.empty, Map.empty, Nil))
    val wanted = if (traced) PerLayer else EndToEnd
    // end-to-end times at the reference host speed (see Calibration)
    val scale = Calibration.NominalMs / referenceMs
    val units = wanted.toMap
    val values = if (traced) o.perLayer else o.endToEnd.map { case (n, v) =>
      n -> (units.get(n) match {
        case Some("ms") | Some("s") => v * scale
        case Some("1/s") => v / scale
        case _ => v
      })
    }
    // counters of a layer the workload leaves idle are genuinely zero; a
    // missing end-to-end metric is an error
    val filled = wanted.map { case (n, _) =>
      n -> values.getOrElse(n, if (traced) 0.0 else Double.NaN)
    }
    println(s"workload $workload seed $seed seconds $seconds trace ${if (traced) 1 else 0}")
    val wall = if (traced) Nil else EndToEnd.collect {
      case (n, u) if u != "bytes" && o.endToEnd.contains(n) =>
        (s"wall.$n", o.endToEnd(n), u)
    }
    (filled.filter(m => values.contains(m._1)).map { case (n, v) => (n, v, units(n)) } ++
      (("reference_ms", referenceMs, "ms") +: wall) ++ o.report)
      .foreach { case (n, v, u) => println(f"  $n%-34s $v%16.4f $u") }
    val finite = filled.forall(kv => !kv._2.isNaN && !kv._2.isInfinite)
    val correct = error.isEmpty && checks.failed == 0 && finite
    if (checks.attempted > 0)
      println(f"  failed_share ${checks.failed.toDouble / checks.attempted}%.4f " +
        s"(${checks.failed} of ${checks.attempted} checked operations)")
    val metrics = filled.map { case (n, v) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "${units(n)}"}"""
    }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${math.max(1L, checks.attempted)}, """ +
      s""""failed": ${if (correct) checks.failed else math.max(1L, checks.failed)}, """ +
      s""""metrics": {$metrics}}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
