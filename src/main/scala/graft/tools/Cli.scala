package graft.tools

import java.nio.file.{Files, Paths}
import graft.plans.{Mor, Pipeline}
import graft.sources.GenConfig

/** CLI mirroring the reference binary (`main.rs:403-422`: clap
  * subcommands `prepare` (default) and `cleanup`, config path argument).
  *
  * Usage: Cli [prepare|cleanup] [--config <config.toml>] [--root <dir>]
  *
  * `prepare` runs the 3-phase pipeline and prints the configuration and
  * summary like `print_config`/`print_summary` (`main.rs:301-345`) —
  * except the summary count is the true MOR count, not arithmetic.
  */
object Cli {
  def main(args: Array[String]): Unit = {
    var cmd = "prepare"
    var configPath: Option[String] = None
    var root = sys.props.getOrElse("java.io.tmpdir", "/tmp") + "/graft-warehouse"
    args.toList match {
      case c :: rest if !c.startsWith("--") =>
        cmd = c; parseFlags(rest)
      case rest => parseFlags(rest)
    }
    def parseFlags(rest: List[String]): Unit = rest match {
      case "--config" :: p :: tail => configPath = Some(p); parseFlags(tail)
      case "--root" :: p :: tail => root = p; parseFlags(tail)
      case Nil => ()
      case other => sys.error(s"unknown args: $other")
    }

    val cfg = configPath match {
      case Some(p) =>
        // config-file existence check (`main.rs:405-411`)
        if (!Files.isRegularFile(Paths.get(p))) {
          System.err.println(s"config file not found: $p")
          sys.exit(1)
        }
        GenConfig.fromToml(Files.readString(Paths.get(p)))
      case None => GenConfig.reference
    }

    val builder = graft.LocalSession.builder()
    val spark = sys.env.get("SPARK_MASTER").fold(builder)(builder.master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    cmd match {
      case "prepare" =>
        // print_config (`main.rs:301-332`)
        println(s"table: ${cfg.namespace}.${cfg.tableName} @ $root")
        println(s"data: ${cfg.data.fileCount} x ${cfg.data.rowsPerFile} rows")
        println(s"pos deletes: ${cfg.posDelete.fileCount} x ${cfg.posDelete.rowsPerFile}")
        println(s"eq deletes: ${cfg.eqDelete.fileCount} x ${cfg.eqDelete.rowsPerFile}")
        val v = Pipeline.prepare(spark, root, cfg)
        // print_summary (`main.rs:334-345`) — true MOR count
        val n = Mor.mergedCount(spark, root, cfg.namespace, cfg.tableName)
        println(s"committed snapshot v$v; surviving rows: $n " +
          s"(expected ${cfg.expectedSurvivingRows})")
      case "cleanup" =>
        Pipeline.cleanup(root, cfg)
        println(s"dropped ${cfg.namespace}.${cfg.tableName} and namespace")
      case "ingest" =>
        // stream the events table into a graft table, one snapshot per
        // micro-batch, then report the committed state.
        val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
          "/root/testdata/sf0.001")
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(s"$sfDir/events.*")
        val commits = graft.streaming.EventsStream.streamIntoTable(
          spark, src, root, cfg.namespace, "events_ingested")
        val n = Mor.read(spark, root, cfg.namespace, "events_ingested").count()
        println(s"ingested $n rows in $commits snapshot commit(s) " +
          s"-> ${cfg.namespace}.events_ingested @ $root")
      case other =>
        System.err.println(s"unknown subcommand: $other"); sys.exit(2)
    }
    spark.stop()
  }
}
