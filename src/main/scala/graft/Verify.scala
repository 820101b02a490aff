package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      // one retry: a 308-query single-JVM run is long enough to catch
      // transient environment faults (observed once: a mid-suite
      // ServiceLoader enumeration miss failed 4 streaming queries that
      // passed in isolation and on a clean re-run). A retry converts a
      // transient into a pass and leaves a deterministic failure
      // exactly as loud as before — both attempts log to stderr.
      def attempt(): Unit =
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        finally CacheScope.drain() // no cache outlives its query
      try attempt()
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed (attempt 1): ${e.getMessage}")
        try attempt()
        catch { case e2: Throwable =>
          System.err.println(s"[verify] $name failed: ${e2.getMessage}")
        }
      }
    }
    writeOracleSql(outDir)
    spark.stop()
  }

  /** `outDir/oracle_sql.json`: the DuckDB SQL of every query `wanted`
    * keeps, for `tools/check_oracle.py`. */
  def writeOracleSql(outDir: String,
      wanted: String => Boolean = _ => true): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => wanted(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
