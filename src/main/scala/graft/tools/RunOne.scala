package graft.tools

/** Dev helper: run one named query (or a comma list) and dump results +
  * oracle SQL, for fast iteration with tools/check_oracle.py.
  * Args: <sfDir> <outDir> <name>[,<name>...] [--explain]
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, names, rest @ _*) = args
    val explain = rest.contains("--explain")
    val spark = graft.LocalSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    val wantedList = names.split(',').toSeq // duplicates = warm re-runs
    val wanted = wantedList.toSet
    wantedList.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      if (explain) df.explain("formatted")
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      graft.CacheScope.drain()
      println(f"[runone] $name ok in ${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    graft.Verify.writeOracleSql(outDir, wanted)
    spark.stop()
  }
}
