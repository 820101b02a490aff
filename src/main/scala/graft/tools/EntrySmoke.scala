package graft.tools

/** Dev smoke for the driver's t1 gate: SparkEntry.entry rows > 0. */
object EntrySmoke {
  def main(args: Array[String]): Unit = {
    val s = graft.LocalSession.builder().getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(s)
    println("ENTRY_ROWS=" + df.count())
    df.show(3)
    s.stop()
  }
}
