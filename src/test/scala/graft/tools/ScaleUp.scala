package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesize an sf1-equivalent dataset from sf0.1 for SCALE
  * measurement (r12/r13 verdict item: a measured sf0.1→sf1 growth
  * curve, not just design arguments). The driver generates testdata
  * only up to sf0.1, so sf1 is derived: each table is unioned K=10
  * times with keys shifted by copy·(max_key+1) — foreign-key joins
  * stay consistent across copies (orders⋈lineitem⋈customer etc.),
  * fixed dimensions (region, nation) stay fixed, document text and
  * embedding values are perturbed per copy so dedup/ANN workloads
  * don't degenerate into 10-way exact duplicates. PERFORMANCE data
  * only — no oracle runs against it (values are not the driver
  * generator's), which is exactly the scale-point's purpose.
  *
  * Args: <srcSfDir> <outDir> [K]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, rest @ _*) = args
    val k = rest.headOption.map(_.toInt).getOrElse(10)
    // fixed 8 cores: the derived files' layout follows the partition count
    val spark = graft.LocalSession.builder(cores = 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(out).mkdirs()

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(
        spark.range(k).select(col("id").cast("long").as("_copy")))

    def offsetOf(df: DataFrame, keyCol: String): Long =
      df.agg(max(col(keyCol))).head().getLong(0) + 1L

    def shift(c: String, off: Long) =
      (col(c) + col("_copy") * lit(off)).as(c)

    def write(name: String, df: DataFrame): Unit = {
      df.coalesce(4).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name x$k done")
    }

    def rd(name: String) = spark.read.parquet(s"$src/$name.parquet")

    // fixed dimensions: unchanged
    write("region", rd("region"))
    write("nation", rd("nation"))

    val (custOff, ordOff, partOff, suppOff) = (
      offsetOf(rd("customer"), "c_custkey"),
      offsetOf(rd("orders"), "o_orderkey"),
      offsetOf(rd("part"), "p_partkey"),
      offsetOf(rd("supplier"), "s_suppkey"))

    write("customer", copies(rd("customer")).select(
      shift("c_custkey", custOff), col("c_name"), col("c_nationkey"),
      col("c_acctbal"), col("c_mktsegment")))
    write("supplier", copies(rd("supplier")).select(
      shift("s_suppkey", suppOff), col("s_name"), col("s_nationkey"),
      col("s_acctbal")))
    write("part", copies(rd("part")).select(
      shift("p_partkey", partOff), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    write("orders", copies(rd("orders")).select(
      shift("o_orderkey", ordOff), shift("o_custkey", custOff),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    write("lineitem", copies(rd("lineitem")).select(
      shift("l_orderkey", ordOff), shift("l_partkey", partOff),
      shift("l_suppkey", suppOff), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))

    val ev = rd("events")
    val (evOff, userOff) = (offsetOf(ev, "event_id"),
      offsetOf(ev, "user_id"))
    // user ids shift per copy (per-user state shapes stay constant);
    // timestamps stay — a 10x corpus over the same wall-clock span is
    // 10x event density, the realistic scale-up for window state
    write("events", copies(ev).select(
      shift("event_id", evOff), col("ts"), shift("user_id", userOff),
      col("event_type"), col("value"), col("props")))

    val docs = rd("documents")
    val docOff = offsetOf(docs, "doc_id")
    // per-copy text perturbation: keeps copies NEAR-duplicates (the
    // realistic dup structure) instead of 10-way exact duplicates
    write("documents", copies(docs).select(
      shift("doc_id", docOff),
      when(col("_copy") === 0L, col("text"))
        .otherwise(concat(col("text"), lit(" rev"), col("_copy")))
        .as("text"),
      col("lang"), col("source"),
      // keep n_chars == length(text): the suffix is " rev"+copy, whose
      // length depends on the copy number's digit count (K > 10 gets
      // two-digit copies — a constant +5 was wrong there)
      when(col("_copy") === 0L, col("n_chars"))
        .otherwise(col("n_chars") +
          length(concat(lit(" rev"), col("_copy").cast("string")))
            .cast("long")).as("n_chars")))

    val emb = rd("embeddings")
    val vecOff = offsetOf(emb, "vec_id")
    // deterministic per-(copy, vec, dim) jitter so copies are distinct
    // points (identical vectors would tie every cosine ranking)
    write("embeddings", copies(emb).select(
      shift("vec_id", vecOff),
      when(col("_copy") === 0L, col("embedding")).otherwise(
        expr("transform(embedding, (x, i) -> CAST(x + " +
          "(pmod(xxhash64(vec_id, _copy, i), 1000) - 500) / 5e5 " +
          "AS FLOAT))")).as("embedding"),
      col("label")))

    spark.stop()
    println(s"[scaleup] wrote $out")
  }
}
