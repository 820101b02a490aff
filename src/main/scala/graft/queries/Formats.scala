package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextHash
import graft.sources.FormatRoundtrip

/** Source-format parity queries: each aggregates a table AFTER a
  * CSV/JSON write+read round-trip while the oracle aggregates the
  * original parquet — a hash match proves the text formats preserve
  * every value bit-for-bit (SURVEY.md §2.6 sources/sinks).
  */
object Formats {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // orders through headered CSV: longs, doubles (decimal-summed for
    // order-independence), millisecond timestamps, quoted strings.
    "src_csv_roundtrip" -> ((s, dir) =>
      FormatRoundtrip.csvOrders(s, dir)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum("o_orderkey").as("sum_key"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          date_format(min("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("min_date"),
          date_format(max("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("max_date"))
        .orderBy("o_orderstatus")),
    // lineitem through ORC: the non-parquet columnar path — vectorized
    // ORC reader, its own type encoders and file statistics.
    "src_orc_roundtrip" -> ((s, dir) =>
      FormatRoundtrip.orcLineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum("l_orderkey").as("sum_key"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("sum_price"),
          date_format(min("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("min_ship"),
          date_format(max("l_shipdate"), "yyyy-MM-dd HH:mm:ss").as("max_ship"))
        .orderBy("l_returnflag")),
    // events through a Hive-layout partitioned directory: the filter
    // on the partition column prunes whole directories at planning
    // time — only event_type=purchase files are ever opened
    // (PartitioningSpec asserts the executed scan's file partitions).
    "src_partitioned_roundtrip" -> ((s, dir) =>
      FormatRoundtrip.hivePartitionedEvents(s, dir)
        .filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).cast("double")
            .as("sum_value"))
        .orderBy("day")),
    // documents through JSON lines: free text with newlines/quotes/
    // unicode; the summed rolling hash of the text makes any corrupted
    // character anywhere in the corpus visible in one bigint.
    "src_json_roundtrip" -> ((s, dir) =>
      FormatRoundtrip.jsonDocuments(s, dir)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(TextHash.rollingHash(col("text"))).as("sum_hash"),
          sum(length(col("text"))).as("sum_len"))
        .orderBy("lang"))
  )

  /** DuckDB twin of TextHash.rollingHash applied to expression `e`. */
  private def rollSql(e: String): String =
    s"""(CASE WHEN length($e) = 0 THEN 0 ELSE
       | list_reduce(list_transform(string_split($e, ''),
       |   c -> CAST(unicode(c) AS BIGINT)), (a, b) -> (a * 31 + b) % 1000000007)
       | END)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "src_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  strftime(min(o_orderdate), '%Y-%m-%d %H:%M:%S') AS min_date,
        |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(l_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  strftime(min(l_shipdate), '%Y-%m-%d %H:%M:%S') AS min_ship,
        |  strftime(max(l_shipdate), '%Y-%m-%d %H:%M:%S') AS max_ship
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "src_partitioned_roundtrip" ->
      """SELECT CAST(ts AS DATE) AS day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "src_json_roundtrip" ->
      s"""SELECT lang, count(*) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(${rollSql("text")}) AS BIGINT) AS sum_hash,
         |  CAST(sum(length(text)) AS BIGINT) AS sum_len
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin
  )
}
