package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Correctness references built without the engine's own dedupe,
  * normaliser or table code: plain Spark SQL over the raw change log.
  */
object Reference {

  /** Order-independent fingerprint of a live state: row count plus the sum
    * of a 64-bit hash of (repo, path, seq, sha2(content)).
    */
  final case class StateHash(rows: Long, hash: BigDecimal)

  def hashOf(state: DataFrame): StateHash = {
    val r = state
      .select(xxhash64(col("repo"), col("path"), col("seq"), col("sha")).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head()
    StateHash(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Last writer wins over the raw log files: the highest-seq event per
    * key, dropped when it is a delete; content read from the payload JSON.
    */
  def liveState(spark: SparkSession, logFiles: Seq[String]): DataFrame = {
    spark.read.schema(graft.model.Model.changeLogSchema).parquet(logFiles: _*)
      .createOrReplaceTempView("perfbench_log")
    spark.sql(
      """SELECT repo, path, seq, sha2(get_json_object(payload, '$.content'), 256) AS sha
        |FROM (SELECT repo, path, seq, op, payload,
        |             row_number() OVER (PARTITION BY repo, path ORDER BY seq DESC) AS rn
        |      FROM perfbench_log) w
        |WHERE rn = 1 AND op <> 'D'""".stripMargin)
  }

  /** The same projection over a lake table's live rows. */
  def tableState(live: DataFrame): DataFrame =
    live.select(col("repo"), col("path"), col("seq"), sha2(col("content"), 256).as("sha"))

  /** Reference rows for point lookups: key -> (seq, sha2(content)). */
  def liveRows(spark: SparkSession, logFiles: Seq[String]): Map[(String, String), (Long, String)] =
    liveState(spark, logFiles).collect().map { r =>
      (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getString(3))
    }.toMap

  /** Reference aggregate view: per language, live row count and bytes. */
  def viewOf(live: DataFrame): Map[String, (Long, Long)] =
    live.groupBy("language")
      .agg(count(lit(1)).as("cnt"), sum(coalesce(col("size_bytes"), lit(0L))).as("bytes"))
      .collect().map(r => Option(r.getString(0)).getOrElse("<null>") -> (r.getLong(1), r.getLong(2)))
      .toMap
}
