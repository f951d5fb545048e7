package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Transaction-history ingest (reference
  * code/ingest/3C_load_txn_history.sql:4-18): infer the table schema
  * from a 1,000-record sample of the staged gzip JSON-lines feed
  * (`INFER_SCHEMA ... LIMIT 1000` + `USING TEMPLATE`), then load the
  * full stage with that schema (`COPY INTO ... MATCH_BY_COLUMN_NAME =
  * CASE_INSENSITIVE`) into a managed table.
  *
  * Spark-first shape: the sample read bounds inference cost (the full
  * corpus is never scanned twice), the full read is a single
  * schema-applied scan, and gzip decompression is transparent to the
  * JSON source. TXN_DT arrives as `yyyy-MM-dd HH:mm:ss.SSS` strings and
  * is typed to a proper timestamp at load, as the curation layer
  * expects.
  */
object TxnHistoryLoad {

  /** Infer-on-sample then full load; returns the typed frame. A stage
    * path whose last segment is a glob (such as `*.json.gz`) is read as
    * its directory with that glob as `pathGlobFilter`: the same files of
    * the flat stage directory, without Spark probing the literal glob for
    * a streaming-sink metadata directory (a WARN with a
    * `FileNotFoundException` trace per read). */
  def read(spark: SparkSession, stageGlob: String): DataFrame = {
    import spark.implicits._
    val (path, glob) = splitGlob(stageGlob)
    def reader = glob.foldLeft(spark.read)(_.option("pathGlobFilter", _))
    val sample = spark.read.json(
      reader.text(path).limit(1000).as[String])
    val typed = reader.schema(sample.schema).json(path)
    // case-insensitive by-name landing: normalize to lower-case column
    // names (the reference's MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE)
    val lowered = typed.columns.foldLeft(typed)((d, c) =>
      d.withColumnRenamed(c, c.toLowerCase))
    lowered.withColumn("txn_dt", to_timestamp(col("txn_dt")))
  }

  /** `dir/<glob>` → (`dir`, Some(`<glob>`)) when only the last segment
    * holds glob characters; otherwise the path unchanged and None. */
  private def splitGlob(path: String): (String, Option[String]) = {
    def isGlob(s: String) = s.exists("*?[{".contains(_))
    val i = path.lastIndexOf('/')
    if (i > 0 && isGlob(path.substring(i + 1)) && !isGlob(path.take(i)))
      (path.take(i), Some(path.substring(i + 1)))
    else (path, None)
  }

  /** Load the stage into a managed overwrite table (COPY INTO twin). */
  def run(spark: SparkSession, stageGlob: String, table: String): Long = {
    TableIO.dropWithLocation(spark, table)
    read(spark, stageGlob).write.mode("overwrite").saveAsTable(table)
    spark.table(table).count()
  }
}
