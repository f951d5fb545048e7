package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table readers over a scale-factor directory (see TESTDATA.md).
  *
  * Mirrors the reference's qualified-name table scans
  * (`code/curate/02_customer_sp.sql:22` `session.table(...)`) re-expressed as
  * self-describing Parquet reads — the scan is vectorized (`ColumnarBatch`)
  * and Catalyst pushes filters/projections down to the parquet reader.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A schema inferred from one path's files as they were listed. */
  private final case class Inferred(files: Seq[(String, Long, Long)],
                                    schema: StructType)
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), Inferred]()

  /** Read `<dir>/<name>.parquet` with a cached schema.
    *
    * A bare `spark.read.parquet` infers the schema eagerly, and Spark does
    * that with a one-task job that reads a footer (even with
    * `mergeSchema=false`): a fixed driver-side cost on every read, several
    * per query for multi-table joins. So the inferred schema is kept per
    * path and per session parquet/partition conf (those confs change what
    * inference returns, e.g. `Tables.events` sets `nanosAsLong`), and a
    * read that finds it passes it to `spark.read.schema`, which launches no
    * job.
    *
    * It stays correct because every call lists the path's files
    * recursively and reuses the schema only when each file's path, length
    * and modification time match the listing it was inferred from; any
    * rewrite re-infers and replaces the entry, so there is one entry per
    * path and conf set. A missing path or an empty listing is never
    * cached: it takes the plain read, so Spark's own error surfaces. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        val key = (path, schemaConfs(spark))
        Option(schemas.get(key)).filter(_.files == files) match {
          case Some(hit) => spark.read.schema(hit.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, Inferred(files, df.schema))
            df
        }
    }
  }

  /** Whether any conf set holds a cached schema for `path`. */
  private[graft] def isCached(path: String): Boolean =
    schemas.keySet.stream.anyMatch(_._1 == path)

  private def schemaConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.contains("parquet") || k.startsWith("spark.sql.sources.partition") ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.session.timeZone"
    }

  /** (path, length, mtime) of every file under `path`, sorted; None when
    * the path is missing or holds no file. */
  private def listing(spark: SparkSession,
                      path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new Path(path)
    try {
      val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listFiles(p, true)
      val files = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some(files.result().sortBy(_._1)).filter(_.nonEmpty)
    } catch { case _: java.io.IOException => None }
  }

  /** Raise a narrow source's parallelism to the cluster default before
    * heavy per-row compute (signature hashing, shingling, codecs): a
    * single large unsplittable input (one parquet row group, a .gz
    * text file) delivers ONE input split regardless of
    * maxPartitionBytes, serializing every downstream expression until
    * the first exchange. Round-robin repartition right after the read
    * is the standard fix (optimization guide §2.5 "input skew"; the
    * Multimodal codec paths already do this with a measured 2× win) —
    * and a source already at ≥ default parallelism returns untouched,
    * so wide production scans skip the extra exchange. Keyless
    * repartition is deterministic (sort-before-repartition) and every
    * consumer aggregates by key, so results are unaffected. Call only
    * on raw scans / narrow projections: deciding the no-op branch
    * plans the frame once. */
  def spread(df: DataFrame): DataFrame = {
    val n = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
  }

  /** `events.parquet` has shipped with two physical `ts` encodings across
    * generator versions: `TIMESTAMP(NANOS)` (which Spark's parquet reader
    * rejects — read nanos as long via the legacy conf and rebuild a
    * microsecond timestamp with exact integer `div`, not float `/`) and
    * plain `timestamp[us]` (decoded as TIMESTAMP_NTZ). Branch on the decoded
    * type and normalize both to session-zone `TimestampType` — every session
    * here runs UTC, so the NTZ→TZ cast is instant-preserving and downstream
    * `unix_micros`/window arithmetic sees identical values either way.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr(
          "timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }

  /** Register the tables used by a `spark.sql` query as temp views (S9). */
  def register(spark: SparkSession, dir: String, tables: String*): Unit = {
    val ts = if (tables.isEmpty) names else tables
    ts.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
  }
}
