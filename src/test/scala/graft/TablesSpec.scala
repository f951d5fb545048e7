package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

/** The parquet schema cache behind `Tables.apply`: a repeat read of an
  * unchanged table launches no Spark job, and any change to the files or
  * to the schema-affecting confs re-infers. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_tables").toString

  /** Spark jobs `body` launches on this thread. Listener events arrive
    * asynchronously but in order, so a sentinel job run after `body` marks
    * the point by which every job of `body` has been seen. */
  private def jobsLaunchedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"tables-probe-${System.nanoTime()}"
    val probed, sentinel = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => probed.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" =>
            sentinel.incrementAndGet()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      val r = body
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30000000000L
      while (sentinel.get == 0 && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(sentinel.get === 1, "sentinel job never reached the listener")
      (r, probed.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a repeat read of an unchanged table launches no Spark job") {
    val dir = tmp()
    Seq((1, "a"), (2, "b")).toDF("k", "v")
      .write.parquet(s"$dir/t.parquet")
    val (first, inferJobs) = jobsLaunchedBy(Tables(spark, dir, "t"))
    assert(inferJobs > 0, "the first read infers the schema with a job")
    val (again, repeatJobs) = jobsLaunchedBy(Tables(spark, dir, "t"))
    assert(repeatJobs === 0)
    assert(again.schema === first.schema)
    assert(rows(again) === Seq("[1,a]", "[2,b]"))
  }

  test("a rewritten table with an extra column reads the new schema") {
    val dir = tmp()
    Seq((1, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables(spark, dir, "t").columns.toSeq === Seq("k", "v"))
    Seq((2, "b", 3.5)).toDF("k", "v", "w")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val df = Tables(spark, dir, "t")
    assert(df.columns.toSeq === Seq("k", "v", "w"))
    assert(rows(df) === Seq("[2,b,3.5]"))
  }

  test("binaryAsString is part of the key: the binary column's type " +
      "follows the conf") {
    // written without Spark's schema metadata, which inference would
    // prefer over the conf, as a non-Spark writer would write it
    val dir = tmp()
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int32 k; optional binary b; }")
    val file = HadoopOutputFile.fromPath(
      new Path(s"$dir/t.parquet/part-0.parquet"),
      spark.sparkContext.hadoopConfiguration)
    val w = ExampleParquetWriter.builder(file).withType(schema).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("k", 1).append("b", "x"))
    finally w.close()
    val key = "spark.sql.parquet.binaryAsString"
    try {
      spark.conf.set(key, "false")
      assert(Tables(spark, dir, "t").schema("b").dataType === BinaryType)
      spark.conf.set(key, "true")
      val asString = Tables(spark, dir, "t")
      assert(asString.schema("b").dataType === StringType)
      assert(asString.select("b").as[String].collect().toSeq === Seq("x"))
      spark.conf.set(key, "false")
      assert(Tables(spark, dir, "t").schema("b").dataType === BinaryType)
    } finally spark.conf.unset(key)
  }

  test("a key=value partitioned table reads like an uncached read") {
    val dir = tmp()
    val path = s"$dir/t.parquet"
    Seq((1, "a", 10), (2, "b", 10), (3, "c", 20)).toDF("k", "v", "p")
      .write.partitionBy("p").parquet(path)
    val plain = spark.read.parquet(path)
    Tables(spark, dir, "t") // infer and cache
    val (cached, jobs) = jobsLaunchedBy(Tables(spark, dir, "t"))
    assert(jobs === 0)
    assert(cached.schema === plain.schema)
    assert(cached.schema("p").dataType === IntegerType)
    assert(rows(cached) === rows(plain))
    assert(rows(cached.filter($"p" === 20)) === Seq("[3,c,20]"))
  }

  test("a missing path or an empty directory raises Spark's own error " +
      "and is not cached") {
    val dir = tmp()
    val missing = s"$dir/nope.parquet"
    val want = intercept[AnalysisException](spark.read.parquet(missing))
    val got = intercept[AnalysisException](Tables(spark, dir, "nope"))
    assert(got.getCondition === want.getCondition)
    assert(got.getMessage === want.getMessage)
    assert(!Tables.isCached(missing))

    val empty = s"$dir/empty.parquet"
    Files.createDirectories(java.nio.file.Paths.get(empty))
    val wantEmpty = intercept[AnalysisException](spark.read.parquet(empty))
    val gotEmpty = intercept[AnalysisException](Tables(spark, dir, "empty"))
    assert(gotEmpty.getMessage === wantEmpty.getMessage)
    assert(!Tables.isCached(empty))
  }
}
