package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.jobs.{CurationPipeline, InvoiceParse, TableIO, TxnHistoryLoad, Upsert}
import graft.sources.Stage
import graft.streaming.StreamingIngest

/** `lake_etl`: the write path, one pipeline pass at a time. Each pass
  * stages the raw files, loads the transaction history, parses the
  * invoice PDFs, drains the landing files through the stream, runs the
  * curation DAG and merges the CDC delta into the curated customers, all
  * into fresh directories and tables. */
object LakeEtl extends Workload {
  val name = "lake_etl"
  private val sizes = Sizes.lakeEtl
  private var truth: Truth = _
  // curated table counts of the warm-up pass; later passes must match
  private var curated: Map[String, Long] = Map.empty

  val layerMetrics = Seq("sources.stage_put_ms", "jobs.txn_load_ms",
    "jobs.invoice_parse_ms", "jobs.customer_standardize_ms",
    "jobs.invoice_processed_ms", "jobs.sales_enrich_ms", "jobs.dag_ms",
    "jobs.upsert_ms", "streaming.drain_ms")

  def generate(ctx: Ctx): Unit = {
    val dir = ctx.gen
    val raw = Paths.get(dir, "raw")
    Gen.starSchema(ctx.spark, dir, ctx.seed, sizes.customers)
    val txn = Gen.txnHistory(raw.resolve("txn"), ctx.seed, sizes)
    val inv = Gen.invoices(raw.resolve("pdf"), ctx.seed, sizes)
    val ev = Gen.landing(raw.resolve("landing"), ctx.seed, sizes)
    val keys = Gen.cdcDelta(ctx.spark, s"$dir/cdc_delta.parquet", ctx.seed,
      sizes)
    truth = Truth(txn, inv, ev, keys)
  }

  /** Two passes: the first takes about 2.5 times a steady pass, the
    * second still about 1.4 times. */
  def warmup(ctx: Ctx): Unit = (0 until 2).foreach { p =>
    val r = pass(ctx, p)
    if (p == 0) curated = r.curated
    ctx.check(r.ok, s"lake_etl warm-up pass $p failed")
    cleanup(ctx, p)
  }

  /** One pass: its latency (the sum of its timed steps), per-step
    * latencies, whether every check passed, the curated table counts and
    * the stream's rows and drain time. */
  private final case class Pass(ms: Double, steps: Map[String, Double],
                                ok: Boolean, curated: Map[String, Long],
                                rows: Long, drainMs: Double)

  private def pass(ctx: Ctx, p: Int): Pass = {
    val s = ctx.spark
    val dir = ctx.work.resolve(s"pass/$p")
    val raw = Paths.get(ctx.gen, "raw")
    val pre = s"p$p"
    val steps = mutable.LinkedHashMap.empty[String, Double]
    var ok = true
    def step[T](key: String, span: String, layer: String)(body: => T): T = {
      val (r, ms) = Stats.time(Trace.span(span, layer)(body))
      steps(key) = ms
      r
    }
    def check(c: Boolean, what: => String): Unit =
      ok &= ctx.check(c, s"lake_etl pass $p: $what")

    Trace.span("lake_etl.pass", "bench") {
      // 1. stage the raw files
      val staged = step("sources.stage_put_ms", "sources.stage_put",
        "sources") {
        Seq("txn" -> "*.json.gz", "pdf" -> "*.pdf", "landing" -> "*.json")
          .map { case (d, glob) =>
            Stage.put(raw.resolve(d).toString, dir.resolve(d).toString, glob)
              .size }.sum
      }
      check(staged == sizes.txnFiles + sizes.pdfs + sizes.landingFiles,
        s"staged $staged files")

      // 2. transaction history load
      val loaded = step("jobs.txn_load_ms", "jobs.txn_load", "jobs") {
        TxnHistoryLoad.run(s, s"${dir.resolve("txn")}/*.json.gz",
          s"${pre}_txn_history")
      }
      check(loaded == truth.txnRows, s"txn rows $loaded != ${truth.txnRows}")

      // 3. invoice PDFs through the PdfText UDF, written out
      step("jobs.invoice_parse_ms", "jobs.invoice_parse", "jobs") {
        TableIO.overwrite(s, InvoiceParse.transform(s, dir.resolve("pdf")
          .toString), s"${pre}_invoice_pdf")
      }
      val parsed = s.table(s"${pre}_invoice_pdf")
        .select("relative_path", "invoice_num", "total").collect()
        .map(r => r.getString(0) -> (r.getString(1),
          BigDecimal(r.getDecimal(2)))).toMap
      check(parsed == truth.invoices,
        s"invoices parsed ${parsed.size}, mismatched ${
          truth.invoices.count { case (k, v) => !parsed.get(k).contains(v) }}")

      // 4. stream drain
      val (rows, drainMs) = {
        val (q, ms) = Stats.time(step("streaming.drain_ms", "streaming.drain",
          "streaming") {
          val q = StreamingIngest.start(s, dir.resolve("landing").toString,
            dir.resolve("stream_out").toString,
            dir.resolve("stream_ckpt").toString, availableNow = true,
            maxFilesPerTrigger = Some(4))
          q.awaitTermination()
          q
        })
        val n = Option(q.lastProgress).map(_.batchId.toInt + 1).getOrElse(0)
        val rows = ctx.streams.await(q.id.toString, n).map(_.rows).sum
        (rows, ms)
      }
      val sunk = s.read.parquet(dir.resolve("stream_out").toString).count()
      check(rows == truth.events && sunk == truth.events,
        s"stream rows $rows, sink rows $sunk, landed ${truth.events}")

      // 5. curation DAG, then the CDC upsert into the curated customers
      DagLog.drain()
      val status = step("jobs.dag_ms", "jobs.dag", "jobs") {
        val st = CurationPipeline(ctx.gen, pre).run(s)
        DagLog.drain().foreach { case (task, t0, t1) =>
          Trace.record(s"jobs.$task", "jobs", t0, t1)
          val key = task match {
            case "customer_processed" => "jobs.customer_standardize_ms"
            case "invoice_processed" => "jobs.invoice_processed_ms"
            case other => s"jobs.${other.stripSuffix("_curated")}_ms"
          }
          steps(key) = (t1 - t0) / 1e6
        }
        st
      }
      check(status.forall(_._2 == "ok"), s"dag status $status")
      val counts = Seq("customer", "invoice", "product_sales").map(t =>
        t -> s.table(s"${pre}_$t").count()).toMap
      if (curated.nonEmpty) check(counts == curated,
        s"curated counts $counts != $curated")
      check(counts("customer") == sizes.customers,
        s"curated customers ${counts("customer")}")

      step("jobs.upsert_ms", "jobs.upsert", "jobs") {
        val target = s.table(s"${pre}_customer")
        val delta = s.read.parquet(s"${ctx.gen}/cdc_delta.parquet")
          .select(target.schema.map(f => col(f.name).cast(f.dataType)): _*)
        TableIO.overwrite(s, Upsert.merge(target, delta, Seq("CUSTOMER_ID")),
          s"${pre}_customer_merged")
      }
      val merged = s.table(s"${pre}_customer_merged")
      val n = merged.count()
      val keys = merged.select("CUSTOMER_ID").distinct().count()
      val delta = s.read.parquet(s"${ctx.gen}/cdc_delta.parquet")
      val missing = delta.join(merged.select(col("CUSTOMER_ID"),
          col("CITY").as("m_city"), col("FIRST_NAME").as("m_first")),
          Seq("CUSTOMER_ID"), "left")
        .filter(!(col("CITY") <=> col("m_city")) ||
          !(col("FIRST_NAME") <=> col("m_first"))).count()
      val inserts = truth.cdcKeys.count(_.toLong >= sizes.customers)
      check(n == keys && n == sizes.customers + inserts && missing == 0,
        s"upsert rows $n keys $keys missing delta rows $missing")
      val top = Seq("sources.stage_put_ms", "jobs.txn_load_ms",
        "jobs.invoice_parse_ms", "streaming.drain_ms", "jobs.dag_ms",
        "jobs.upsert_ms")
      Pass(top.map(steps).sum, steps.toMap, ok, counts, rows, drainMs)
    }
  }

  private def cleanup(ctx: Ctx, p: Int): Unit = {
    Seq("txn_history", "invoice_pdf", "customer", "invoice",
      "product_sales", "customer_merged")
      .foreach(t => TableIO.dropWithLocation(ctx.spark, s"p${p}_$t"))
    ctx.clearCaches()
    Fs.rm(ctx.work.resolve(s"pass/$p"))
  }

  def measure(ctx: Ctx, seconds: Double, first: Int,
              trace: Boolean): Window = {
    val lat, traced = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0
    // rows per second of drain, per pass
    val drainRate = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var p = first
    while (System.nanoTime() < end) {
      val tr = trace && (p - first) % 2 == 1
      Trace.begin(p, tr)
      attempted += 1
      try {
        val r = pass(ctx, p)
        System.err.println(f"[pass $p] ${r.ms}%.0f ms: " + r.steps
          .map { case (k, v) => f"$k $v%.0f" }.mkString(", "))
        if (r.ok) {
          (if (tr) traced else lat) += r.ms
          layer += r.steps
          drainRate += r.rows / (r.drainMs / 1000)
        } else failed += 1
      } catch { case e: Exception =>
        failed += 1
        ctx.check(false, s"lake_etl pass $p threw: $e")
      }
      cleanup(ctx, p)
      p += 1
    }
    Window(lat.toSeq, traced.toSeq, attempted, failed,
      (System.nanoTime() - t0) / 1e9, Stats.median(drainRate.toSeq),
      layerMetrics.map(k => k -> Stats.median(layer.map(_.getOrElse(k, 0.0))
        .toSeq)).toMap)
  }
}

object Fs {
  def rm(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator
      .reverseOrder()).forEach(f => Files.delete(f))
}
