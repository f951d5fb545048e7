package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.jobs.{InvoiceParse, TxnHistoryLoad}
import graft.sources.Stage

/** End-to-end ingest smoke over the reference's REAL corpus
  * (code/ingest/0_setup_env_and_ingest.py:46-95): PUT invoice PDFs and
  * gzip txn JSON into stages, load stage → table through the medallion
  * zones, and assert curated shape — the full raw → processed → curated
  * path on actual reference bytes, not synthetic fixtures.
  */
class RealIngestSpec extends SparkSpec {

  private val refInvoices = Paths.get("/root/reference/data/invoice")
  private val refTxns = Paths.get("/root/reference/data/txn_hist")

  test("PUT + load: reference txn JSON gz through sampled-infer ingest") {
    assume(Files.exists(refTxns))
    val stage = Files.createTempDirectory("graft_txn_stage").toString
    // step 2: PUT two monthly feed files to the transaction stage
    val staged = Stage.put(refTxns.toString, stage, "txn__0_[23]_*.json.gz")
    assert(staged.size === 2, staged)
    // step 3C: infer on a 1k sample, full load into a managed table
    val n = TxnHistoryLoad.run(spark, s"$stage/*.json.gz",
      "graft_processed_txn_history")
    val t = spark.table("graft_processed_txn_history")
    assert(n > 1000, s"expected full load beyond the sample cap, got $n")
    assert(t.columns.toSeq.sorted === Seq("customer_id", "payment_method",
      "product_desc", "product_id", "product_unit_price", "txn_dt",
      "txn_id", "txn_quantity"))
    // txn_dt is a real timestamp (typed at load, not a string)
    assert(t.schema("txn_dt").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val r = t.orderBy("txn_id").first()
    assert(r.getAs[String]("customer_id").matches("[0-9]+"))
    assert(r.getAs[Long]("txn_quantity") > 0)
    // rerun is idempotent (overwrite, not append)
    assert(TxnHistoryLoad.run(spark, s"$stage/*.json.gz",
      "graft_processed_txn_history") === n)
  }

  test("PUT + parse: reference invoice PDFs raw → curated") {
    assume(Files.exists(refInvoices))
    val stage = Files.createTempDirectory("graft_pdf_stage").toString
    // step 2B: PUT a slice of the PDF corpus (AUTO_COMPRESS=false twin)
    val staged = Stage.put(refInvoices.toString, stage,
      "INVOICE_NO_INV-0A*.pdf")
    assert(staged.nonEmpty)
    assert(Stage.list(stage).map(_._1) === staged)
    // steps 3B1/3B2/3BC: binaryFile scan → pdf_to_text UDF → parsed view
    graft.jobs.TableIO.overwrite(spark,
      InvoiceParse.transform(spark, stage), "graft_curated_invoice")
    val inv = spark.table("graft_curated_invoice")
    assert(inv.count() === staged.size.toLong)
    // curated fields are typed and non-mojibake on every real PDF
    val bad = inv.filter(!col("customer_id").rlike("^[0-9]{10}$") ||
      !col("invoice_num").startsWith("INV-") ||
      col("total") <= 0).count()
    assert(bad === 0, inv.show(false))
  }

  test("txn load: a trailing glob reads only the matching stage files") {
    val stage = Files.createTempDirectory("graft_txn_glob")
    def gz(name: String, lines: Seq[String]): Unit = {
      val out = new java.util.zip.GZIPOutputStream(
        Files.newOutputStream(stage.resolve(name)))
      try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
    }
    def txn(id: Int) = s"""{"TXN_ID":"t$id","TXN_DT":"2024-01-0${id % 9 + 1}""" +
      s""" 10:00:00.000","CUSTOMER_ID":"$id","TXN_QUANTITY":$id}"""
    gz("txn_a.json.gz", (1 to 3).map(txn))
    gz("txn_b.json.gz", (4 to 5).map(txn))
    gz("other.json.gz.bak", Seq(txn(9)))
    val df = TxnHistoryLoad.read(spark, s"$stage/*.json.gz")
    assert(df.columns.toSeq.sorted ===
      Seq("customer_id", "txn_dt", "txn_id", "txn_quantity"))
    assert(df.orderBy("txn_id").select("txn_id").as[String](
      org.apache.spark.sql.Encoders.STRING).collect().toSeq ===
      (1 to 5).map(i => s"t$i"))
    assert(df.schema("txn_dt").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(df.filter(col("txn_dt").isNull).count() === 0)
  }
}
