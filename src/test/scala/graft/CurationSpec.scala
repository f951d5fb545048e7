package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import graft.jobs.{CurationPipeline, CustomerStandardize, InvoiceParse, PipelineDag, DagTask}

class CurationSpec extends SparkSpec {
  import spark.implicits._

  test("customer standardize: FIXTURES.md family-A edge cases") {
    val in = Seq(
      // two-word name, phone with leading 1 + punctuation
      ("0000000001", "Ada Lovelace", "1-800-555-1234", "(212) 555-9876",
       "303_555_0000"),
      // single-word name → FIRST_NAME empty, LAST_NAME = whole
      ("0000000002", "Cher", "800-555-4321", "1 (415) 555-2222",
       "121_555_3333")
    ).toDF("CUSTOMER_ID", "NAME", "HOME_PHONE", "CELL_PHONE", "WORK_PHONE")
      .selectExpr("*", "'1970-01-01' AS DOB", "'x' AS JOB_TITLE",
        "'x' AS COMPANY", "'x' AS STREET", "'x' AS CITY", "'x' AS STATE",
        "'00001' AS POSTCODE", "'US' AS COUNTRY")
    val out = CustomerStandardize.transform(in)
      .orderBy("CUSTOMER_ID").collect()

    val r1 = out(0)
    assert(r1.getAs[String]("FIRST_NAME") === "Ada")
    assert(r1.getAs[String]("LAST_NAME") === "Lovelace")
    // 1-800-555-1234 → 18005551234 → leading 1 stripped → 8005551234
    assert(r1.getAs[String]("HOME_PHONE") === "8005551234")
    assert(r1.getAs[String]("CELL_PHONE") === "2125559876")
    // underscores survive the reference's [^0-9_] class
    assert(r1.getAs[String]("WORK_PHONE") === "303_555_00")
    assert(r1.getAs[String]("ZIP") === "00001")

    val r2 = out(1)
    assert(r2.getAs[String]("FIRST_NAME") === "")
    assert(r2.getAs[String]("LAST_NAME") === "Cher")
    // 14155552222 → leading 1 stripped
    assert(r2.getAs[String]("CELL_PHONE") === "4155552222")
    // 121_555_3333 starts with 1 → stripped to 21_555_333 (10 chars)
    assert(r2.getAs[String]("WORK_PHONE") === "21_555_333")
  }

  test("invoice parse: labeled text incl. missing Payment Date") {
    val in = Seq(
      ("a.pdf", "Customer: 42 Invoice #: INV-00000001 Generated On: " +
        "2024-01-15 Status: Overdue Payment Date: N/A Item 1 $12.34 " +
        "Item 2 $1,000.00 Item 3 $0.99 Total 1013.33"),
      // missing "Payment Date:" label entirely → empty payment_dt
      ("b.pdf", "Customer: 7 Invoice #: INV-00000002 Generated On: " +
        "2024-02-01 Status: PAID Payment Item 1 $5.00 Item 2 $6.00 " +
        "Item 3 $7.00 Total 18.00")
    ).toDF("relative_path", "pdf_text")
    val out = InvoiceParse.parse(in).orderBy("relative_path").collect()

    val a = out(0)
    assert(a.getAs[String]("customer_id") === "0000000042")
    assert(a.getAs[String]("invoice_num") === "INV-00000001")
    assert(a.getAs[String]("inv_gen_dt") === "2024-01-15")
    assert(a.getAs[String]("inv_status") === "Overdue")
    assert(a.getAs[java.math.BigDecimal]("item_2")
      .compareTo(new java.math.BigDecimal("1000.00")) === 0)
    assert(a.getAs[java.math.BigDecimal]("total")
      .compareTo(new java.math.BigDecimal("1013.33")) === 0)

    val b = out(1)
    assert(b.getAs[String]("payment_dt") === "")
    assert(b.getAs[String]("inv_status") === "PAID")
  }

  test("invoice job end-to-end over PDF binaries (binaryFile → UDF → parse)") {
    val dir = Files.createTempDirectory("graft_pdfs")
    val text = "Customer: 99 Invoice #: INV-00000042 Generated On: " +
      "2024-03-01 Status: OPEN Payment Date: N/A Item 1 $1.00 Item 2 " +
      "$2.00 Item 3 $3.00 Total 6.00"
    Files.write(dir.resolve("inv1.pdf"), MiniPdf(Seq(text)))
    Files.write(dir.resolve("inv2.pdf"), MiniPdf(Seq(text), compress = true))
    val out = InvoiceParse.transform(spark, dir.toString)
      .orderBy("relative_path").collect()
    assert(out.length === 2)
    out.foreach { r =>
      assert(r.getAs[String]("customer_id") === "0000000099")
      assert(r.getAs[String]("invoice_num") === "INV-00000042")
      assert(r.getAs[java.math.BigDecimal]("total")
        .compareTo(new java.math.BigDecimal("6.00")) === 0)
    }
  }

  test("invoice job parses REAL reference PDFs (ToUnicode CMap decode)") {
    val src = java.nio.file.Paths.get("/root/reference/data/invoice")
    assume(Files.exists(src))
    val dir = Files.createTempDirectory("graft_real_pdfs")
    val listing = Files.list(src)
    val picked = try listing.sorted().limit(5).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path]) finally listing.close()
    picked.foreach(p => Files.copy(p, dir.resolve(p.getFileName.toString)))
    val out = InvoiceParse.transform(spark, dir.toString).collect()
    assert(out.length === picked.length)
    out.foreach { r =>
      val cid = r.getAs[String]("customer_id")
      val inv = r.getAs[String]("invoice_num")
      // non-mojibake: numeric customer id, INV-prefixed invoice number
      // that matches the file name, a parsed date, a positive total
      assert(cid.matches("[0-9]{10}"), s"customer_id=$cid")
      assert(inv.startsWith("INV-"), s"invoice_num=$inv")
      assert(r.getAs[String]("relative_path").contains(inv),
        s"$inv vs ${r.getAs[String]("relative_path")}")
      assert(r.getAs[String]("inv_gen_dt").matches("\\d{4}-\\d{2}-\\d{2}.*"),
        r.getAs[String]("inv_gen_dt"))
      assert(r.getAs[java.math.BigDecimal]("total")
        .compareTo(java.math.BigDecimal.ZERO) > 0)
    }
  }

  test("pipeline DAG: topological order, cycle detection, end-to-end run") {
    val dag = CurationPipeline(sf)
    val ord = dag.order
    assert(ord.head === "customer_processed")
    assert(ord.toSet ===
      Set("customer_processed", "invoice_processed", "sales_enrich_curated"))

    val statuses = dag.run(spark)
    assert(statuses.forall(_._2 == "ok"), statuses.mkString(", "))
    assert(spark.table("graft_curated_customer").count() ===
      Tables(spark, sf, "customer").count())
    assert(spark.table("graft_curated_invoice").count() ===
      Tables(spark, sf, "orders").count())
    assert(spark.table("graft_curated_product_sales").count() ===
      Tables(spark, sf, "lineitem").count())

    intercept[IllegalArgumentException] {
      new PipelineDag(Seq(
        DagTask("a", Seq("b"), _ => ()),
        DagTask("b", Seq("a"), _ => ()))).order
    }
  }

  test("pipeline DAG: retries recover a flaky task, failures skip deps") {
    // flaky: fails twice, succeeds on the third attempt (maxRetries=2)
    var attempts = 0
    val dag = new PipelineDag(Seq(
      DagTask("flaky", Nil, { _ =>
        attempts += 1
        if (attempts < 3) sys.error(s"transient #$attempts")
      }, schedule = Some("60 MINUTE"), maxRetries = 2),
      DagTask("after_flaky", Seq("flaky"), _ => ()),
      DagTask("doomed", Nil, _ => sys.error("permanent"), maxRetries = 1),
      DagTask("after_doomed", Seq("doomed"), _ =>
        fail("dependent of a failed task must not run"))))
    val status = dag.run(spark).toMap
    assert(attempts === 3)
    assert(status("flaky") === "ok")
    assert(status("after_flaky") === "ok")
    assert(status("doomed").startsWith("failed:"))
    assert(status("after_doomed").startsWith("skipped: dep doomed"))
    assert(dag.schedules === Map("flaky" -> "60 MINUTE"))
  }

  test("pipeline DAG: sibling tasks run concurrently") {
    // each sibling waits for the other; a serial walk times the first one
    // out (and fails it) instead of hanging
    val both = new CountDownLatch(2)
    def sibling(name: String) = DagTask(name, Seq("root"), { _ =>
      both.countDown()
      if (!both.await(20, TimeUnit.SECONDS)) sys.error(s"$name ran alone")
    })
    val dag = new PipelineDag(Seq(DagTask("root", Nil, _ => ()),
      sibling("left"), sibling("right"),
      DagTask("join", Seq("left", "right"), _ => ())))
    val status = dag.run(spark)
    assert(status.forall(_._2 == "ok"), status.mkString(", "))
  }

  test("pipeline DAG: statuses come back in order, whatever the finish " +
      "order; tasks inherit the caller's local properties") {
    val sc = spark.sparkContext
    val seen = new ConcurrentHashMap[String, String]()
    def record(name: String): Unit =
      seen.put(name, String.valueOf(sc.getLocalProperty("graft.dag.test")))
    val dag = new PipelineDag(Seq(
      DagTask("slow", Nil, { _ => Thread.sleep(300); record("slow") }),
      DagTask("fast", Nil, _ => record("fast")),
      DagTask("after_fast", Seq("fast"), _ => record("after_fast")),
      DagTask("broken", Nil, _ => sys.error("no")),
      DagTask("after_broken", Seq("broken", "slow"), _ =>
        fail("dependent of a failed task must not run"))))
    sc.setLocalProperty("graft.dag.test", "caller")
    val status = try dag.run(spark)
      finally sc.setLocalProperty("graft.dag.test", null)
    assert(status.map(_._1) === dag.order)
    assert(status.toMap === Map("slow" -> "ok", "fast" -> "ok",
      "after_fast" -> "ok", "broken" -> "failed: no",
      "after_broken" -> "skipped: dep broken"))
    assert(seen.asScala.toMap === Map("slow" -> "caller",
      "fast" -> "caller", "after_fast" -> "caller"))
  }

  test("k-anonymity: conservation and an independent risk recompute") {
    import org.apache.spark.sql.functions._
    val r = graft.operators.Curation.queries("pv_k_anonymity")(spark, sf)
      .collect().head
    val (groups, risky, atRisk, total, pct) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    assert(total === spark.read.parquet(s"$sf/customer.parquet").count())
    assert(risky <= groups && atRisk <= total)
    assert(pct === atRisk * 100 / total)
    // independent recompute of rows-at-risk through a different plan
    // (join back to groups instead of conditional aggregation)
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .withColumn("bal_band", expr("CAST(c_acctbal AS BIGINT) div 2000"))
    val g = cust.groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n"))
    val independent = cust
      .join(g.filter(col("n") < 5),
        Seq("c_nationkey", "c_mktsegment", "bal_band"), "left_semi")
      .count()
    assert(atRisk === independent)
  }

  test("gdpr cascade: totals conserved, hops independently recomputed") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Curation.queries("gdpr_cascade")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    // forgotten + retained = table cardinality, per table
    for ((tbl, (f, k)) <- rows)
      assert(f + k === spark.read.parquet(s"$sf/$tbl.parquet").count(),
        s"conservation for $tbl")
    // every table has both classes at this sf
    assert(rows.values.forall { case (f, k) => f > 0 && k > 0 })
    // the two-hop lineitem count, recomputed through the OTHER join
    // direction (orders → lineitem semi join)
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val independent = li.join(
      orders.filter(col("o_custkey") % 97 === 0).select("o_orderkey"),
      col("l_orderkey") === col("o_orderkey"), "left_semi").count()
    assert(rows("lineitem")._1 === independent)
  }

  test("pv_l_diversity: row conservation, l bounds, and brute-force " +
      "group replay") {
    import org.apache.spark.sql.functions._
    val got = graft.operators.Curation.queries("pv_l_diversity")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    // conservation: every customer row lands in exactly one l bucket
    assert(got.values.map(_._2).sum === cust.count())
    // l is a distinct-count over 5 market segments
    assert(got.keys.forall(l => l >= 1 && l <= 5))
    // brute-force replay of the QID grouping on the driver
    val groups = cust.select(col("c_nationkey"),
        expr("CAST(c_acctbal AS BIGINT) div 2000").as("b"),
        col("c_mktsegment"))
      .collect()
      .groupBy(r => (r.getAs[Number](0).longValue(), r.getLong(1)))
      .toSeq // before map: (l, size) tuples repeat across QID groups
      .map { case (_, rs) =>
        (rs.map(_.getString(2)).distinct.length.toLong, rs.length.toLong)
      }
    val want = groups.groupBy(_._1)
      .map { case (l, gs) => l -> (gs.length.toLong, gs.map(_._2).sum) }
    assert(got === want)
  }

  test("pv_t_closeness: integer TV numerator matches a brute replay " +
      "and the 0.4 gate is the cross-multiplied compare") {
    import org.apache.spark.sql.functions._
    val rows = graft.operators.Curation.queries("pv_t_closeness")(spark, sf)
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getInt(4)))
      .toMap
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_nationkey"),
        expr("CAST(c_acctbal AS BIGINT) div 2000").as("b"),
        col("c_mktsegment"))
      .collect()
      .map(r => (r.getAs[Number](0).longValue(), r.getLong(1),
        r.getString(2)))
    val n = cust.length.toLong
    val segTot = cust.groupBy(_._3).map { case (s, v) =>
      s -> v.length.toLong }
    val segs = segTot.keys.toSeq
    val want = cust.groupBy(t => (t._1, t._2)).map { case (g, v) =>
      val ng = v.length.toLong
      val cnt = v.groupBy(_._3).map { case (s, w) => s -> w.length.toLong }
      val tv = segs.map(s =>
        math.abs(cnt.getOrElse(s, 0L) * n - segTot(s) * ng)).sum
      g -> (ng, tv, if (10 * tv > 8 * ng * n) 1 else 0)
    }
    assert(rows === want)
    // the tv numerator is a real distance: zero iff the group mirrors
    // the global distribution; conservation of group sizes
    assert(rows.values.map(_._1).sum === n)
    assert(rows.values.exists(_._2 > 0))
  }

  test("pv_cell_suppression: primary + complementary marks") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("supp").toString
    // nation 1: cells 2 / 7 / 9 → one primary, smallest survivor (7)
    //   complementarily suppressed so the row margin can't reveal it
    // nation 2: cells 2 / 3 → both primary, nothing left to protect
    // nation 3: cells 5 / 6 → nothing suppressed
    def cell(nat: Long, band: Int, cnt: Int) =
      (1 to cnt).map(_ => (nat, "A", band * 2000.0 + 100.0))
    val rows = cell(1, 0, 2) ++ cell(1, 1, 7) ++ cell(1, 2, 9) ++
      cell(2, 0, 2) ++ cell(2, 1, 3) ++ cell(3, 0, 5) ++ cell(3, 1, 6)
    rows.toDF("c_nationkey", "c_mktsegment", "c_acctbal")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val got = graft.operators.Curation
      .queries("pv_cell_suppression")(spark, dir).collect()
      .map { r =>
        val status = if (r.isNullAt(r.fieldIndex("status"))) null
          else r.getString(r.fieldIndex("status"))
        val rel = if (r.isNullAt(r.fieldIndex("released"))) -1L
          else r.getLong(r.fieldIndex("released"))
        (r.getLong(0), r.getLong(r.fieldIndex("bal_band"))) ->
          ((status, rel))
      }.toMap
    assert(got((1L, 0L)) === (("primary", -1L)))
    assert(got((1L, 1L)) === (("complementary", -1L)))
    assert(got((1L, 2L)) === ((null, 9L)))
    assert(got((2L, 0L)) === (("primary", -1L)))
    assert(got((2L, 1L)) === (("primary", -1L)))
    assert(got((3L, 0L)) === ((null, 5L)))
    assert(got((3L, 1L)) === ((null, 6L)))
  }
}
