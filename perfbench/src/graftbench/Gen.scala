package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every file the program reads is written here,
  * under the run's own directory; the same seed gives byte-identical
  * inputs. Sizes are fixed per workload (see [[Sizes]]), only the values
  * depend on the seed.
  *
  * Tables follow the star-schema layout `graft.Tables` reads
  * (`<dir>/<name>.parquet`); the raw lake files follow the reference
  * pipeline's landing shapes: gzip JSON-lines transaction history with
  * upper-case `TXN_*` keys, single-page invoice PDFs, JSON-lines event
  * files for the stream, and a CDC delta of the curated customer table.
  */
final case class Sizes(customers: Int, docs: Int, docCopies: Int,
                       vecs: Int, vecCopies: Int, queries: Int,
                       txnFiles: Int, txnPerFile: Int, pdfs: Int,
                       landingFiles: Int, eventsPerFile: Int,
                       cdcUpdates: Int, cdcInserts: Int)

object Sizes {
  // star schema: orders = 10 x customers, lineitem = 4 x orders
  val lakeEtl = Sizes(customers = 1500, docs = 0, docCopies = 0, vecs = 0,
    vecCopies = 0, queries = 0, txnFiles = 4, txnPerFile = 5000,
    pdfs = 300, landingFiles = 16, eventsPerFile = 2000,
    cdcUpdates = 150, cdcInserts = 50)
  val analystMix = Sizes(customers = 3000, docs = 600, docCopies = 2,
    vecs = 2000, vecCopies = 1, queries = 20, txnFiles = 0, txnPerFile = 0,
    pdfs = 0, landingFiles = 0, eventsPerFile = 0, cdcUpdates = 0,
    cdcInserts = 0)
  val mlCorpus = Sizes(customers = 1500, docs = 800, docCopies = 3,
    vecs = 800, vecCopies = 3, queries = 40, txnFiles = 0, txnPerFile = 0,
    pdfs = 0, landingFiles = 0, eventsPerFile = 0, cdcUpdates = 0,
    cdcInserts = 0)
}

/** Ground truth the output checks compare against. */
final case class Truth(txnRows: Long, invoices: Map[String, (String, BigDecimal)],
                       events: Long, cdcKeys: Set[String])

object Gen {
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Adjectives = Seq("small", "large", "red", "blue", "hot",
    "old", "shiny", "plain")
  private val Nouns = Seq("ring", "plate", "widget", "rod", "bolt", "gizmo",
    "gear", "valve")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Payments = Seq("CARD", "CASH", "PAYPAL", "GIFT")
  private val Words: IndexedSeq[String] =
    (for (a <- "bcdfgklmnprstvz"; b <- "aeiou"; c <- "lmnrst")
      yield s"$a$b$c").take(400)

  private def rnd(seed: Long, salt: Int, cols: org.apache.spark.sql.Column*) =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Uniform integer in [0, n) from a seeded hash of the row's columns. */
  private def uni(seed: Long, salt: Int, n: Long,
                  cols: org.apache.spark.sql.Column*) =
    pmod(rnd(seed, salt, cols: _*), lit(n))

  private def write(df: DataFrame, dir: String, name: String,
                    parts: Int = 1): Unit =
    df.coalesce(parts).write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** The star-schema tables the curation DAG, the analyst queries and the
    * recommender read: region, nation, customer, supplier, part, orders,
    * lineitem. */
  def starSchema(spark: SparkSession, dir: String, seed: Long,
                 customers: Int): Unit = {
    val id = col("id")
    val nOrders = customers.toLong * 10
    val nParts = math.max(customers * 4 / 3, 200)
    val nSupp = math.max(customers / 15, 20)
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      element_at(typedLit(Regions), (id + 1).cast("int")).as("r_name")),
      dir, "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id.cast("string")).as("n_name"),
      (id % 5).cast("int").as("n_regionkey")), dir, "nation")
    write(spark.range(customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      uni(seed, 1, 25, id).cast("int").as("c_nationkey"),
      ((uni(seed, 2, 1099999, id) - 99999) / 100.0).as("c_acctbal"),
      element_at(typedLit(Segments), (uni(seed, 3, 5, id) + 1).cast("int"))
        .as("c_mktsegment")), dir, "customer")
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      uni(seed, 4, 25, id).cast("int").as("s_nationkey"),
      ((uni(seed, 5, 1099999, id) - 99999) / 100.0).as("s_acctbal")),
      dir, "supplier")
    write(spark.range(nParts).select(id.as("p_partkey"),
      concat_ws(" ",
        element_at(typedLit(Adjectives),
          (uni(seed, 6, Adjectives.size, id) + 1).cast("int")),
        element_at(typedLit(Nouns),
          (uni(seed, 7, Nouns.size, id) + 1).cast("int"))).as("p_name"),
      concat(lit("Brand#"), (uni(seed, 8, 25, id) + 1).cast("string"))
        .as("p_brand"),
      element_at(typedLit(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO",
        "SMALL", "STANDARD")), (uni(seed, 9, 6, id) + 1).cast("int"))
        .as("p_type"),
      (uni(seed, 10, 50, id) + 1).cast("int").as("p_size"),
      (lit(900.0) + (id % 1000) / 10.0).as("p_retailprice")), dir, "part")
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      uni(seed, 11, customers, id).as("o_custkey"),
      element_at(typedLit(Seq("F", "O", "P")),
        (uni(seed, 12, 3, id) + 1).cast("int")).as("o_orderstatus"),
      ((uni(seed, 13, 49900000, id) + 100000) / 100.0).as("o_totalprice"),
      timestamp_seconds(lit(788918400L) +
        uni(seed, 14, 2404, id) * 86400).as("o_orderdate"),
      element_at(typedLit(Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")), (uni(seed, 15, 5, id) + 1).cast("int"))
        .as("o_orderpriority")), dir, "orders", 2)
    write(spark.range(nOrders * 4).select(
      uni(seed, 16, nOrders, id).as("l_orderkey"),
      uni(seed, 17, nParts, id).as("l_partkey"),
      uni(seed, 18, nSupp, id).as("l_suppkey"),
      (id % 7 + 1).cast("int").as("l_linenumber"),
      (uni(seed, 19, 50, id) + 1).cast("double").as("l_quantity"),
      ((uni(seed, 20, 10400000, id) + 90000) / 100.0).as("l_extendedprice"),
      (uni(seed, 21, 11, id) / 100.0).as("l_discount"),
      (uni(seed, 22, 9, id) / 100.0).as("l_tax"),
      element_at(typedLit(Seq("A", "N", "R")),
        (uni(seed, 23, 3, id) + 1).cast("int")).as("l_returnflag"),
      element_at(typedLit(Seq("F", "O")),
        (uni(seed, 24, 2, id) + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(788918400L) +
        uni(seed, 25, 2500, id) * 86400).as("l_shipdate")),
      dir, "lineitem", 4)
  }

  /** Base documents: 20-60 words drawn from a 400-word vocabulary, so two
    * unrelated documents share almost no word 3-grams. */
  def documents(spark: SparkSession, dir: String, seed: Long,
                n: Int): Unit = {
    val id = col("id")
    val words = typedLit(Words)
    val len = uni(seed, 30, 41, id) + 20
    write(spark.range(n).select(id.as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1L), len), i =>
        element_at(words, (uni(seed, 31, Words.size, id, i) + 1).cast("int"))))
        .as("text"),
      element_at(typedLit(Seq("en", "en", "de", "fr", "es")),
        (uni(seed, 32, 5, id) + 1).cast("int")).as("lang"),
      concat(lit("src"), (id % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")),
      dir, "documents", 2)
  }

  /** 64-dim unit embeddings around 10 label centroids. */
  def embeddings(spark: SparkSession, dir: String, seed: Long,
                 n: Int): Unit = {
    val id = col("id")
    val label = uni(seed, 40, 10, id)
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (pmod(rnd(seed, 41, label, i), lit(2001)) - 1000) / 1000.0 +
        (pmod(rnd(seed, 42, id, i), lit(2001)) - 1000) / 2000.0)
    val df = spark.range(n).select(id.as("vec_id"), raw.as("r"),
      label.cast("int").as("label"))
      .withColumn("nrm", sqrt(aggregate(col("r"), lit(0.0),
        (acc, x) => acc + x * x)))
      .select(col("vec_id"),
        transform(col("r"), x => (x / col("nrm")).cast("float"))
          .as("embedding"), col("label"))
    write(df, dir, "embeddings", 2)
  }

  /** Near-duplicate-heavy documents: copy 0 is the base corpus, copy c
    * rotates each document's words by `offset + c` positions (rotations
    * share nearly all word 3-grams). */
  def docReplicas(spark: SparkSession, base: String, out: String,
                  offset: Int, copies: Int): Unit = {
    val docs = spark.read.parquet(s"$base/documents.parquet")
    val all = (0 until copies).map { c =>
      val w = split(col("text"), " ")
      val off = pmod(lit(offset + c), size(w))
      val rotated = concat_ws(" ", concat(
        slice(w, off + 1, size(w) - off), slice(w, lit(1), off)))
      docs.select((col("doc_id") + lit(c.toLong * 1000000L)).as("doc_id"),
        (if (c == 0) col("text") else rotated).as("text"))
    }.reduce(_ unionAll _)
    write(all, out, "documents", 4)
  }

  /** Vector replicas: copy 0 is the base set, copy c jitters every
    * non-query vector (vec_id >= `queries`) by a seeded +-0.1 per
    * dimension, so the queries' true neighbours mix replicas and
    * strangers. */
  def vecReplicas(spark: SparkSession, base: String, out: String, seed: Long,
                  offset: Int, copies: Int, queries: Int): Unit = {
    val vecs = spark.read.parquet(s"$base/embeddings.parquet")
    val all = (0 until copies).map { c =>
      if (c == 0) vecs.select("vec_id", "embedding")
      else vecs.filter(col("vec_id") >= queries).select(
        (col("vec_id") + lit(c.toLong * 1000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) => (x +
          (pmod(rnd(seed, 50 + offset, col("vec_id"), i, lit(c)),
            lit(2001)) - 1000) / 10000.0).cast("float")).as("embedding"))
    }.reduce(_ unionAll _)
    write(all, out, "embeddings", 4)
  }

  // ---- raw lake files (driver-side, java.util.Random) -------------------

  private def gzLines(p: Path, lines: Iterator[String]): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(
      new GZIPOutputStream(new FileOutputStream(p.toFile)),
      StandardCharsets.UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  private def ts(ms: Long, micros: Boolean): String = {
    val f = java.time.format.DateTimeFormatter.ofPattern(
      if (micros) "yyyy-MM-dd HH:mm:ss.SSSSSS" else "yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    f.format(java.time.Instant.ofEpochMilli(ms))
  }

  /** Transaction history in the reference's landing shape: gzip JSON
    * lines with upper-case keys and `TXN_DT` as `yyyy-MM-dd HH:mm:ss.SSS`. */
  def txnHistory(dir: Path, seed: Long, sizes: Sizes): Long = {
    Files.createDirectories(dir)
    val r = new java.util.Random(seed * 31 + 7)
    var n = 0L
    (0 until sizes.txnFiles).foreach { f =>
      gzLines(dir.resolve(f"txn__0_$f%d_0.json.gz"),
        Iterator.tabulate(sizes.txnPerFile) { i =>
          val txnId = f * sizes.txnPerFile + i
          n += 1
          val prod = r.nextInt(500)
          s"""{"TXN_ID":"T$txnId%09d","TXN_DT":"${
            ts(1672531200000L + r.nextInt(31536000) * 1000L +
              r.nextInt(1000), micros = false)}",""" +
            s""""CUSTOMER_ID":"${1000000000L + r.nextInt(50000)}",""" +
            s""""PRODUCT_ID":"P$prod%05d","PRODUCT_DESC":"${
              Adjectives(prod % 8)} ${Nouns(prod / 8 % 8)}",""" +
            s""""PRODUCT_UNIT_PRICE":${(100 + r.nextInt(99900)) / 100.0},""" +
            s""""TXN_QUANTITY":${1 + r.nextInt(9)},""" +
            s""""PAYMENT_METHOD":"${Payments(r.nextInt(4))}"}"""
        })
    }
    n
  }

  private def money(cents: Long): String = {
    val s = f"${cents / 100}%,d"
    f"$$$s.${cents % 100}%02d"
  }

  /** A minimal single-page invoice PDF: one FlateDecode content stream of
    * `(...) Tj` show operators, the labeled fields the invoice parser
    * extracts. */
  private def pdf(lines: Seq[String]): Array[Byte] = {
    val content = "BT /F1 11 Tf 72 720 Td " +
      lines.map(l => s"($l) Tj 0 -14 Td").mkString(" ( ) Tj ") + " ET"
    val raw = content.getBytes(StandardCharsets.ISO_8859_1)
    val d = new Deflater()
    d.setInput(raw); d.finish()
    val buf = new Array[Byte](raw.length * 2 + 64)
    val len = d.deflate(buf)
    d.end()
    val head =
      s"""%PDF-1.4
         |1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj
         |2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj
         |3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj
         |4 0 obj << /Filter /FlateDecode /Length $len >>
         |stream
         |""".stripMargin.getBytes(StandardCharsets.ISO_8859_1)
    head ++ buf.take(len) ++
      "\nendstream\nendobj\n%%EOF\n".getBytes(StandardCharsets.ISO_8859_1)
  }

  /** Invoice PDFs; returns file name -> (invoice number, total). */
  def invoices(dir: Path, seed: Long,
               sizes: Sizes): Map[String, (String, BigDecimal)] = {
    Files.createDirectories(dir)
    val r = new java.util.Random(seed * 31 + 11)
    (0 until sizes.pdfs).map { i =>
      val inv = f"INV-${r.nextInt(90000000) + 10000000}%08d-$i%04d"
      val items = Seq.fill(3)(10000L + r.nextInt(990000))
      val paid = r.nextInt(3)
      val status = Seq("PAID", "OPEN", "Overdue")(paid)
      val day = java.time.LocalDate.of(2023, 1, 1).plusDays(r.nextInt(365))
      val lines = Seq(s"Customer: ${1000000 + r.nextInt(9000000)}",
        s"Invoice #: $inv", s"Generated On: $day", s"Status: $status",
        s"Payment Date: ${if (paid == 0) day.plusDays(30).toString else "N/A"}",
        s"Item 1 ${money(items(0))}", s"Item 2 ${money(items(1))}",
        s"Item 3 ${money(items(2))}",
        f"Total ${items.sum / 100}%d.${items.sum % 100}%02d")
      val name = s"INVOICE_NO_$inv.pdf"
      Files.write(dir.resolve(name), pdf(lines))
      name -> (inv, BigDecimal(items.sum) / 100)
    }.toMap
  }

  /** Stream landing files: JSON lines of the streaming ingest's schema. */
  def landing(dir: Path, seed: Long, sizes: Sizes): Long = {
    Files.createDirectories(dir)
    val r = new java.util.Random(seed * 31 + 13)
    var n = 0L
    (0 until sizes.landingFiles).foreach { f =>
      val lines = (0 until sizes.eventsPerFile).map { i =>
        val id = f.toLong * sizes.eventsPerFile + i
        n += 1
        s"""{"event_id":$id,"user_id":${r.nextInt(500)},""" +
          s""""event_type":"${EventTypes(r.nextInt(5))}",""" +
          s""""value":${r.nextInt(50000) / 100.0},"ts_str":"${
            ts(1704067200000L + id * 250 + r.nextInt(250), micros = true)}",""" +
          s""""props":"{\\"k\\": ${r.nextInt(100)}}"}"""
      }
      Files.write(dir.resolve(f"events_$f%03d.json"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    n
  }

  /** CDC delta of the curated customer table: `updates` existing customer
    * ids with changed attributes plus `inserts` new ids, in the curated
    * table's column set (all strings). Returns the delta's keys. */
  def cdcDelta(spark: SparkSession, out: String, seed: Long,
               sizes: Sizes): Set[String] = {
    val id = col("id")
    val upd = spark.range(sizes.cdcUpdates)
      .select((uni(seed, 60, sizes.customers.toLong, id)).as("k"))
      .distinct()
    val ins = spark.range(sizes.cdcInserts)
      .select((id + sizes.customers).as("k"))
    val k = col("k")
    val pad = (c: org.apache.spark.sql.Column, n: Int) =>
      lpad(c.cast("string"), n, "0")
    val delta = upd.unionAll(ins).select(
      pad(k, 10).as("CUSTOMER_ID"),
      lit("Changed").as("FIRST_NAME"),
      concat(lit("Customer"), k.cast("string")).as("LAST_NAME"),
      lit("1980-02-02").as("DOB"),
      element_at(typedLit(Segments), (uni(seed, 61, 5, k) + 1).cast("int"))
        .as("JOB_TITLE"),
      lit("Delta Corp").as("COMPANY"),
      concat(k.cast("string"), lit(" Lake Rd")).as("STREET"),
      lit("Shelbyville").as("CITY"), lit("IN").as("STATE"),
      pad(k % 100000, 5).as("ZIP"),
      concat(lit("NATION_"), uni(seed, 62, 25, k).cast("string"))
        .as("COUNTRY"),
      concat(pad(k % 1000, 3), lit("5550100")).as("HOME_PHONE"),
      concat(pad(k % 1000, 3), lit("5550101")).as("CELL_PHONE"),
      concat(pad(k % 1000, 3), lit("5550102")).as("WORK_PHONE"))
    delta.coalesce(1).write.mode("overwrite").parquet(out)
    spark.read.parquet(out).select("CUSTOMER_ID").collect()
      .map(_.getString(0)).toSet
  }
}
