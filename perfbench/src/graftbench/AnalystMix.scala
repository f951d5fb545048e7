package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.api.{Corpus, Vectors}

/** `analyst_mix`: a closed loop of two clients on one session, one FAIR
  * pool each. A client sends its next query when the last one returns;
  * queries are drawn from a seeded mix of short interactive reads, each
  * read equally often. One-time builds (the materialized invoice text,
  * the near-dup memo) are paid during set-up, and the memos stay warm
  * across the window. */
object AnalystMix extends Workload {
  val name = "analyst_mix"
  private val sizes = Sizes.analystMix
  private val Clients = 2

  /** layer.query: the unpaid-invoice app, analyst joins, aggregates and
    * windows and an exact vector top-k from `SparkEntry.queries`, plus
    * reads through the `api` facades: an exact top-k, the memoized
    * near-duplicate pairs (warm after set-up) and the MinHash signatures,
    * which are computed afresh per call. No traffic log gives their
    * frequencies, so each is sent equally often. */
  val mix: Seq[String] = Seq(
    "operators.j3_unpaid_orders", "operators.vw_invoice_view",
    "operators.j1_join_agg", "operators.j7_star_join",
    "operators.a2_agg_having", "operators.w3_rank_topk",
    "operators.j4_semi_having", "operators.j5_anti_join",
    "operators.sim_bruteforce_topk", "api.vectors_topk",
    "api.corpus_near_dup_pairs", "functions.minhash_signatures")
  /** Queries that return the top rows of a ranking. */
  private val topK = Set("operators.j3_unpaid_orders",
    "operators.w3_rank_topk", "operators.sim_bruteforce_topk",
    "api.vectors_topk")

  val layerMetrics: Seq[String] = mix.map(q => s"$q.p50_ms") ++
    Seq("operators.plan_ms", "operators.exec_ms", "plans.topk_rewrite_hits")

  private def vecs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/embeddings.parquet")
  private def queries(s: SparkSession, dir: String) =
    vecs(s, dir).filter(col("vec_id") < sizes.queries)
  private def corpus(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/corpus/documents.parquet")

  private val api: Map[String, (SparkSession, String) => DataFrame] = Map(
    "api.vectors_topk" -> ((s, dir) =>
      Vectors.topK(queries(s, dir), vecs(s, dir), 10)),
    "api.corpus_near_dup_pairs" -> ((s, dir) =>
      Corpus.nearDupPairs(corpus(s, dir))),
    "functions.minhash_signatures" -> ((s, dir) =>
      Corpus.minhashSignatures(corpus(s, dir))))

  private var fns: Map[String, (SparkSession, String) => DataFrame] = Map.empty
  private val expected = new ConcurrentHashMap[String, Int]()

  def generate(ctx: Ctx): Unit = {
    val dir = ctx.gen
    Gen.starSchema(ctx.spark, dir, ctx.seed, sizes.customers)
    Gen.embeddings(ctx.spark, dir, ctx.seed, sizes.vecs)
    Gen.documents(ctx.spark, dir, ctx.seed, sizes.docs)
    Gen.docReplicas(ctx.spark, dir, s"$dir/corpus", 1, sizes.docCopies)
  }

  /** Order-insensitive digest of a result. */
  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.map(_.toString).sorted)

  private final case class Sample(query: String, ms: Double, planMs: Double,
                                  execMs: Double, rows: Int, ok: Boolean,
                                  rewritten: Boolean, traced: Boolean = false)

  private def run(ctx: Ctx, q: String): Sample = {
    val name = q.substring(q.indexOf('.') + 1)
    val ((df, plan), planMs) = Stats.time(Trace.span(s"plans.$name",
      "plans") {
      val df = fns(q)(ctx.spark, ctx.gen)
      (df, df.queryExecution.executedPlan)
    })
    val (rows, execMs) = Stats.time(Trace.span(q, q.takeWhile(_ != '.')) {
      df.collect()
    })
    val d = digest(rows)
    val want = expected.computeIfAbsent(q, _ => d)
    val ok = ctx.check(rows.nonEmpty && d == want,
      s"analyst_mix $q: ${rows.length} rows, digest $d != first run's $want")
    Sample(q, planMs + execMs, planMs, execMs, rows.length, ok,
      df.queryExecution.executedPlan.toString.contains("TopKPerGroup") ||
        plan.toString.contains("TopKPerGroup"))
  }

  def warmup(ctx: Ctx): Unit = {
    val all = graft.SparkEntry.queries
    fns = mix.map(q =>
      q -> api.getOrElse(q, all(q.stripPrefix("operators.")))).toMap
    graft.sources.Bucketing.writeInvoiceTextOnce(ctx.spark, ctx.gen)
    mix.foreach(run(ctx, _))
  }

  def measure(ctx: Ctx, seconds: Double, first: Int,
              trace: Boolean): Window = {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val errors = new java.util.concurrent.atomic.AtomicInteger()
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        ctx.spark.sparkContext.setLocalProperty("spark.scheduler.pool",
          s"client$c")
        // each client deals the mix in seeded shuffled rounds and finishes
        // the round it is in when the window ends, so every window sends
        // each read equally often and its figures do not depend on which
        // reads a cut-off round happened to hold
        val rnd = new scala.util.Random(ctx.seed * 1000 + first * 10 + c)
        var deck = Iterator.empty[String]
        var i = 0L
        while (System.nanoTime() < end || deck.hasNext) {
          if (!deck.hasNext) deck = rnd.shuffle(mix).iterator
          val q = deck.next()
          val tr = trace && i % 2 == 1
          Trace.begin(first * 1000000L + c * 100000L + i, tr)
          try samples.add(Trace.span("analyst_mix.query", "bench")(
            run(ctx, q)).copy(traced = tr))
          catch { case e: Exception =>
            errors.incrementAndGet()
            ctx.check(false, s"analyst_mix $q threw: $e")
          }
          i += 1
        }
      }, s"analyst-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val ss = samples.asScala.toSeq
    val good = ss.filter(_.ok)
    val per = mix.map(q =>
      s"$q.p50_ms" -> Stats.median(good.filter(_.query == q).map(_.ms)))
    val tk = ss.filter(s => topK(s.query))
    val layer = per.toMap ++ Map(
      "operators.plan_ms" -> Stats.median(good.map(_.planMs)),
      "operators.exec_ms" -> Stats.median(good.map(_.execMs)),
      "plans.topk_rewrite_hits" ->
        (if (tk.isEmpty) 0.0 else tk.count(_.rewritten).toDouble / tk.size))
    val (traced, plain) = good.partition(_.traced)
    // result rows returned per second: rises when reads get faster,
    // however few rows they scan
    Window(plain.map(_.ms), traced.map(_.ms), ss.size + errors.get,
      ss.count(!_.ok) + errors.get, wall, good.map(_.rows.toDouble).sum / wall,
      layer)
  }
}
