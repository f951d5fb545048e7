package graftbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.api.{Corpus, Vectors}

/** `ml_corpus`: CPU-bound per-row compute, one pass at a time. Each pass
  * gets a fresh near-duplicate-heavy corpus (word-rotation replicas of
  * the base documents, jittered replicas of the base vectors, with a
  * rotation offset no earlier pass used), so every memoized result
  * misses. The pass runs MinHash signatures, near-duplicate pairs and
  * clusters, exact and IVF-PQ vector top-k, and the recommender. */
object MlCorpus extends Workload {
  val name = "ml_corpus"
  private val sizes = Sizes.mlCorpus
  private val K = 10
  // the IVF-PQ recall a pass must reach against exact top-k
  private val RecallFloor = 0.15
  private var recommend: Option[Int] = None

  val layerMetrics = Seq("api.minhash_signatures_ms", "api.near_dup_pairs_ms",
    "api.near_dup_pairs", "api.clusters_ms", "api.topk_brute_ms",
    "api.topk_ivfpq_ms", "api.ivfpq_recall_at_10",
    "functions.minhash_rows_per_s", "operators.ml_recommend_ms")

  def generate(ctx: Ctx): Unit = {
    Gen.starSchema(ctx.spark, ctx.gen, ctx.seed, sizes.customers)
    Gen.documents(ctx.spark, ctx.gen, ctx.seed, sizes.docs)
    Gen.embeddings(ctx.spark, ctx.gen, ctx.seed, sizes.vecs)
  }

  def warmup(ctx: Ctx): Unit = {
    ctx.check(pass(ctx, 0).ok, "ml_corpus warm-up pass failed")
    ctx.clearCaches()
    Fs.rm(ctx.work.resolve("pass/0"))
  }

  private final case class Pass(ms: Double, steps: Map[String, Double],
                                docs: Long, ok: Boolean)

  /** Word 3-gram shingle set, as the near-dup pairing defines it. */
  private def shingles(text: String): Set[String] =
    text.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet

  private def pass(ctx: Ctx, p: Int): Pass = {
    val s = ctx.spark
    val dir = ctx.work.resolve(s"pass/$p").toString
    // a rotation offset no other pass of this run uses
    Gen.docReplicas(s, ctx.gen, dir, p * 7 + 1, sizes.docCopies)
    Gen.vecReplicas(s, ctx.gen, dir, ctx.seed, p * 7 + 1, sizes.vecCopies,
      sizes.queries)
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val vecs = s.read.parquet(s"$dir/embeddings.parquet")
    val queries = vecs.filter(col("vec_id") < sizes.queries)
    val nDocs = docs.count()
    val steps = mutable.LinkedHashMap.empty[String, Double]
    var ok = true
    def step[T](key: String, span: String, layer: String)(body: => T): T = {
      val (r, ms) = Stats.time(Trace.span(span, layer)(body))
      steps(key) = ms
      r
    }
    def check(c: Boolean, what: => String): Unit =
      ok &= ctx.check(c, s"ml_corpus pass $p: $what")

    Trace.span("ml_corpus.pass", "bench") {
      val signed = step("api.minhash_signatures_ms",
        "functions.minhash_signatures", "functions") {
        Corpus.minhashSignatures(docs).count()
      }
      check(signed == nDocs, s"signatures $signed of $nDocs docs")

      val pairs = step("api.near_dup_pairs_ms", "api.near_dup_pairs", "api") {
        Corpus.nearDupPairs(docs).select("id1", "id2").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      steps("api.near_dup_pairs") = pairs.length.toDouble
      // every base document has docCopies - 1 rotated replicas
      check(pairs.length >= sizes.docs * (sizes.docCopies - 1) / 2,
        s"only ${pairs.length} near-dup pairs")
      val rnd = new scala.util.Random(ctx.seed * 7919 + p)
      val sample = rnd.shuffle(pairs.toSeq).take(40)
      val ids = sample.flatMap(t => Seq(t._1, t._2)).distinct
      val text = docs.filter(col("doc_id").isin(ids: _*))
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
      val low = sample.filter { case (a, b) =>
        val (x, y) = (text(a), text(b))
        (x & y).size.toDouble / (x | y).size < 0.5
      }
      check(low.isEmpty, s"pairs below Jaccard 0.5: ${low.take(3)}")

      val clustered = step("api.clusters_ms", "api.clusters", "api") {
        Corpus.nearDupClustersAuto(docs).count()
      }
      check(clustered >= sizes.docs, s"only $clustered clustered docs")

      val exact = step("api.topk_brute_ms", "api.topk_brute", "api") {
        Vectors.topK(queries, vecs, K).select("qid", "nid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val byQ = exact.groupBy(_._1)
      check(byQ.size == sizes.queries && byQ.values.forall(v =>
        v.length == K && v.forall(t => t._1 != t._2)),
        s"exact top-$K malformed: ${byQ.size} queries")

      val ann = step("api.topk_ivfpq_ms", "api.topk_ivfpq", "api") {
        Vectors.topKIvfPq(queries, vecs, K).select("qid", "nid").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      val recall = ann.toSet.intersect(exact.toSet).size.toDouble /
        math.max(exact.length, 1)
      steps("api.ivfpq_recall_at_10") = recall
      check(recall >= RecallFloor, f"IVF-PQ recall@$K $recall%.3f")

      val rec = step("operators.ml_recommend_ms", "operators.ml_recommend",
        "operators") {
        graft.SparkEntry.queries("ml_recommend")(s, ctx.gen).collect()
      }
      val d = scala.util.hashing.MurmurHash3.orderedHash(
        rec.map(_.toString).sorted)
      check(rec.nonEmpty && recommend.forall(_ == d),
        s"ml_recommend: ${rec.length} rows, digest differs from warm-up")
      if (recommend.isEmpty) recommend = Some(d)
    }
    steps("functions.minhash_rows_per_s") =
      nDocs / (steps("api.minhash_signatures_ms") / 1000)
    val timed = Seq("api.minhash_signatures_ms", "api.near_dup_pairs_ms",
      "api.clusters_ms", "api.topk_brute_ms", "api.topk_ivfpq_ms",
      "operators.ml_recommend_ms")
    Pass(timed.map(steps).sum, steps.toMap, nDocs, ok)
  }

  def measure(ctx: Ctx, seconds: Double, first: Int,
              trace: Boolean): Window = {
    val lat, traced = mutable.ArrayBuffer.empty[Double]
    val layer = mutable.ArrayBuffer.empty[Map[String, Double]]
    var attempted, failed = 0
    // documents through near-dup pairing per second, per pass
    val pairRate = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    var p = first
    while (System.nanoTime() < end) {
      val tr = trace && (p - first) % 2 == 1
      Trace.begin(p, tr)
      attempted += 1
      try {
        val r = pass(ctx, p)
        if (r.ok) {
          (if (tr) traced else lat) += r.ms
          layer += r.steps
          // both near-dup calls pair every document of the corpus
          pairRate += 2 * r.docs / ((r.steps("api.near_dup_pairs_ms") +
            r.steps("api.clusters_ms")) / 1000)
        } else failed += 1
      } catch { case e: Exception =>
        failed += 1
        ctx.check(false, s"ml_corpus pass $p threw: $e")
      }
      ctx.clearCaches()
      Fs.rm(ctx.work.resolve(s"pass/$p"))
      p += 1
    }
    Window(lat.toSeq, traced.toSeq, attempted, failed,
      (System.nanoTime() - t0) / 1e9, Stats.median(pairRate.toSeq),
      layerMetrics.map(k =>
        k -> Stats.median(layer.map(_.getOrElse(k, 0.0)).toSeq)).toMap)
  }
}
