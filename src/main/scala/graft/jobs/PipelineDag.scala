package graft.jobs

import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory
import scala.collection.mutable

/** Orchestration of the curation jobs as a dependency DAG — the
  * reference's scheduled task graph (code/curate/05_task_DAG.sql:3-25:
  * CUSTOMER_PROCESSED root with a cron schedule, INVOICE_PROCESSED and
  * SALES_ENRICH_CURATED both AFTER it). Execution is concurrent and
  * dependency-gated: each task starts, on its own thread of a per-run
  * pool, as soon as every one of its dependencies has finished ok, so
  * siblings run side by side as the reference's AFTER children do and the
  * run takes the DAG's critical path rather than the sum of its tasks.
  * The reference's email notification integration
  * (common_utils.py:9-16) becomes a pluggable notifier with a log-stub
  * default (D3/D4).
  *
  * Schedule/retry parity: `schedule` carries the root's schedule
  * string (the reference's `SCHEDULE = '60 MINUTE'`,
  * 05_task_DAG.sql:5) as queryable metadata — firing it is the host
  * scheduler's job, by design out-of-engine (SURVEY §2.8).
  * `maxRetries` IS honored by `run`: a
  * task re-executes up to that many extra times before being marked
  * failed, and AFTER-semantics hold — dependents of a failed task are
  * skipped, not run against missing inputs.
  */
final case class DagTask(name: String, deps: Seq[String],
                         fn: SparkSession => Unit,
                         schedule: Option[String] = None,
                         maxRetries: Int = 0)

object Notifier {
  private val log = LoggerFactory.getLogger("graft.notify")
  /** Reference `send_email` (common_utils.py:9-16) — log-stub. */
  def send(recipients: String, subject: String, body: String): String = {
    log.info(s"[notify to=$recipients] $subject :: $body")
    "email_sent"
  }
}

final class PipelineDag(tasks: Seq[DagTask]) {
  private val log = LoggerFactory.getLogger("graft.dag")
  require(tasks.map(_.name).distinct.size == tasks.size, "duplicate task")
  private val byName = tasks.map(t => t.name -> t).toMap
  tasks.foreach(t => t.deps.foreach(d =>
    require(byName.contains(d), s"unknown dep $d of ${t.name}")))

  /** Topological order (stable: insertion order among ready tasks). */
  def order: Seq[String] = {
    val done = mutable.LinkedHashSet.empty[String]
    var remaining = tasks
    while (remaining.nonEmpty) {
      val ready = remaining.filter(_.deps.forall(done.contains))
      require(ready.nonEmpty,
        s"cycle among ${remaining.map(_.name).mkString(",")}")
      ready.foreach(t => done += t.name)
      remaining = remaining.filterNot(t => done.contains(t.name))
    }
    done.toSeq
  }

  /** Schedule of each scheduled task (reference 05_task_DAG.sql:5
    * `SCHEDULE = '60 MINUTE'`) — metadata for the host scheduler. */
  def schedules: Map[String, String] =
    tasks.flatMap(t => t.schedule.map(t.name -> _)).toMap

  /** Run all tasks; returns per-task status in `order`. A task starts
    * once all its dependencies are ok and retries up to its maxRetries;
    * dependents of a failed (or skipped) task are skipped — the
    * reference's AFTER semantics. Every task thread is created from the
    * calling thread, so it inherits the caller's Spark local properties
    * (scheduler pool, job group) and active session. */
  def run(spark: SparkSession): Seq[(String, String)] = {
    val ord = order
    val status = mutable.Map.empty[String, String]
    val pool = Executors.newFixedThreadPool(math.max(1, tasks.size))
    val finished = new ExecutorCompletionService[(String, String)](pool)
    var waiting = ord
    var running = 0
    // decide every waiting task whose deps are all decided: skip it or
    // start it; a skip can decide its own dependents, so go again
    def launchReady(): Unit = {
      val (ready, rest) =
        waiting.partition(byName(_).deps.forall(status.contains))
      waiting = rest
      ready.foreach { name =>
        byName(name).deps.find(status(_) != "ok") match {
          case Some(d) =>
            log.warn(s"dag task skipped: $name (dep $d not ok)")
            status(name) = s"skipped: dep $d"
          case None =>
            finished.submit(() => name -> runTask(spark, byName(name)))
            running += 1
        }
      }
      if (ready.exists(status.contains)) launchReady()
    }
    try {
      launchReady()
      while (running > 0) {
        val (name, result) =
          try finished.take().get()
          catch { case e: ExecutionException => throw e.getCause }
        running -= 1
        status(name) = result
        launchReady()
      }
    } finally pool.shutdownNow()
    ord.map(n => n -> status(n))
  }

  /** Run one task with its retries; its final status. */
  private def runTask(spark: SparkSession, t: DagTask): String = {
    var attempt = 0
    var result: Option[String] = None
    while (result.isEmpty && attempt <= t.maxRetries) {
      if (attempt > 0) log.warn(s"dag task retry $attempt: ${t.name}")
      log.info(s"dag task start: ${t.name}")
      try { t.fn(spark); log.info(s"dag task done: ${t.name}")
        result = Some("ok") }
      catch { case e: Exception =>
        log.error(s"dag task failed: ${t.name} (attempt $attempt)", e)
        if (attempt == t.maxRetries)
          result = Some(s"failed: ${e.getMessage}")
      }
      attempt += 1
    }
    result.get
  }
}

/** The reference pipeline instantiated over testdata. */
object CurationPipeline {
  def apply(dir: String, outPrefix: String = "graft_curated"): PipelineDag =
    new PipelineDag(Seq(
      DagTask("customer_processed", Nil, { s =>
        import graft.Tables
        // family-A-shaped input synthesized from testdata (see
        // operators.Curation for the shared synthesis)
        graft.operators.Curation.customerInput(s, dir)
          .createOrReplaceTempView(s"${outPrefix}_customer_raw")
        CustomerStandardize.run(s, s"${outPrefix}_customer_raw",
          s"${outPrefix}_customer")
      }, // root cadence from the reference (05_task_DAG.sql:5)
        schedule = Some("60 MINUTE"), maxRetries = 1),
      DagTask("invoice_processed", Seq("customer_processed"), { s =>
        graft.operators.Curation.invoiceRawText(s, dir)
          .createOrReplaceTempView(s"${outPrefix}_invoice_raw")
        TableIO.overwrite(s,
          InvoiceParse.parse(s.table(s"${outPrefix}_invoice_raw")),
          s"${outPrefix}_invoice")
      }),
      DagTask("sales_enrich_curated", Seq("customer_processed"), { s =>
        SalesEnrich.run(s, dir, s"${outPrefix}_product_sales")
        Notifier.send("ops@example.invalid",
          s"Curation: ${outPrefix}_product_sales table load completed",
          "PRODUCT SALES table successfully loaded")
      })
    ))
}
