package graftbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}

/** One timed region of the benchmark's own code around a call into a
  * layer of the program. `parent` is the enclosing span on the same
  * thread (0 at the top); `pass` groups the spans of one operation. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
                      pass: Long, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are recorded only on threads that
  * enabled tracing; elsewhere a span is a plain call, so untraced
  * operations pay nothing. */
object Trace {
  private val active = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val passId = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Trace (or stop tracing) the calling thread's operation `pass`. */
  def begin(pass: Long, traced: Boolean): Unit = {
    passId.set(pass)
    active.set(traced)
  }

  private def newId(): Long = synchronized { nextId += 1; nextId }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!active.get) body
    else {
      val id = newId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized {
          spans += Span(id, parent, name, layer, passId.get, t0, t1)
        }
      }
    }

  /** Record a span whose bounds were observed elsewhere (the DAG task
    * log), as a child of the current span. */
  def record(name: String, layer: String, t0: Long, t1: Long): Unit =
    if (active.get) {
      val s = Span(newId(), stack.get.headOption.getOrElse(0L), name, layer,
        passId.get, t0, t1)
      synchronized { spans += s }
    }

  def all: Seq[Span] = synchronized(spans.toList)

  /** Self time per layer: a span's duration minus the part of it that
    * its child spans cover. */
  def selfMsByLayer(ss: Seq[Span]): Map[String, Double] = {
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = union(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(iv => iv._2 > iv._1))
      s.layer -> ((s.endNs - s.startNs - covered) / 1e6)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def union(ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    ivs.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  /** Write the spans as JSON lines, times relative to the first span. */
  def write(path: java.nio.file.Path): Unit = {
    val ss = all
    val t0 = if (ss.isEmpty) 0L else ss.map(_.startNs).min
    val lines = ss.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""layer":"${s.layer}","pass":${s.pass},""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${
          (s.endNs - t0) / 1e6}%.3f}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Start/finish times of the curation DAG's tasks, read from the
  * `graft.dag` logger the DAG reports to ("dag task start: <name>" /
  * "dag task done: <name>"). */
object DagLog {
  private val events = mutable.ArrayBuffer.empty[(String, String, Long)]

  private final class Capture extends AbstractAppender("graftbench-dag",
      null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val t = System.nanoTime()
      val m = e.getMessage.getFormattedMessage
      val kind =
        if (m.startsWith("dag task start: ")) "start"
        else if (m.startsWith("dag task done: ")) "done" else ""
      if (kind.nonEmpty) events.synchronized {
        events += ((kind, m.substring(m.indexOf(": ") + 2), t))
      }
    }
  }

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new Capture
    app.start()
    cfg.addAppender(app)
    val lc = new LoggerConfig("graft.dag", Level.INFO, false)
    lc.addAppender(app, Level.INFO, null)
    cfg.addLogger("graft.dag", lc)
    ctx.updateLoggers()
  }

  /** Drain the captured events into (task, startNs, endNs). */
  def drain(): Seq[(String, Long, Long)] = {
    val ev = events.synchronized {
      val e = events.toList; events.clear(); e
    }
    val starts = ev.collect { case ("start", n, t) => n -> t }.toMap
    ev.collect { case ("done", n, t) if starts.contains(n) =>
      (n, starts(n), t) }
  }
}
