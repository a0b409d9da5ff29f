package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task-metric totals for one attribution key. */
final class Counts {
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
  var output = 0L
  var peakMem = 0L

  def add(o: Counts): Counts = {
    tasks += o.tasks; failedTasks += o.failedTasks
    busyMs += o.busyMs; waitMs += o.waitMs
    shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
    peakMem = math.max(peakMem, o.peakMem)
    this
  }
}

/** One SQL execution as the listener saw it (start/end in epoch ms). */
final case class SqlExec(id: Long, plan: String, start: Long, var end: Long)

/** The benchmark's own SparkListener. Every task is attributed to the span
  * whose id was the `perfbench.span` local property of the thread that
  * submitted its job, and to that job's SQL execution id. Totals are read
  * only after [[drain]], so no task of a finished call is missed. */
class Probe(sc: SparkContext) extends SparkListener {
  private val stageKey = mutable.Map.empty[Int, (Long, Long)]
  private val counts = mutable.Map.empty[(Long, Long), Counts]
  private val execs = mutable.Map.empty[Long, SqlExec]

  sc.addSparkListener(this)

  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val props = Option(j.properties)
    val span = props.flatMap(p => Option(p.getProperty(Probe.SpanKey)))
      .map(_.toLong).getOrElse(0L)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    j.stageIds.foreach(s => stageKey(s) = (span, exec))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    val c = counts.getOrElseUpdate(stageKey.getOrElse(t.stageId, (0L, -1L)), new Counts)
    c.tasks += 1
    if (!t.taskInfo.successful) c.failedTasks += 1
    val m = t.taskMetrics
    if (m != null) {
      c.busyMs += m.executorRunTime
      val schedDelay = t.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      c.waitMs += math.max(0L, schedDelay) + m.shuffleReadMetrics.fetchWaitTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = SqlExec(s.executionId, s.physicalPlanDescription, s.time, s.time)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time)
    }
    case _ => ()
  }

  /** Sum over the keys whose span satisfies `spans` and whose SQL execution
    * satisfies `exec`. */
  def total(spans: Long => Boolean, exec: Long => Boolean = _ => true): Counts =
    synchronized {
      counts.foldLeft(new Counts) { case (acc, ((s, x), c)) =>
        if (spans(s) && exec(x)) acc.add(c) else acc
      }
    }

  /** Every task seen, attributed or not. */
  def grandTotal: Counts = total(_ => true)

  /** SQL executions whose jobs ran under one of `spans`. */
  def execsUnder(spans: Long => Boolean): Seq[SqlExec] = synchronized {
    val ids = counts.keys.collect { case (s, x) if spans(s) && x >= 0 => x }.toSet
    ids.toSeq.flatMap(execs.get).sortBy(_.start)
  }
}

object Probe {
  val SpanKey = "perfbench.span"
}

/** A traced interval: `parent` is 0 for a pass root. Times are epoch ms. */
final case class Span(id: Long, name: String, parent: Long, start: Long, var end: Long)

/** In-memory span store. A span's id becomes the `perfbench.span` local
  * property for its duration, so [[Probe]] can attribute the tasks it
  * starts; nesting follows the calling thread's current span. */
final class Trace(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var bookkeepingNs = 0L

  def all: Seq[Span] = synchronized(spans.toSeq)

  def add(name: String, parent: Long, start: Long, end: Long): Span = synchronized {
    nextId += 1
    val s = Span(nextId, name, parent, start, end)
    spans += s
    s
  }

  def current: Long =
    Option(sc.getLocalProperty(Probe.SpanKey)).map(_.toLong).getOrElse(0L)

  def span[T](name: String, parent: Long = -1L)(body: => T): T = {
    val t0 = System.nanoTime()
    val prev = sc.getLocalProperty(Probe.SpanKey)
    val s = add(name, if (parent >= 0) parent else current,
      System.currentTimeMillis(), 0L)
    sc.setLocalProperty(Probe.SpanKey, s.id.toString)
    val t1 = System.nanoTime()
    try body
    finally {
      val t2 = System.nanoTime()
      s.end = System.currentTimeMillis()
      sc.setLocalProperty(Probe.SpanKey, prev)
      synchronized(bookkeepingNs += (t1 - t0) + (System.nanoTime() - t2))
    }
  }

  /** Time spent recording spans, on the threads that opened them. */
  def bookkeepingSeconds: Double = synchronized { bookkeepingNs / 1e9 }

  /** `root` and every span below it. */
  def subtree(root: Long): Set[Long] = synchronized {
    val kids = spans.groupBy(_.parent)
    def go(id: Long): Set[Long] =
      Set(id) ++ kids.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root)
  }

  /** Duration minus the part of it that child spans cover, in seconds. */
  def selfSeconds(s: Span): Double = synchronized {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.end - s.start - covered) / 1000.0
  }
}
