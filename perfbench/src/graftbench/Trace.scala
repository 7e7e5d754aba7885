package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval at a layer boundary. `op` groups the spans of one
  * request, batch or job; `parent` is the span that caused this one.
  */
final case class Span(id: Long, name: String, op: String, parent: Long,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans for the traced run, kept in memory and written out once at the
  * end. With `on = false` every call is a plain pass-through, so the
  * untraced run pays nothing.
  */
final class Trace(val on: Boolean) {
  /** A traced run traces every other operation (the odd ones), so the
    * untraced ones interleaved with them give the tracing overhead.
    */
  def pick(i: Long): Trace = if (on && i % 2 == 1) this else Trace.Off

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val currentOp = new ThreadLocal[String] { override def initialValue() = "" }

  /** Run `body` inside span `name` of operation `op` (the enclosing
    * operation when `op` is empty).
    */
  def span[T](name: String, op: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = current.get
      val opKey = if (op.nonEmpty) op else currentOp.get
      val prevOp = currentOp.get
      current.set(id :: stack)
      currentOp.set(opKey)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, opKey, stack.headOption.getOrElse(0L), t0, System.nanoTime()))
        current.set(stack)
        currentOp.set(prevOp)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time of every span: its duration minus the part of it that
    * its children cover (children of one span never overlap here, they
    * run on the parent's thread).
    */
  def selfMs: Seq[(Span, Double)] = {
    val s = all
    val childMs = s.groupBy(_.parent).view.mapValues(_.map(_.ms).sum).toMap
    s.map(x => x -> math.max(0.0, x.ms - childMs.getOrElse(x.id, 0.0)))
  }

  /** Mean duration of spans called `name`, children included. */
  def meanMs(name: String): Double = mean(all.filter(_.name == name).map(_.ms))

  /** Mean self time of spans called `name`, per span. */
  def meanSelfMs(name: String): Double = mean(selfMs.collect { case (s, v) if s.name == name => v })

  private def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

object Trace {
  val Off = new Trace(false)
}

/** Spark's own accounting, read from outside the program: listener-bus
  * job, stage and task metrics, and the SQL metrics of every executed
  * plan (the accumulators the SQL tab reads), each attributed to the
  * operation whose thread submitted the job (the `graftbench.op` local
  * property) or to the streaming batch it ran in.
  */
final class SparkCounters(spark: SparkSession) {
  import SparkCounters._

  val byOp = new ConcurrentHashMap[String, Counts]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val execOp = new ConcurrentHashMap[Long, String]()
  /** accumulator id → (operator family, metric name, metric type) */
  private val accumMeta = new ConcurrentHashMap[Long, (String, String, String)]()
  private val accumByOp = new ConcurrentHashMap[(String, Long), AtomicLong]()
  private val execAccums = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  val totalBytesWritten = new AtomicLong(0)

  private def counts(op: String) = byOp.computeIfAbsent(op, _ => new Counts)
  private def accum(op: String, id: Long) = accumByOp.computeIfAbsent((op, id), _ => new AtomicLong(0))

  private def register(info: org.apache.spark.sql.execution.SparkPlanInfo): Unit = {
    val f = family(info.nodeName).getOrElse("")
    info.metrics.foreach(m => accumMeta.put(m.accumulatorId, (f, m.name, m.metricType)))
    info.children.foreach(register)
  }

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = j.properties
      val op = opOf(p)
      counts(op).jobs.incrementAndGet()
      j.stageIds.foreach(stageOp.put(_, op))
      Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(e => execOp.put(e.toLong, op))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      counts(stageOp.getOrDefault(s.stageInfo.stageId, "")).stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val op = stageOp.getOrDefault(t.stageId, "")
      val c = counts(op)
      c.tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        c.cpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        totalBytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      }
      if (t.taskInfo != null) t.taskInfo.accumulables.foreach { a =>
        a.update match {
          case Some(v: Long) if accumMeta.containsKey(a.id) => accum(op, a.id).addAndGet(v)
          case _ =>
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => register(x.sparkPlanInfo)
      case x: org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate => register(x.sparkPlanInfo)
      case x: org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates =>
        x.accumUpdates.foreach { case (id, v) => execAccums.add((x.executionId, id, v)) }
      case _ =>
    }
  }

  val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  /** Wait for the listener bus to deliver what has been posted so far. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var last = -1L
    var now = snapshotSize
    while (now != last && System.currentTimeMillis() < deadline) {
      last = now; Thread.sleep(300); now = snapshotSize
    }
  }
  private def snapshotSize: Long =
    byOp.values().asScala.map(c => c.tasks.get + c.jobs.get).sum + progress.size

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  /** SQL metrics per operation, keyed like `op.Scan.time_ms`. */
  def operatorsByOp: Map[String, Map[String, Double]] = {
    val fromExecs = execAccums.asScala.toSeq.map { case (e, id, v) => (execOp.getOrDefault(e, ""), id, v) }
    val fromTasks = accumByOp.asScala.toSeq.map { case ((op, id), v) => (op, id, v.get) }
    (fromTasks ++ fromExecs).flatMap { case (op, id, v) =>
      Option(accumMeta.get(id)).toSeq.flatMap { case (f, name, tpe) => metricKeys(f, name, tpe, v).map(op -> _) }
    }.groupBy(_._1).view.mapValues(_.map(_._2).foldLeft(Map.empty[String, Double])((m, kv) =>
      m.updated(kv._1, m.getOrElse(kv._1, 0.0) + kv._2))).toMap
  }
}

object SparkCounters {
  final class Counts {
    val jobs, stages, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong(0)
  }

  val OpProperty = "graftbench.op"

  /** Physical node families reported under `op.<family>`. */
  val Operators: Seq[String] =
    Seq("Scan", "HashAggregate", "Exchange", "BroadcastHashJoin", "SortMergeJoin", "Generate", "Sort")

  def opOf(p: java.util.Properties): String =
    if (p == null) ""
    else Option(p.getProperty(OpProperty)).filter(_.nonEmpty)
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _))
      .getOrElse("")

  def addMaps(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  private def family(nodeName: String): Option[String] =
    if (nodeName.startsWith("Scan") || nodeName.endsWith("Scan")) Some("Scan")
    else if (nodeName.endsWith("HashAggregate")) Some("HashAggregate")
    else if (nodeName.endsWith("Exchange")) Some("Exchange")
    else Operators.find(_ == nodeName)

  /** The benchmark's names for one SQL metric value of a plan node. */
  def metricKeys(f: String, name: String, tpe: String, v: Double): Seq[(String, Double)] =
    (if (f.nonEmpty && tpe == "timing") Seq(s"op.$f.time_ms" -> v)
     else if (f.nonEmpty && tpe == "nsTiming") Seq(s"op.$f.time_ms" -> v / 1e6)
     else Nil) ++
    (if (f.nonEmpty && name == "number of output rows") Seq(s"op.$f.rows" -> v) else Nil) ++
    (if (name == "number of files read") Seq("spark.scan_files" -> v) else Nil) ++
    (if (name == "size of files read") Seq("spark.scan_bytes" -> v) else Nil)

  /** Time (ms) and output rows per operator family, plus scanned files
    * and bytes, from the SQL metrics of an executed plan, adaptive stages
    * included. A cached relation counts as a leaf.
    */
  def operatorMetrics(root: SparkPlan): Map[String, Double] = {
    val acc = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def walk(p: SparkPlan): Unit = {
      val f = family(p.nodeName).getOrElse("")
      p.metrics.values.foreach(m =>
        metricKeys(f, m.name.getOrElse(""), m.metricType, m.value.toDouble).foreach { case (k, v) => acc(k) += v })
      val kids = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Nil
        case o => o.children
      }
      kids.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(root)
    acc.toMap
  }

  /** Rows read by the leaves of an executed plan (file scans, caches). */
  def leafRows(root: SparkPlan): Double = operatorMetrics(root).getOrElse("op.Scan.rows", 0.0)

  /** Tag every Spark job the current thread submits with operation `op`. */
  def withOp[T](spark: SparkSession, op: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(OpProperty)
    sc.setLocalProperty(OpProperty, op)
    try body finally sc.setLocalProperty(OpProperty, prev)
  }
}
