package gpsatbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import scala.collection.mutable.ArrayBuffer

/** One layer call: name, start/end (ns, monotonic), the enclosing span and
  * the traced job it belongs to.
  */
final class Span(val id: Int, val name: String, val parent: Int, val runId: String,
                 val startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task metrics of the Spark jobs submitted while one span was innermost. */
final class TaskAgg {
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  val taskMs = ArrayBuffer.empty[Long]
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def add(o: TaskAgg): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; taskMs ++= o.taskMs
    o.stageTaskMs.foreach { case (s, ms) => stageTaskMs.getOrElseUpdate(s, ArrayBuffer.empty) ++= ms }
  }

  /** max / mean task time of the stage with the most task time: how far the
    * slowest task of the blocking stage sits above an even split.
    */
  def heaviestStageSkew: Double =
    if (stageTaskMs.isEmpty) 0.0
    else {
      val ms = stageTaskMs.values.maxBy(_.sum)
      val mean = ms.sum.toDouble / ms.size
      if (mean > 0) ms.max / mean else 0.0
    }
}

/** Attributes every finished task to the span that was innermost on the
  * thread that submitted its job (carried as a job local property, so the
  * asynchronous listener bus cannot misattribute it).
  */
final class SpanTaskListener extends SparkListener {
  private val stageSpan = scala.collection.mutable.Map.empty[Int, Int]
  val bySpan = scala.collection.mutable.Map.empty[Int, TaskAgg]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).foreach { id =>
      e.stageIds.foreach(s => stageSpan(s) = id.toInt)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val a = bySpan.getOrElseUpdate(span, new TaskAgg)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.diskBytesSpilled
      val ms = e.taskInfo.duration
      a.taskMs += ms
      a.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += ms
    }
  }
}

/** In-memory span recorder around the benchmark's calls into each layer.
  * Disabled, `span` only runs its body, so the untraced and traced jobs
  * execute the same calls in the same order.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new SpanTaskListener
  spark.sparkContext.addSparkListener(listener)
  private var enabled = false
  private var runId = ""
  private var stack = List.empty[Span]
  val spans = ArrayBuffer.empty[Span]
  /** (span id, node name, SQL metrics) of the join-related plan nodes. */
  val planMetrics = ArrayBuffer.empty[(Int, String, Map[String, Long])]

  def active: Boolean = enabled
  def start(id: String): Unit = { enabled = true; runId = id }
  def stop(): Unit = {
    enabled = false
    org.apache.spark.gpsatbench.ListenerBusDrain(spark.sparkContext)
  }

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId, System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, parent.map(_.id.toString).orNull)
      }
    }

  /** Keeps the row-count metrics of the join and filter nodes of an
    * executed plan, under the innermost open span.
    */
  def recordPlan(ds: Dataset[_]): Unit =
    if (enabled) {
      val id = stack.headOption.map(_.id).getOrElse(-1)
      Tracer.nodes(ds.queryExecution.executedPlan)
        .filter(p => p.nodeName.contains("Join") || p.nodeName == "Filter")
        .foreach { p =>
          planMetrics += ((id, p.nodeName, p.metrics.map { case (k, m) => k -> m.value }))
        }
    }

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  /** Span duration minus the part of it its child spans cover (children
    * of one span run one after another on the calling thread).
    */
  def selfSeconds(s: Span): Double = s.seconds - children(s).map(_.seconds).sum

  def tasksOf(s: Span): TaskAgg = listener.synchronized {
    listener.bySpan.getOrElse(s.id, new TaskAgg)
  }

  /** Task metrics of a span and all its descendants. */
  def tasksInclusive(s: Span): TaskAgg = {
    val a = new TaskAgg
    a.add(tasksOf(s))
    children(s).foreach(c => a.add(tasksInclusive(c)))
    a
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  val SpanProperty = "gpsatbench.span"

  /** Every node of a physical plan, looking through adaptive plans, query
    * stages and cached relations.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Forces a DataFrame inside the current span: cache it and count it. */
  def force(df: DataFrame): DataFrame = {
    val p = df.persist()
    p.count()
    p
  }
}
