package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** One timed interval of the traced run. `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
    endNs: Long, attrs: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine counts of one span, filled by the listeners. */
final class EngineCounts {
  var jobs, stages, tasks, failedTasks, exchanges = 0L
  var shuffleWrite, shuffleRead, spill, scan = 0L
  var taskBusyNs = 0L
  var planningNs = 0L
  def add(o: EngineCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; exchanges += o.exchanges
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; scan += o.scan; taskBusyNs += o.taskBusyNs
    planningNs += o.planningNs
  }
  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"failed_tasks":$failedTasks,""" +
      s""""exchanges":$exchanges,"shuffle_write_bytes":$shuffleWrite,""" +
      s""""shuffle_read_bytes":$shuffleRead,"spill_bytes":$spill,""" +
      s""""scan_bytes":$scan,"task_busy_s":${taskBusyNs / 1e9},""" +
      s""""planning_s":${planningNs / 1e9}}"""
}

private object PlanWalk extends AdaptiveSparkPlanHelper

/** The traced run's recorder. Spans are recorded around the benchmark's
  * own calls into the library; each span sets a Spark job group, so the
  * [[SparkListener]] attributes every job, stage and task to the span
  * that caused it, and adds planning time and exchange counts per SQL
  * execution. A [[StreamingQueryListener]] keeps every micro-batch
  * progress report.
  *
  * With `enabled = false` a span runs its body and records nothing, and
  * no listener is registered: timed runs carry no tracing cost. */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private val counts = new ConcurrentHashMap[Int, EngineCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val execSpan = new ConcurrentHashMap[Long, Int]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private val GroupPrefix = s"perfbench-$runId-"

  private def countsOf(span: Int): EngineCounts =
    counts.computeIfAbsent(span, _ => new EngineCounts)

  /** Span that owns a job: its job group if the benchmark set one, else
    * the root span open when the listener saw it (streaming triggers run
    * on their own thread, under the query's own group). */
  private def spanOfGroup(group: String): Int =
    if (group != null && group.startsWith(GroupPrefix))
      group.stripPrefix(GroupPrefix).toInt
    else synchronized(stack.lastOption.getOrElse(-1))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val span = spanOfGroup(props.map(_.getProperty("spark.jobGroup.id")).orNull)
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => execSpan.putIfAbsent(id.toLong, span))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      countsOf(span).synchronized { countsOf(span).jobs += 1 }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
      c.synchronized { c.stages += 1 }
    }
    /** Planning time and exchange count of each SQL execution, from the
      * `QueryExecution` its end event carries (the object a
      * `QueryExecutionListener` receives), attributed through the
      * execution id its jobs were tagged with. */
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.PerfbenchSqlShims.queryExecution(end).foreach { qe =>
        val c = countsOf(execSpan.getOrDefault(end.executionId,
          synchronized(stack.lastOption.getOrElse(-1))))
        val planning = qe.tracker.phases.values
          .map(p => p.endTimeMs - p.startTimeMs).sum * 1000000L
        val exchanges = PlanWalk.collectWithSubqueries(qe.executedPlan) {
          case x: ShuffleExchangeLike => x
        }.size
        c.synchronized { c.planningNs += planning; c.exchanges += exchanges }
        }
      case _ =>
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = countsOf(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.scan += m.inputMetrics.bytesRead
          c.taskBusyNs += m.executorRunTime * 1000000L
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum
  private val gc0 = gcMs

  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Runs `body` inside a span named `name`, child of the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = synchronized(stack.headOption.getOrElse(-1))
      synchronized(stack.push(id))
      sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        synchronized {
          stack.pop()
          spans += Span(id, parent, name, t0, t1, Map.empty)
        }
        stack.headOption match {
          case Some(p) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Attributes of a span recorded after its body ran (rows in/out). */
  def annotate(name: String, attrs: Map[String, Double]): Unit =
    if (enabled) synchronized {
      val i = spans.lastIndexWhere(_.name == name)
      if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
    }

  /** Waits until every listener event posted so far is handled. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchShims.drainListeners(sc)

  def allSpans: Seq[Span] = synchronized(spans.sortBy(_.startNs).toSeq)

  /** Seconds of `name` spans, summed. */
  def seconds(name: String): Double =
    allSpans.filter(_.name == name).map(_.seconds).sum

  /** A span's duration minus the part its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id)
      .map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) covered += b - from
      end = math.max(end, b)
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** Engine counts of one span, its descendants included. */
  def engine(spanId: Int): EngineCounts = {
    val total = new EngineCounts
    val ids = mutable.Set(spanId)
    allSpans.foreach(s => if (ids(s.parent)) ids += s.id)
    ids.foreach(i => Option(counts.get(i)).foreach(total.add))
    total
  }

  def gcSeconds: Double = (gcMs - gc0) / 1e3
  def peakHeapMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def progressReports: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    progress.asScala.toSeq

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  /** Writes every span, its self time and its own engine counts. */
  def write(path: String, extra: Map[String, String]): Unit = {
    val rows = allSpans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      val own = Option(counts.get(s.id)).map(_.json).getOrElse("{}")
      s"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""seconds":${s.seconds},"self_seconds":${selfSeconds(s)},""" +
        s""""attrs":{$attrs},"engine":$own}"""
    }
    val body = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val out = s"""{"run_id":"$runId",$body,"spans":[\n${rows.mkString(",\n")}\n]}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
