package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Work counters summed over the tasks of the jobs attributed to one key. */
final class Acc {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  /** task durations per job id */
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
}

/** One span: a call into a layer, timed on the driver. `parent` and
  * `trace` tie nested calls of one workload iteration together. */
final case class Span(id: Long, name: String, parent: Long, trace: Long,
    startMs: Long, var endMs: Long = -1L,
    attrs: mutable.Map[String, Double] = mutable.LinkedHashMap())

/** The traced-run collector. Spans live in memory and are written out
  * when the benchmark ends. Each open span is published as a Spark local
  * property, so every job submitted inside it (streaming threads inherit
  * it at start) carries the span id; a [[SparkListener]] then sums task
  * counters per span and per sub-call, where a sub-call is either a SQL
  * execution whose plan writes a registered path (the layers inside
  * `BatchPipeline.run`) or a registered streaming query. Codegen compile
  * time comes from Spark's in-process `CodegenMetrics` histogram.
  *
  * With `enabled = false` (or while inactive) no task listener is
  * attached and a span costs two clock reads; the streaming progress
  * listener is always on, since the end-to-end streaming metrics come
  * from it. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "perfbench.span"
  private val QueryKey = "sql.streaming.queryId"

  private var nextId = 1L
  private val stack = mutable.Stack[Span]()
  val spans = mutable.ArrayBuffer[Span]()

  /** Sub-call labels: output path fragment → name, query id → name. */
  private val pathLabels = mutable.LinkedHashMap[String, String]()
  private val queryLabels = new java.util.concurrent.ConcurrentHashMap[String, String]()

  // listener state (listener-bus thread; read after waitIdle)
  private val accs = mutable.Map[String, Acc]()
  private val execLabel = mutable.Map[Long, String]()
  private val execRoot = mutable.Map[Long, Long]()
  private val execWall = mutable.Map[Long, Long]()
  private val execStart = mutable.Map[Long, Long]()
  private val stageKeys = mutable.Map[Int, (Int, Seq[String])]()
  private val jobKeys = mutable.Map[Int, Seq[String]]()
  private val jobStart = mutable.Map[Int, Long]()
  /** The output path in a formatted plan's write-command details. */
  private val WriteTarget =
    "(?s)\\) Execute InsertIntoHadoopFsRelationCommand\n.*?Arguments: ([^,\\s]+),".r

  val progress = new ConcurrentLinkedQueue[QueryProgressEvent]()

  private def acc(k: String): Acc = accs.getOrElseUpdate(k, new Acc)

  private def labelOf(exec: Long): Option[String] =
    execLabel.get(exec).orElse(execRoot.get(exec).flatMap(execLabel.get))

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.rootExecutionId.filter(_ != s.executionId)
          .foreach(r => execRoot(s.executionId) = r)
        execStart(s.executionId) = s.time
        for {
          m <- WriteTarget.findFirstMatchIn(s.physicalPlanDescription)
          (_, name) <- pathLabels.find { case (frag, _) =>
            m.group(1).endsWith(frag) }
        } execLabel(s.executionId) = name
      case s: SparkListenerSQLExecutionEnd =>
        for (t0 <- execStart.remove(s.executionId)
             if execLabel.contains(s.executionId))
          execWall(s.executionId) = s.time - t0
      case _ => ()
    }

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      val p = Option(j.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      val spanIds = prop(SpanKey).map(_.split(',').toSeq).getOrElse(Nil)
      val inner = spanIds.lastOption.getOrElse("0")
      val exec = prop("spark.sql.execution.id").flatMap(_.toLongOption)
      val labelled = exec.filter(e => labelOf(e).isDefined)
      val sub = prop(QueryKey).map(q => s"q=$q")
        .orElse(labelled.flatMap(labelOf))
      val keys = spanIds.map(id => s"span:$id") ++
        sub.map(n => s"sub:$n@$inner") ++ labelled.map(e => s"exec:$e")
      jobKeys(j.jobId) = keys
      jobStart(j.jobId) = j.time
      j.stageIds.foreach(s => stageKeys(s) = (j.jobId, keys))
      keys.foreach(k => acc(k).jobs += 1)
    }

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      for (keys <- jobKeys.remove(j.jobId); t0 <- jobStart.remove(j.jobId))
        keys.foreach(k => acc(k).jobSpans += ((t0, j.time)))

    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) stageKeys.get(t.stageId).foreach { case (job, keys) =>
        val dur = t.taskInfo.duration
        keys.foreach { k =>
          val a = acc(k)
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.runMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.inputBytes += m.inputMetrics.bytesRead
          a.inputRecords += m.inputMetrics.recordsRead
          a.taskMs.getOrElseUpdate(job, mutable.ArrayBuffer[Long]()) += dur
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private var active = false
  setActive(enabled)
  spark.streams.addListener(streamListener)

  /** Attach or detach the task listener (only in a traced run). */
  def setActive(on: Boolean): Unit = if (enabled && on != active) {
    if (on) sc.addSparkListener(listener) else sc.removeSparkListener(listener)
    active = on
  }

  def close(): Unit = {
    setActive(false)
    spark.streams.removeListener(streamListener)
  }

  /** Attribute SQL executions whose physical plan mentions `fragment`
    * (an output path) to the sub-call `name`. */
  def labelPath(fragment: String, name: String): Unit =
    if (enabled) pathLabels(fragment) = name

  /** Attribute the jobs of a streaming query to the sub-call `name`. */
  def labelQuery(queryId: String, name: String): Unit =
    queryLabels.put(queryId, name)

  /** Wait until the listener bus has delivered every posted event. */
  def waitIdle(): Unit =
    org.apache.spark.perfbench.BusAccess.waitUntilEmpty(sc)

  private def publish(): Unit =
    sc.setLocalProperty(SpanKey,
      if (stack.isEmpty) null else stack.reverse.map(_.id).mkString(","))

  /** Run `body` inside a span named `name`. Listener counters arrive
    * asynchronously: call [[waitIdle]] before reading them. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = Span(nextId, name, parent.map(_.id).getOrElse(0L),
      parent.map(_.trace).getOrElse(nextId), System.currentTimeMillis())
    nextId += 1
    spans += s
    val gc0 = Tracer.gcMillis()
    val cg0 = Tracer.codegen()
    if (active) s.attrs("traced") = 1.0
    stack.push(s)
    publish()
    try body
    finally {
      stack.pop()
      publish()
      s.endMs = System.currentTimeMillis()
      s.attrs("gc_ms") = (Tracer.gcMillis() - gc0).toDouble
      val cg1 = Tracer.codegen()
      s.attrs("codegen_ms") = math.max(0.0, cg1._2 - cg0._2)
      s.attrs("codegen_n") = (cg1._1 - cg0._1).toDouble
    }
  }

  def wallMs(s: Span): Double = (s.endMs - s.startMs).toDouble

  /** Length of the union of `spans` clipped to [lo, hi]. */
  private def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    spans.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total + (curE - curS)
  }

  private val empty = new Acc

  /** The C8 counter set of one span: wall ms, task CPU ms, jobs, tasks,
    * shuffle bytes written, input bytes, JVM GC ms, and driver ms (wall
    * minus the union of the span's job intervals). */
  def c8(s: Span): Map[String, Double] = {
    val a = accs.getOrElse(s"span:${s.id}", empty)
    val wall = wallMs(s)
    Map(
      "ms" -> wall,
      "cpu_ms" -> a.cpuNs / 1e6,
      "jobs" -> a.jobs.toDouble,
      "tasks" -> a.tasks.toDouble,
      "shuffle_bytes" -> a.shuffleBytes.toDouble,
      "input_bytes" -> a.inputBytes.toDouble,
      "gc_ms" -> s.attrs.getOrElse("gc_ms", 0.0),
      "driver_ms" -> (wall - unionMs(a.jobSpans.toSeq, s.startMs, s.endMs)),
      "codegen_ms" -> s.attrs.getOrElse("codegen_ms", 0.0))
  }

  /** Counters of a sub-call (a layer inside one call) under span `s`:
    * a labelled SQL execution, or every job of a labelled streaming
    * query. */
  def subAcc(name: String, s: Span): Acc = {
    val queryIds = queryLabels.asScala.collect { case (q, n) if n == name => q }
    (s"sub:$name@${s.id}" +: queryIds.toSeq.map(q => s"sub:q=$q@${s.id}"))
      .flatMap(accs.get).headOption.getOrElse(empty)
  }

  /** [[c8]] for a sub-call. `wall` is the sub-call's own wall time (its
    * SQL execution, or its summed micro-batch time); GC is its tasks' GC
    * time, since sub-calls can overlap. */
  def subC8(name: String, s: Span, wall: Double): Map[String, Double] = {
    val a = subAcc(name, s)
    Map(
      "ms" -> wall,
      "cpu_ms" -> a.cpuNs / 1e6,
      "jobs" -> a.jobs.toDouble,
      "tasks" -> a.tasks.toDouble,
      "shuffle_bytes" -> a.shuffleBytes.toDouble,
      "input_bytes" -> a.inputBytes.toDouble,
      "gc_ms" -> a.gcMs.toDouble,
      "driver_ms" ->
        math.max(0.0, wall - unionMs(a.jobSpans.toSeq, 0L, Long.MaxValue)))
  }

  /** Labelled SQL executions of sub-call `name` whose jobs ran in `s`. */
  private def execsOf(name: String, s: Span): Seq[Long] =
    accs.keys.toSeq.filter(_.startsWith("exec:"))
      .map(_.stripPrefix("exec:").toLong)
      .filter(id => labelOf(id).contains(name) &&
        accs(s"exec:$id").jobSpans.exists { case (t0, _) =>
          t0 >= s.startMs && t0 <= s.endMs })

  /** Wall time of sub-call `name` under `s` (summed over its executions). */
  def execWallMs(name: String, s: Span): Double =
    execsOf(name, s).flatMap(execWall.get).sum.toDouble

  /** Task durations of the last job of each execution of the sub-calls
    * `names` under `s`: the write stage of a layer write. */
  def writeTaskMs(names: Seq[String], s: Span): Seq[Long] =
    names.flatMap(execsOf(_, s)).flatMap { id =>
      val byJob = accs(s"exec:$id").taskMs
      if (byJob.isEmpty) Nil else byJob(byJob.keys.max).toSeq
    }

  def childrenNamed(s: Span, name: String): Seq[Span] =
    spans.toSeq.filter(c => c.parent == s.id && c.name == name)

  def named(name: String): Seq[Span] = spans.toSeq.filter(_.name == name)

  /** Top-level spans named `name` that ran with the listener attached. */
  def measured(name: String): Seq[Span] =
    named(name).filter(s => s.parent == 0 && s.attrs.contains("traced"))

  def spansJson: String = spans.map { s =>
    val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString(",")
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""trace":${s.trace},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""attrs":{$attrs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  /** (compile count, compile ms) from Spark's CodegenMetrics histogram.
    * The histogram's reservoir keeps every sample until it holds 1028;
    * past that the sum is estimated as mean × count. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val sum =
      if (snap.size >= n) snap.getValues.sum.toDouble
      else snap.getMean * n
    (n, sum)
  }
}
