package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into a layer. Spans of one iteration share `trace`;
  * `parent` is the enclosing span's id (-1 for an iteration's root). */
final case class Span(id: Int, trace: Int, parent: Int, name: String,
    startNs: Long, var endNs: Long, startMs: Long, var endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Driver-side span recorder. Spans stay in memory and are written out
  * when the benchmark ends. Each open span is also set as a Spark local
  * property, so every job it submits — including AQE stage jobs, which
  * inherit the submitting thread's properties — carries the span id. */
object Trace {
  val SpanKey = "perfbench.span"
  @volatile var enabled = false
  private var sc: SparkContext = _
  private var traceId = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def init(context: SparkContext): Unit = sc = context

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, traceId, stack.headOption.fold(-1)(_.id), name,
        System.nanoTime(), 0L, System.currentTimeMillis(), 0L)
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, prev)
      }
    }

  /** Open a new trace (one per traced iteration or probe) and run `body`
    * inside its root span. */
  def root[T](name: String)(body: => T): T = { traceId += 1; span(name)(body) }

  def all: Seq[Span] = spans.toSeq
  def of(trace: Int): Seq[Span] = spans.filter(_.trace == trace).toSeq
  def lastTrace: Int = traceId

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
    (s.endNs - s.startNs - Intervals.unionLength(kids.toSeq)) / 1e9
  }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Task-metric sums over a set of tasks. */
final class Work {
  var tasks, runMs, cpuNs, inputBytes, shuffleRead, shuffleWrite, spill,
      outputBytes, resultBytes = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = if (m != null) {
    tasks += 1
    runMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    inputBytes += m.inputMetrics.bytesRead
    shuffleRead += m.shuffleReadMetrics.totalBytesRead
    shuffleWrite += m.shuffleWriteMetrics.bytesWritten
    spill += m.memoryBytesSpilled + m.diskBytesSpilled
    outputBytes += m.outputMetrics.bytesWritten
    resultBytes += m.resultSize
  }
  def add(o: Work): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs
    inputBytes += o.inputBytes; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill
    outputBytes += o.outputBytes; resultBytes += o.resultBytes
  }
}

/** Benchmark-owned listener: attributes every job to the span that
  * submitted it and to the program module whose code submitted it, and
  * keeps per-stage task metrics and active intervals.
  *
  * Module attribution uses the job's SQL execution: AQE query-stage jobs
  * lose their short call site (it reads `... at CompletableFuture.java`),
  * but keep the `spark.sql.execution.id` property, and the execution's
  * start event carries the full call site of the action that created it.
  * The module is the first `graft.` frame of that call site, named after
  * its source file. Jobs outside any SQL execution (RDD actions such as the
  * Arrow encoder's) fall back to their stages' long call site. */
final class JobProbe extends SparkListener {
  final case class Job(id: Int, span: Int, module: String, stages: Seq[Int])

  val jobs = mutable.ArrayBuffer.empty[Job]
  val stageWork = mutable.Map.empty[Int, Work]
  val stageSpan = mutable.Map.empty[Int, (Long, Long)]
  private val execModule = mutable.Map.empty[Long, String]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execModule(e.executionId) = JobProbe.moduleOf(e.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val module = prop("spark.sql.execution.id").flatMap(i => execModule.get(i.toLong))
      .getOrElse(JobProbe.moduleOf(e.stageInfos.headOption.fold("")(_.details)))
    jobs += Job(e.jobId, prop(Trace.SpanKey).fold(-1)(_.toInt), module, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageWork.getOrElseUpdate(e.stageId, new Work).add(e.taskMetrics)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime) stageSpan(i.stageId) = (s, c)
  }
}

object JobProbe {
  /** Source file of a call site's first `graft.` frame → module name. */
  private val Modules = Map(
    "Pin.scala" -> "ops.Pin", "Scratch.scala" -> "ops.Scratch",
    "Par.scala" -> "ops.Par", "GraphOps.scala" -> "ops.GraphOps",
    "Stats.scala" -> "ops.Stats", "Graph.scala" -> "operators.Graph",
    "Corpus.scala" -> "operators.Corpus", "Dedup.scala" -> "operators.Dedup",
    "Similarity.scala" -> "operators.Similarity",
    "TextAnalysis.scala" -> "operators.TextAnalysis",
    "GraphProjection.scala" -> "pipeline", "FlightSink.scala" -> "sink")
  private val Frame = """^\s*(?:at\s+)?graft\.[\w.$]+\((\w+\.scala):\d+\)""".r

  def moduleOf(callSite: String): String =
    callSite.split("\n").iterator.collectFirst { case Frame(file) => file } match {
      case Some(f) => Modules.getOrElse(f, f.stripSuffix(".scala"))
      case None => "perfbench" // the benchmark's own actions (output writes)
    }

  /** The job-level modules the benchmark reports. */
  val Reported: Seq[String] = Seq("ops.Pin", "ops.Scratch", "ops.Par",
    "operators.Graph", "operators.Corpus", "operators.Dedup",
    "operators.Similarity", "operators.TextAnalysis")
}
