package importbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds, the clock Spark's
  * listener events carry, so job spans and the benchmark's own spans
  * line up. `parent` is the causing span's id (-1 for a root); all spans
  * of one traced delta, or of one set-up, share `trace`. */
final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, trace: Int) {
  def ms: Long = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Spans {
  private val buf = mutable.ArrayBuffer[Span]()
  def all: Seq[Span] = buf.toSeq

  def add(name: String, start: Long, end: Long, parent: Int, trace: Int): Span = {
    val s = Span(buf.size, name, start, end, parent, trace)
    buf += s
    s
  }

  def toJson: String = buf.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","start":${s.start},"end":${s.end},""" +
      s""""parent":${s.parent},"trace":${s.trace}}""").mkString("[\n", ",\n", "\n]")
}

object Spans {

  /** Length of the union of `intervals`, each clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. Returns span id → milliseconds. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ms - covered(kids, s.start, s.end))
    }.toMap
  }

  /** Self time summed per span name. */
  def selfByName(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }
}

/** Maps what the driver is doing to the engine layer doing it, from a
  * sampled stack of the thread running the import. The innermost frame
  * of the engine (`graft.*`) decides: a rule names its layer, or the
  * sample is unattributed; where that frame is the orchestrator itself,
  * the Spark action it is inside of decides. Samples with no engine
  * frame are the streaming engine's own work (trigger, offset log,
  * commit), charged to the delta layer. */
object Attribution {

  val Unattributed = "spark.unattributed"

  /** (class, method prefix or "" for any) → layer, tried per frame. */
  val rules: Seq[(String, String, String)] = Seq(
    ("graft.pipeline.ExtractPipeline$", "writeHtmlFiles", "sink.html"),
    ("graft.pipeline.ExtractPipeline$", "writeTtl", "sink.ttl"),
    ("graft.pipeline.ImportPipeline$", "sizesByPage", "sink.sizes"),
    ("graft.pipeline.ImportPipeline$", "manifest", "registry"),
    ("graft.pipeline.FileRegistry$", "", "registry"),
    ("graft.pipeline.ExtractPipeline$", "extractQuads", "extract.extract"),
    ("graft.pipeline.ExtractPipeline$", "externalizeHtml", "extract.externalize"),
    ("graft.pipeline.ExtractPipeline$", "withProvenance", "extract.provenance"),
    ("graft.pipeline.ExtractPipeline$", "tagged", "rdf.tag"),
    ("graft.rdf.Repair$", "", "rdf.tag"),
    ("graft.rdf.Validation$", "", "rdf.tag"),
    ("graft.pipeline.ExtractPipeline$", "withTtlLine", "rdf.serialize"),
    ("graft.rdf.NTriples$", "", "rdf.serialize"),
    ("graft.sources.PageSource$", "", "pagesource.read"),
    ("graft.pipeline.TaskStore$", "", "taskstore.load"),
    ("graft.pipeline.ImportService$", "writeState", "state.swap"),
    ("graft.pipeline.ImportService$", "readState", "state.read"),
    ("graft.pipeline.ImportService$", "recoverState", "service.recover"),
    ("graft.pipeline.ImportService$", "start", "service.recover"),
    ("graft.streaming.DeltaSource$", "", "delta"))

  private def actionInside(stack: Array[StackTraceElement], i: Int): String =
    (i - 1 to 0 by -1).map(stack(_)).find(f =>
      f.getClassName.startsWith("org.apache.spark.sql.") &&
        f.getClassName.endsWith(".Dataset")).map(_.getMethodName).getOrElse("")

  /** The innermost engine frame of `stack` (innermost first, as
    * `Thread.getStackTrace` gives it), as `class.method`, or None. */
  def innermostEngineFrame(stack: Array[StackTraceElement]): Option[String] =
    stack.find(_.getClassName.startsWith("graft."))
      .map(f => f.getClassName + "." + f.getMethodName)

  /** The innermost engine frame decides. The orchestrator and the batch
    * function are layers only for the work they do themselves (plan
    * building, and the Spark action they are inside of); an engine frame
    * that no rule names is charged to [[Unattributed]], whatever calls it. */
  def layerOf(stack: Array[StackTraceElement]): String = {
    val i = stack.indexWhere(_.getClassName.startsWith("graft."))
    if (i < 0) return "delta"
    val cls = stack(i).getClassName
    val bare = stack(i).getMethodName.stripPrefix("$anonfun$")
    if (cls == "graft.pipeline.ImportPipeline$" && bare.startsWith("runImportPipeline"))
      if (actionInside(stack, i) == "collect") "taskstore.load" else "pipeline.orchestrate"
    else if (cls == "graft.pipeline.ImportService$" && bare.startsWith("start$"))
      if (actionInside(stack, i) == "localCheckpoint") "state.checkpoint" else "delta"
    else rules.collectFirst {
      case (c, p, layer) if c == cls && bare.startsWith(p) => layer
    }.getOrElse(Unattributed)
  }

  /** Collapse time-ordered (time, layer) samples into layer segments that
    * tile `[start, end)`: each sample holds until the next one. */
  def segments(samples: Seq[(Long, String)], start: Long, end: Long): Seq[(String, Long, Long)] = {
    val in = samples.filter { case (t, _) => t >= start && t < end }
    if (in.isEmpty) return Seq(("delta", start, end))
    val out = mutable.ArrayBuffer[(String, Long, Long)]()
    in.zipWithIndex.foreach { case ((t, layer), i) =>
      val from = if (i == 0) start else t
      val to = if (i + 1 < in.size) in(i + 1)._1 else end
      if (out.nonEmpty && out.last._1 == layer) out(out.size - 1) = out.last.copy(_3 = to)
      else if (to > from) out += ((layer, from, to))
    }
    out.toSeq
  }

  /** Split the time of layers whose work runs fused inside another
    * layer's Spark job. `fused` maps the enclosing layer to the layers it
    * computes; each of those takes its isolated cost once per task
    * (`own(layer) * times`), all scaled down alike when together they
    * exceed the enclosing layer's time. Returns the new per-layer totals. */
  def splitFused(totals: Map[String, Double], fused: Seq[(String, Seq[String])],
      own: Map[String, Double], times: Int): Map[String, Double] = {
    val t = mutable.Map[String, Double]() ++ totals
    fused.foreach { case (parent, layers) =>
      val have = t.getOrElse(parent, 0.0)
      val want = layers.map(l => own.getOrElse(l, 0.0) * times).sum
      val scale = if (want > have) have / want else 1.0
      layers.foreach(l => t(l) = t.getOrElse(l, 0.0) + own.getOrElse(l, 0.0) * times * scale)
      t(parent) = math.max(0.0, have - want * scale)
    }
    t.toMap
  }
}

/** Samples one thread's stack at a fixed period and records the layer it
  * is in. The benchmark points it at the thread running the service: the
  * caller of `ImportService.start` during setup, the stream's execution
  * thread during the import. */
final class StackSampler(periodMs: Long) extends Thread("importbench-sampler") {
  setDaemon(true)
  @volatile var target: Thread = _
  @volatile private var running = true
  private val buf = mutable.ArrayBuffer[(Long, String)]()
  private val unmatched = mutable.Map[String, Int]().withDefaultValue(0)

  def samples: Seq[(Long, String)] = buf.synchronized(buf.toSeq)
  def halt(): Unit = { running = false; join() }

  /** Innermost engine frames of the unattributed samples, with counts,
    * most frequent first: what a missing rule would have to name. */
  def unmatchedFrames: Seq[(String, Int)] =
    buf.synchronized(unmatched.toSeq.sortBy(-_._2))

  override def run(): Unit = while (running) {
    val t = target
    if (t != null) {
      val stack = t.getStackTrace
      val layer = Attribution.layerOf(stack)
      buf.synchronized {
        buf += ((System.currentTimeMillis(), layer))
        if (layer == Attribution.Unattributed)
          Attribution.innermostEngineFrame(stack).foreach(unmatched(_) += 1)
      }
    }
    Thread.sleep(periodMs)
  }
}

/** The benchmark's own Spark listener: per-job wall time, task counts and
  * task metrics. */
final class JobLog extends SparkListener {
  import JobLog.Job
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageToJob = mutable.Map[Int, Job]()

  def snapshot: Seq[Job] = synchronized(jobs.values.toSeq)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val result = e.stageInfos.maxBy(_.stageId)
    val j = new Job(e.jobId, e.time, result.name, result.numTasks)
    jobs(e.jobId) = j
    e.stageInfos.foreach(s => stageToJob(s.stageId) = j)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageToJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
}

object JobLog {
  final class Job(val id: Int, val start: Long, val name: String,
      val resultStageTasks: Int) {
    var end: Long = start
    var tasks = 0
    var maxTaskMs = 0L
    var cpuNs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    def ms: Long = end - start
  }
}

/** Counts whole-stage codegen fallbacks ("Code grows beyond 64 KB" and
  * the like), which Spark only reports as a log warning. */
object CodegenFallbacks {
  private val n = new java.util.concurrent.atomic.AtomicLong()
  def count: Long = n.get()

  def install(): Unit = {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val appender = new AbstractAppender("importbench-codegen-fallbacks", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("Whole-stage codegen disabled"))
          n.incrementAndGet()
    }
    appender.start()
    val ctx = org.apache.logging.log4j.LogManager.getContext(false)
      .asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(appender, null, null)
    ctx.updateLoggers()
  }
}
