package importbench

import graft.pipeline.ImportService
import graft.rdf.Vocab
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Import-service benchmark: drives `ImportService.start` — startup
  * recovery, then the delta stream dispatching
  * `ImportPipeline.runImportPipeline` with its real TTL and HTML sinks,
  * registration and state swap — over seeded inputs, and checks every
  * import against the generator's expected outputs.
  *
  *   importbench.Main --workload <name> --seed <n> --seconds <s>
  *                    --trace <0|1> --work <dir>
  *
  * A run writes the pages, starts the service three times on fresh
  * copies of the initial state (each a new session; the median is the
  * set-up time) and keeps the last one. It then drops one warm-up delta,
  * and measured deltas one at a time until `seconds` have passed (at
  * least one). With `--trace 1` every second measured delta is traced,
  * and an isolated pass splits the layers that run fused in one Spark
  * job. Prints one JSON line of metrics last on stdout. */
object Main {

  final case class Args(workload: Workload, seed: Long, seconds: Int,
      trace: Boolean, work: Path)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(Workloads.byName(need("--workload")), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", Paths.get(need("--work")))
  }

  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvm0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[importbench] phase $name at ${(System.nanoTime() - jvm0) / 1e9}%.1f s")
    val corpus = a.workload.build(a.seed)
    val env = new Env(a, corpus)
    env.writePages()
    phase("pages written")

    val setupS = (1 to Setups).map(i => env.setup(keep = i == Setups))
    phase("set up")
    env.drop(0, traced = false)
    phase("warmed up")
    val t0 = System.nanoTime()
    val measured = mutable.ArrayBuffer[Env.Dropped]()
    // a traced run needs an untraced and a traced delta
    val minDeltas = if (a.trace) 2 else 1
    while (measured.size < minDeltas || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      require(measured.size + 1 < corpus.deltas.size, "ran out of planned deltas")
      // trace mode traces every second delta, so the tracing overhead is
      // measured in the same run
      measured += env.drop(measured.size + 1, traced = a.trace && measured.size % 2 == 1)
    }
    env.stopService()
    phase("measured")
    val scheduled = corpus.deltas.take(measured.size + 1).flatten
    val (failed, problems) = env.verify(scheduled)
    problems.take(20).foreach(p => System.err.println(s"CHECK FAILED: $p"))

    val untraced = measured.filter(!_.traced).toSeq
    val importS = median(untraced.map(_.seconds))
    val busyS = untraced.map(_.seconds).sum
    val metrics =
      if (!a.trace) Metrics.ordered(Metrics.EndToEnd, Map(
        "setup_s" -> median(setupS),
        "import_s" -> importS,
        "pages_per_s" -> untraced.map(_.tasks.map(_.pages.size).sum).sum / busyS,
        "quads_per_s" -> untraced.map(_.tasks.flatMap(_.pages)
          .map(_.lines("valid")).sum).sum / busyS,
        "rss_peak_mb" -> Env.rssPeakMb))
      else {
        val traced = median(measured.filter(_.traced).map(_.seconds).toSeq)
        Metrics.ordered(Metrics.PerLayer, env.layerMetrics() ++ Map(
          "trace.import_s" -> traced,
          "trace.overhead_s" -> (traced - importS)))
      }

    System.err.println(s"[importbench] ${a.workload.name} seed=${a.seed} " +
      s"deltas=${untraced.size}+${measured.size - untraced.size} traced " +
      s"import_s=${untraced.map(d => f"${d.seconds}%.2f").mkString("/")} " +
      s"setup_s=${setupS.map(s => f"$s%.2f").mkString("/")} " +
      s"gc_s=${Env.gcSeconds} " +
      f"failed_task_ratio=${failed.toDouble / scheduled.size}%.3f")
    env.writeTrace()
    env.isolatedProblems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    val correct = failed == 0 && env.isolatedProblems.isEmpty
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": ${scheduled.size}, """ +
      s""""failed": $failed, "metrics": {$metricJson}}""")
    env.close()
    sys.exit(0)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}

/** One run's inputs, working directories and the running service. */
final class Env(a: Main.Args, corpus: Corpus) {
  import Env._
  private val work = a.work
  private val pagesDir = work.resolve("pages")
  private val template = work.resolve("initial-state")
  private val cpus = Runtime.getRuntime.availableProcessors().toString
  private val debug = a.workload.debug
  private var spark: SparkSession = _
  private var query: StreamingQuery = _
  private var serviceDir: Path = _
  private var streamThread: Thread = _
  private var stateRows = 0L
  /** Failed checks of the isolated pass (traced runs only). */
  var isolatedProblems: Seq[String] = Nil

  // tracing: one sampler for the run, pointed at the service's thread
  // only while something traced runs
  private val sampler = if (a.trace) Some(new StackSampler(SamplePeriodMs)) else None
  sampler.foreach(_.start())
  private val jobs = new JobLog
  private val spans = new Spans
  private val setupSpans = mutable.ArrayBuffer[Span]()
  private val deltaSpans = mutable.ArrayBuffer[Span]()
  private val dispatchLagsS = mutable.ArrayBuffer[Double]()
  private val batches = new java.util.concurrent.atomic.AtomicInteger()

  private def session(): SparkSession = {
    val s = graft.Sessions.localBuilder(cpus).appName("importbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def writePages(): Unit = {
    Files.createDirectories(pagesDir)
    corpus.dirPages.foreach(p =>
      Files.write(pagesDir.resolve(p.fileName), p.html.getBytes(UTF_8)))
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).iterator().asScala.foreach { p =>
      Files.copy(p, to.resolve(from.relativize(p).toString),
        StandardCopyOption.REPLACE_EXISTING)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .iterator().asScala.foreach(Files.delete)

  /** Stop whatever runs, then time a new session plus `ImportService.start`
    * on a fresh copy of the initial state. The first set-up also writes
    * that initial state, with its new session but outside the timing.
    * `keep` leaves the service running for the deltas. Returns seconds. */
  def setup(keep: Boolean): Double = {
    stopService()
    if (spark != null) spark.stop()
    if (serviceDir != null) deleteTree(serviceDir)
    serviceDir = work.resolve(s"service-${System.nanoTime()}")
    Files.createDirectories(serviceDir)
    Files.createDirectories(serviceDir.resolve("deltas"))
    Files.createDirectories(serviceDir.resolve("staging"))

    val t0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    spark = session()
    val sessionS = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    if (!Files.exists(template)) {
      // after the first session has configured logging
      CodegenFallbacks.install()
      Workloads.initialState(spark, corpus).coalesce(1).write.parquet(template.toString)
    }
    copyTree(template, serviceDir.resolve("state"))

    sampler.foreach(_.target = Thread.currentThread())
    val s0 = System.currentTimeMillis(); val n1 = System.nanoTime()
    query = ImportService.start(spark, serviceDir.resolve("deltas").toString,
      serviceDir.resolve("ckpt").toString, serviceDir.resolve("state").toString,
      pagesDir.toString, serviceDir.resolve("out").toString, () => Gen.Now, debug)
    val seconds = sessionS + (System.nanoTime() - n1) / 1e9
    val s1 = System.currentTimeMillis()
    sampler.foreach { smp =>
      smp.target = null
      val root = spans.add("setup", t0, s1, -1, -1 - setupSpans.size)
      setupSpans += root
      spans.add("spark.session", t0, t1, root.id, root.trace)
      val start = spans.add("service.start", s0, s1, root.id, root.trace)
      Attribution.segments(smp.samples, s0, s1).foreach { case (layer, a0, a1) =>
        spans.add(layer, a0, a1, start.id, root.trace) }
    }
    if (keep) {
      streamThread = Thread.getAllStackTraces.keySet.asScala.find(th =>
        th.getName.startsWith("stream execution thread") &&
          th.getName.contains(query.runId.toString)).orNull
      if (a.trace) spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        def onQueryStarted(e: QueryStartedEvent): Unit = ()
        def onQueryProgress(e: QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) batches.incrementAndGet()
        def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      })
    } else stopService()
    seconds
  }

  /** Drop delta `i` and wait until the stream has processed it: its tasks
    * imported and the state swapped. */
  def drop(i: Int, traced: Boolean): Dropped = {
    val tasks = corpus.deltas(i)
    val f = serviceDir.resolve("staging").resolve(s"delta-$i.json")
    Files.write(f, (Gen.delta(tasks) + "\n").getBytes(UTF_8))
    if (traced) sampler.foreach(_.target = streamThread)
    val m0 = System.currentTimeMillis(); val d0 = System.nanoTime()
    Files.move(f, serviceDir.resolve("deltas").resolve(f.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    query.processAllAvailable()
    val seconds = (System.nanoTime() - d0) / 1e9
    val m1 = System.currentTimeMillis()
    if (traced) sampler.foreach { smp =>
      smp.target = null
      val d = spans.add("delta.batch", m0, m1, -1, i)
      deltaSpans += d
      val segs = Attribution.segments(smp.samples, m0, m1)
      segs.foreach { case (layer, a0, a1) => spans.add(layer, a0, a1, d.id, i) }
      segs.find(_._1 != "delta").foreach { case (_, a0, _) => dispatchLagsS += (a0 - m0) / 1e3 }
    }
    Dropped(tasks, seconds, traced)
  }

  def stopService(): Unit = if (query != null) { query.stop(); query = null }

  // ---------------------------------------------------------------- checks

  private def sha1Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  private def lineCount(d: Path): Long =
    if (!Files.isDirectory(d)) 0L
    else Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(f => Files.readAllBytes(f).count(_ == '\n').toLong).sum

  private def htmlNames(d: Path): Set[String] =
    if (!Files.isDirectory(d)) Set.empty
    else Files.list(d).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".html")).toSet

  /** Checks every scheduled task against the generator's expectations:
    * status success, lines per TTL partition, side files by name, the
    * file names registered in its file container, and registered sizes
    * equal to the bytes written. Returns (failed tasks, problems). */
  def verify(scheduled: Seq[Gen.Task]): (Int, Seq[String]) = {
    val stateDf = spark.read.parquet(serviceDir.resolve("state").toString)
    stateRows = stateDf.count()
    val st = stateDf
      .filter(col("predicate").isin(Vocab.admsStatus, Vocab.nfoFileName,
        Vocab.nfoFileSize, Vocab.taskHasFile))
      .select("subject", "predicate", "obj").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def byPredicate(p: String) = st.filter(_._2 == p).map(r => r._1 -> r._3)
    val status = byPredicate(Vocab.admsStatus).toMap
    val name = byPredicate(Vocab.nfoFileName).toMap
    val size = byPredicate(Vocab.nfoFileSize).toMap
    val hasFile = byPredicate(Vocab.taskHasFile).groupBy(_._1)
    val problems = mutable.ArrayBuffer[String]()
    val failed = scheduled.count { t =>
      val before = problems.size
      val dir = serviceDir.resolve("out").resolve(sha1Hex(t.uri))
      if (!status.get(t.uri).contains(Vocab.statusSuccess))
        problems += s"${t.uri}: status ${status.get(t.uri)}"
      Gen.parts(debug).foreach { part =>
        val want = t.pages.map(_.lines(part).toLong).sum
        val got = lineCount(dir.resolve("ttl").resolve(part))
        if (got != want) problems += s"${t.uri}: $part lines $got, expected $want"
      }
      // the task's file container (FileRegistry's content-derived id)
      val container = "http://redpencil.data.gift/id/dataContainers/" +
        sha1Hex(t.uri + "/files")
      val files = hasFile.getOrElse(container, Array.empty).map(_._2)
      val names = files.flatMap(name.get).toSet
      val want = t.pages.flatMap(_.registeredNames(debug)).toSet
      if (names != want)
        problems += s"${t.uri}: registered ${(names -- want).take(2)} unexpected, " +
          s"${(want -- names).take(2)} missing"
      val registeredBytes = files.filter(f => name.get(f).exists(_.endsWith("-valid.ttl")))
        .flatMap(size.get).map(_.toLong).sum
      val wrote = Isolated.bytesUnder(dir.resolve("ttl").resolve("valid"))
      if (registeredBytes != wrote)
        problems += s"${t.uri}: registered $registeredBytes bytes, wrote $wrote"
      val html = htmlNames(dir.resolve("html"))
      if (html != t.pages.flatMap(_.htmlFiles).toSet)
        problems += s"${t.uri}: ${html.size} html files, expected ${t.pages.map(_.htmlFiles.size).sum}"
      problems.size > before
    }
    (failed, problems.toSeq)
  }

  // --------------------------------------------------------- traced layers

  /** Per-layer metrics of a traced run. Wall time is charged to layers by
    * sampling the stack of the thread running the service. The layers
    * that run fused inside another layer's Spark job (page read,
    * extraction, externalization, provenance, verdict tagging and
    * serialization inside the first TTL write, and again inside the HTML
    * write; registration inside the state checkpoint) are split out with
    * the times of the isolated pass. Times are medians over the traced
    * deltas. */
  def layerMetrics(): Map[String, Double] = {
    org.apache.spark.importbench.ListenerBus.drain(spark.sparkContext)
    val allJobs = jobs.snapshot
    val iso = new Isolated(spark, corpus.deltas(1).head, template, pagesDir,
      Isolated.utf8Bytes(corpus.dirPages), work.resolve("isolated"), debug).run()
    isolatedProblems = iso.problems.toSeq
    sampler.foreach(_.unmatchedFrames.take(10).foreach { case (f, n) =>
      System.err.println(s"[importbench] unattributed: $n samples in $f") })
    val children = spans.all.groupBy(_.parent)
    val perDelta = deltaSpans.toSeq.map { d =>
      val segs = children.getOrElse(d.id, Nil)
      val self = Attribution.splitFused(
        (Spans.selfByName(d +: segs) - d.name).map { case (n, ms) => n -> ms / 1e3 },
        Isolated.Fused, iso.times.toMap, corpus.deltas(d.trace).size)
      val jobsIn = allJobs.filter(j => j.start >= d.start && j.start < d.end)
      val jobWall = jobsIn.map(_.ms).sum.toDouble
      def layerAt(time: Long) = segs.find(s => s.start <= time && time < s.end)
        .map(_.name).getOrElse("")
      val htmlJob = jobsIn.filter(j => layerAt(j.start) == "sink.html")
        .sortBy(_.start).lastOption
      val named = self.filter(_._1 != Attribution.Unattributed).values.sum
      Map(
        "trace.coverage" -> named * 1e3 / d.ms,
        "spark.jobs" -> jobsIn.size.toDouble,
        "spark.tasks" -> jobsIn.map(_.tasks).sum.toDouble,
        "spark.shuffle_bytes" -> jobsIn.map(_.shuffleBytes).sum.toDouble,
        "spark.spill_bytes" -> jobsIn.map(_.spillBytes).sum.toDouble,
        "spark.executor_cpu_s" -> jobsIn.map(_.cpuNs).sum / 1e9,
        "spark.driver_gap_s" -> (d.ms - Spans.covered(
          jobsIn.map(j => (j.start, j.end)), d.start, d.end)) / 1e3,
        "spark.max_task_share" -> (if (jobWall > 0) jobsIn.map(_.maxTaskMs).sum / jobWall else 0.0),
        "sink.html_write_tasks" -> htmlJob.map(_.resultStageTasks.toDouble).getOrElse(0.0)
      ) ++ Metrics.SelfTimes.map { case (m, layer) => m -> self.getOrElse(layer, 0.0) }
    }
    // set-up: what `ImportService.start` does before the stream starts
    // is recovery
    val recoverS = setupSpans.toSeq.map { s =>
      val start = children(s.id).find(_.name == "service.start").get
      (start.ms - children.getOrElse(start.id, Nil)
        .filter(_.name == "delta").map(_.ms).sum) / 1e3
    }
    val keys = perDelta.head.keySet
    keys.map(k => k -> Main.median(perDelta.map(_(k)))).toMap ++ Map(
      "service.recover_s" -> Main.median(recoverS),
      "delta.batches" -> batches.get().toDouble,
      "delta.dispatch_lag_s" -> Main.median(dispatchLagsS.toSeq),
      "state.rows" -> stateRows.toDouble,
      "rdf.codegen_fallbacks" -> CodegenFallbacks.count.toDouble) ++ iso.counts
  }

  def writeTrace(): Unit = if (a.trace) {
    val dir = work.getParent.resolve("traces")
    Files.createDirectories(dir)
    val f = dir.resolve(s"${a.workload.name}-seed${a.seed}.json")
    val jobJson = jobs.snapshot.map(j =>
      s"""{"job":${j.id},"name":"${j.name.replace("\"", "'")}","start":${j.start},""" +
        s""""end":${j.end},"tasks":${j.tasks}}""")
    Files.write(f, (s"""{"spans":${spans.toJson},\n"jobs":""" +
      jobJson.mkString("[\n", ",\n", "\n]") + "}\n").getBytes(UTF_8))
    System.err.println(s"[importbench] spans written to $f")
  }

  def close(): Unit = {
    sampler.foreach(_.halt())
    stopService()
    if (spark != null) spark.stop()
    deleteTree(work)
  }
}

object Env {
  val SamplePeriodMs = 5L

  final case class Dropped(tasks: Seq[Gen.Task], seconds: Double, traced: Boolean)

  /** Time this JVM has spent in garbage collection so far. */
  def gcSeconds: Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def rssPeakMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
}
