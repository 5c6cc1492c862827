package importbench

import graft.pipeline.{ExtractPipeline, FileRegistry, TaskStore}
import graft.sources.PageSource
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The isolated pass over one measured task's pages: each layer's public
  * function called from here, its output persisted and materialized
  * before the next layer runs, so each timing is that layer's own work.
  * It runs after the traced deltas, with the JVM warm; the generated code
  * of its own plans is compiled afresh, as the service's first import
  * compiled its plans. Also times the HTML parser and the RDFa walk per
  * page in the driver, and counts what each layer produced.
  *
  * `dirBytes` is the generated size of the whole pages directory: the
  * bytes the page scan reports must lie between the task's own pages and
  * that, or the run fails. */
final class Isolated(spark: SparkSession, task: Gen.Task, stateDir: Path,
    pagesDir: Path, dirBytes: Long, out: Path, debug: Boolean) {

  val times = scala.collection.mutable.Map[String, Double]()
  val counts = scala.collection.mutable.Map[String, Double]()
  /** Checks of the isolated pass that failed; any fails the run. */
  val problems = scala.collection.mutable.ArrayBuffer[String]()

  private def timed[A](name: String)(f: => A): A = {
    val n0 = System.nanoTime(); val r = f
    times(name) = (System.nanoTime() - n0) / 1e9; r
  }

  private def held(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  def run(): Isolated = {
    layers(out)
    htmlLayer()
    this
  }

  private def layers(dir: Path): Unit = {
    val session = spark
    import session.implicits._
    val state = held(spark.read.parquet(stateDir.toString))
    val pages = timed("taskstore.load") {
      TaskStore.loadExtractionTask(state, task.uri).collect()
      TaskStore.inputPages(state, task.uri).collect().map(_.getString(0)).toSeq
    }
    def read() = PageSource.readPages(spark, pagesDir.toString)
      .join(broadcast(pages.toDF("url")), Seq("url"), "left_semi")
    val pageHtml = timed("pagesource.read")(held(read()))
    val raw = timed("extract.extract")(held(ExtractPipeline.extractQuads(spark, pageHtml)))
    val (ext, htmlFiles) = timed("extract.externalize") {
      val (e, h) = ExtractPipeline.externalizeHtml(raw); (held(e), held(h)) }
    val prov = timed("extract.provenance")(held(ExtractPipeline.withProvenance(ext)))
    val tagged = timed("rdf.tag")(held(ExtractPipeline.tagged(prov)))
    val lined = timed("rdf.serialize")(held(ExtractPipeline.withTtlLine(tagged)))
    timed("sink.ttl")(ExtractPipeline.writeTtl(lined, dir.resolve("ttl").toString, debug))
    timed("sink.html")(ExtractPipeline.writeHtmlFiles(htmlFiles, dir.resolve("html").toString))
    val (minted, appended) = timed("registry") {
      val sizes = lined.filter(col("verdict").isin("valid", "corrected"))
        .groupBy("url").agg(sum(octet_length(col("ttl")) + 1).as("size"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val quads = Gen.parts(debug).map { part =>
        val m = pages.map(p => (task.uri, Gen.TaskGraph, s"${Isolated.basename(p)}-$part.ttl",
          sizes.getOrElse(p, 0L), p))
          .toDF("task", "graph", "file_name", "size", "derived_from")
        FileRegistry.fileMetadataQuads(m, Gen.Now).unionByName(
          if (part == "valid") FileRegistry.containerQuads(m)
          else FileRegistry.debugContainerQuads(m))
      }.reduce(_ unionByName _)
      val distinctQuads = held(quads.distinct())
      (distinctQuads.count(), distinctQuads.join(state,
        Seq("subject", "predicate", "obj", "graph"), "left_anti").count())
    }

    val verdicts = tagged.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
    counts ++= Seq(
      "extract.quads" -> raw.count().toDouble,
      "extract.provenance_quads" -> (prov.count() - ext.count()).toDouble,
      "rdf.valid" -> verdicts.getOrElse("valid", 0.0),
      "rdf.corrected" -> verdicts.getOrElse("corrected", 0.0),
      "rdf.invalid" -> verdicts.getOrElse("invalid", 0.0),
      "sink.ttl_bytes" -> Gen.parts(debug).map(p =>
        Isolated.bytesUnder(dir.resolve("ttl").resolve(p))).sum.toDouble,
      "sink.html_files" -> Option(dir.resolve("html").toFile.list())
        .map(_.count(_.endsWith(".html"))).getOrElse(0).toDouble,
      "registry.quads_minted" -> minted.toDouble,
      "registry.quads_appended" -> appended.toDouble,
      "taskstore.pages" -> pages.size.toDouble)
    Seq(pageHtml, raw, ext, htmlFiles, prov, tagged, lined, state).foreach(_.unpersist())
    scanBytes(read())
  }

  /** Bytes the page scan reads, from its file scan's `filesSize` metric
    * on one more read, run once nothing is cached (a cached copy of the
    * same plan would replace the scan). The tasks' input bytes do not
    * serve: reading a persisted block back counts as input too. A scan
    * reads at least the task's own pages and at most the whole directory
    * once; outside that the byte count is not the scan's, and the run
    * fails. */
  private def scanBytes(read: DataFrame): Unit = {
    val probe = read.select(length(col("html")))
    probe.collect()
    val scans = Isolated.fileScans(probe.queryExecution.executedPlan)
    val ownBytes = Isolated.utf8Bytes(task.pages)
    val bytesRead = scans.map(_.metrics("filesSize").value).sum
    if (bytesRead < ownBytes || bytesRead > dirBytes)
      problems += s"page scan read $bytesRead bytes; the task's pages hold $ownBytes " +
        s"and the directory $dirBytes"
    counts ++= Seq(
      "pagesource.bytes_read" -> bytesRead.toDouble,
      "pagesource.scan_tasks" -> scans.map(_.inputRDD.getNumPartitions).sum.toDouble,
      "pagesource.read_amplification" -> bytesRead.toDouble / ownBytes)
  }

  /** The HTML layer alone, per page in the driver; the second pass is timed. */
  private def htmlLayer(): Unit = {
    val own = task.pages
    def perPageMs(f: Gen.Page => Any): Double = {
      own.foreach(f)
      val n0 = System.nanoTime(); own.foreach(f)
      (System.nanoTime() - n0) / 1e6 / own.size
    }
    var failed = 0
    val quads = own.map { p =>
      try graft.html.RdfaExtractor.extract(p.html, p.url).size
      catch { case scala.util.control.NonFatal(_) | _: StackOverflowError => failed += 1; 0 }
    }.sum
    counts ++= Seq(
      "html.parse_ms_per_page" -> perPageMs(p => graft.html.HtmlParser.parse(p.html)),
      "html.extract_ms_per_page" -> perPageMs(p => graft.html.RdfaExtractor.extract(p.html, p.url)),
      "html.quads_per_page" -> quads.toDouble / own.size,
      "html.failed_pages" -> failed.toDouble)
  }
}

object Isolated {

  /** Enclosing layer → the layers its Spark job computes, in order. */
  val Fused: Seq[(String, Seq[String])] = Seq(
    "sink.ttl" -> Seq("pagesource.read", "extract.extract", "extract.externalize",
      "extract.provenance", "rdf.tag", "rdf.serialize"),
    "sink.html" -> Seq("pagesource.read", "extract.extract", "extract.externalize"),
    "state.checkpoint" -> Seq("registry"))

  /** The file name without its extension (what the pipeline registers
    * result files under). */
  def basename(uri: String): String = {
    val base = uri.substring(uri.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  /** The file scans of an executed plan, looking through adaptive
    * execution's wrappers. */
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case o => o.children.flatMap(fileScans)
  }

  def utf8Bytes(pages: Seq[Gen.Page]): Long =
    pages.map(_.html.getBytes(UTF_8).length.toLong).sum

  def bytesUnder(d: Path): Long =
    if (!Files.isDirectory(d)) 0L
    else Files.list(d).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .map(Files.size).sum
}
