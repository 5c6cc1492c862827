package importbench

import graft.pipeline.{ExtractPipeline, ImportPipeline}
import graft.rdf.Vocab
import graft.sources.PageSource
import graft.streaming.DeltaSource
import importbench.Gen._
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The generator's arithmetic against the real pipeline on a 3-page
  * corpus that carries every literal form and `rdf:HTML` bodies. */
class ExpectedOutputsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = graft.Sessions.localBuilder("2").appName("importbench-spec").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val shape = PageShape(decisions = 3, litsPerDecision = 16,
    forms = validForms ++ correctedForms ++ invalidForms, bodyEvery = 2, bodyWords = 5)
  private val pages = (0 until 3).map(i => Gen.page(5L, f"page-$i%05d", shape))
  private val task = Gen.task(5L, 0, pages)

  private def lines(d: Path): Long =
    if (!Files.isDirectory(d)) 0L
    else Files.list(d).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .map(f => Files.readAllLines(f, UTF_8).size.toLong).sum

  test("verdict counts match the extraction pipeline") {
    val session = spark
    import session.implicits._
    val df = pages.map(p => (p.url, p.html)).toDF("url", "html")
    val counts = ExtractPipeline.run(spark, df).groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("valid", 0L) == pages.map(_.valid).sum)
    assert(counts.getOrElse("corrected", 0L) == pages.map(_.corrected).sum)
    assert(counts.getOrElse("invalid", 0L) == pages.map(_.invalid).sum)
  }

  test("expected lines, side files and registrations match runImportPipeline") {
    val session = spark
    import session.implicits._
    val root = Files.createTempDirectory("importbench-spec")
    val pagesDir = Files.createDirectories(root.resolve("pages"))
    pages.foreach(p => Files.write(pagesDir.resolve(p.fileName), p.html.getBytes(UTF_8)))
    assert(PageSource.readPages(spark, pagesDir.toString).select("url").as[String]
      .collect().toSet == pages.map(_.url).toSet)

    val state = Gen.taskQuads(task).toDF("subject", "predicate", "obj", "graph")
    val out = root.resolve("out")
    val r = ImportPipeline.runImportPipeline(spark, state, task.uri,
      pagesDir.toString, out.toString, Gen.Now, writeDebug = true)
    assert(r.status == "success", r.error)
    for (part <- Gen.parts(debug = true))
      assert(lines(out.resolve("ttl").resolve(part)) == pages.map(_.lines(part)).sum, part)
    val html = Files.list(out.resolve("html")).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".html")).toSet
    assert(html == pages.flatMap(_.htmlFiles).toSet)
    val names = r.quads.filter(col("predicate") === Vocab.nfoFileName)
      .select("obj").as[String].collect().filterNot(_.matches("[0-9a-f]{40}\\.ttl")).toSet
    assert(names == pages.flatMap(_.registeredNames(debug = true)).toSet)
  }

  test("a delta body schedules exactly its tasks") {
    val session = spark
    import session.implicits._
    val tasks = Seq(Gen.task(2L, 0, pages), Gen.task(2L, 1, pages.take(1)))
    val got = DeltaSource.scheduledTasks(Seq(Gen.delta(tasks)).toDF("body"))
      .as[String].collect().toSet
    assert(got == tasks.map(_.uri).toSet)
  }
}
