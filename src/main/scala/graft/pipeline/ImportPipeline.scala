package graft.pipeline

import graft.sources.PageSource
import graft.rdf.Vocab
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end task orchestrator — the reference's `run(deltaEntry)`
  * (lib/pipeline-import.js:28-117) composed from the layer operators:
  *
  *   loadExtractionTask → busy → inputPages → extract/validate/repair →
  *   write TTL (+ debug TTLs) + externalized HTML → register file
  *   metadata + containers → success; any failure after task load →
  *   error record + failed (T5).
  *
  * Differences from the reference, by design (each one documented at the
  * operator that owns it):
  *   - one DataFrame DAG instead of a sequential per-page loop — all
  *     pages extract/validate in parallel; per-page error isolation (T4)
  *     lives inside the flatMap;
  *   - per-verdict partitioned *directories* instead of per-page files
  *     (a file per page at 100 TB is a small-files problem); the
  *     registration stays per page, so the metadata graph is identical
  *     in shape;
  *   - URIs/uuids content-derived instead of uuid()-minted → idempotent
  *     re-runs (the reference re-mints on every run).
  *
  * Scale note on the driver-side manifest: the page list and per-page
  * byte sizes are collected to the driver. That is the task-METADATA
  * cardinality (one row per page per task — the reference holds the same
  * set in a JS `Set`, lib/pipeline-import.js:127), not the triple
  * cardinality; the extracted quads themselves never leave executors.
  * The extraction DAG is persisted across the sink actions so the
  * flatMap runs once, and unpersisted before returning — the returned
  * quad state has no lineage into it.
  */
object ImportPipeline {

  /** Outcome summary: the new quad-table state plus what happened —
    * callers own the write of `quads` (partition overwrite / MERGE). */
  final case class ImportResult(quads: DataFrame, status: String,
      nPages: Long, error: Option[String])

  /** F3 basename (lib/file-helpers.js:16-18, `path.parse(path).name`),
    * node-verified on the edges: trailing slashes are ignored
    * ("a/b/" → "b"), a leading-dot base keeps its dot (".env" → ".env" —
    * the extension starts at the last dot only when it isn't char 0),
    * and ".." is special-cased whole ("..." → ".."). */
  private[pipeline] def basename(uri: String): String = {
    val noSlash = uri.reverse.dropWhile(_ == '/').reverse
    val base = noSlash.substring(noSlash.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0 && base != "..") base.substring(0, dot) else base
  }

  /** Per-page manifest for one verdict partition: file name
    * `<basename>-<part>.ttl` (reference: `${basename}-valid.ttl` etc.,
    * lib/pipeline-import.js:75,85,92,99), size = serialized bytes
    * (reference stats the written file, lib/file-helpers.js:104-105).
    * One row per page even when a page yields zero lines of that
    * verdict — the reference writes (and registers) empty files too. */
  private def manifest(spark: SparkSession, pages: Seq[String],
      sizes: Map[String, Long], part: String, taskUri: String,
      graph: String): DataFrame = {
    import spark.implicits._
    pages.map { p =>
      (taskUri, graph, s"${basename(p)}-$part.ttl",
        sizes.getOrElse(p, 0L), p)
    }.toDF("task", "graph", "file_name", "size", "derived_from")
  }

  /** Serialized size per partition and page: Σ per line (UTF-8 bytes +
    * newline) — what `stat(path).size` of the written text file reports.
    * Every partition in one aggregate, one conditional sum each; keyed
    * partition → page → bytes. */
  private def sizesByPage(lines: DataFrame,
      parts: Seq[(String, String, Column)]): Map[String, Map[String, Long]] = {
    val sums = parts.map { case (part, line, keep) =>
      sum(when(keep, octet_length(col(line)) + lit(1)).otherwise(lit(0L))).as(part)
    }
    val rows = lines.groupBy(col("url")).agg(sums.head, sums.tail: _*).collect()
    parts.map { case (part, _, _) =>
      part -> rows.map(r => r.getString(0) -> r.getAs[Long](part)).toMap
    }.toMap
  }

  /** Run the import pipeline for one scheduled task (lib/pipeline-import
    * .js:28-117). `quads` is the current metadata store; `pagesDir` holds
    * the harvested HTML (the reference resolves page URIs to /share paths
    * through S8 — here PageSource reads the directory and the page set is
    * restricted to the task's input pages by a semi-join); `outDir`
    * receives the TTL partitions and externalized HTML. Returns the new
    * quad-table state; nothing in `quads` is mutated. */
  def runImportPipeline(spark: SparkSession, quads: DataFrame, taskUri: String,
      pagesDir: String, outDir: String, nowIso: String,
      writeDebug: Boolean = false): ImportResult = {
    // S4/J2/P7 task load; empty ⇔ reference's `if (!task) return`
    val task = TaskStore.loadExtractionTask(quads, taskUri).collect()
    if (task.isEmpty)
      return ImportResult(quads, "not_a_task", 0L, None)
    val graph = Option(task.head.getAs[String]("task_graph"))
      .getOrElse("http://mu.semte.ch/graphs/harvesting")

    val busy = TaskStore.transitionStatus(quads, taskUri,
      Vocab.statusBusy, nowIso, Some(graph))
    try {
      // J1/D1 page enumeration (count-then-paginate is obsolete under
      // Spark, SURVEY O1 — the task's page set is metadata-sized)
      val pages = TaskStore.inputPages(busy, taskUri)
        .as[String](org.apache.spark.sql.Encoders.STRING).collect().toSeq

      // S2/S3 read restricted to this task's pages — broadcast left-semi
      // join, not an In-list of thousands of string literals (literal
      // In expressions blow up plan/codegen size with the page count)
      val pageSet = spark.createDataset(pages)(
        org.apache.spark.sql.Encoders.STRING).toDF("url")
      val pageHtml = PageSource.readPages(spark, pagesDir)
        .join(broadcast(pageSet), Seq("url"), "left_semi")

      // G1-G4 + P4/D5: extract, externalize, provenance, verdict-tag,
      // serialize; only what the sinks read is persisted
      val raw = ExtractPipeline.extractQuads(spark, pageHtml)
      val (externalized, htmlFiles) = ExtractPipeline.externalizeHtml(raw)
      val lineCols = Seq("url", "verdict", "ttl") ++
        (if (writeDebug) Seq("original") else Nil)
      val lines = ExtractPipeline.withTtlLine(
          ExtractPipeline.tagged(ExtractPipeline.withProvenance(externalized)),
          original = writeDebug)
        .select(lineCols.map(col): _*)
        .persist()
      try {
        // K1/K9 sinks
        ExtractPipeline.writeTtl(lines, s"$outDir/ttl", writeDebug)
        ExtractPipeline.writeHtmlFiles(htmlFiles, s"$outDir/html")

        // K2-K4 registration: valid files into all three containers,
        // debug files into the file container only
        // (lib/pipeline-import.js:75-106)
        val parts = ExtractPipeline.ttlParts(writeDebug)
        val sizes = sizesByPage(lines, parts)
        val minted = parts.map { case (part, _, _) =>
          val m = manifest(spark, pages, sizes(part), part, taskUri, graph)
          FileRegistry.fileMetadataQuads(m, nowIso).unionByName(
            if (part == "valid") FileRegistry.containerQuads(m)
            else FileRegistry.debugContainerQuads(m))
        }.reduce(_ unionByName _)
        // INSERT DATA into a triplestore has set semantics: the container
        // entity re-asserted per append collapses (distinct), and quads
        // already present in the store — a replayed batch, a re-scheduled
        // task re-minting the same content-addressed entities — must not
        // append again (left-anti vs the current state). Metadata-sized
        // join; the pre-existing store's own contents are untouched.
        val registered = busy.unionByName(
          minted.distinct().join(busy,
            Seq("subject", "predicate", "obj", "graph"), "left_anti"))

        val done = TaskStore.transitionStatus(registered, taskUri,
          Vocab.statusSuccess, nowIso, Some(graph))
        ImportResult(done, "success", pages.size.toLong, None)
      } finally lines.unpersist()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // T5 (lib/pipeline-import.js:110-116): error record + failed
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        val failed = TaskStore.transitionStatus(
          TaskStore.appendError(busy, taskUri, msg),
          taskUri, Vocab.statusFailed, nowIso, Some(graph))
        ImportResult(failed, "failed", 0L, Some(msg))
    }
  }
}
