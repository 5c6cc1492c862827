package importbench

import graft.rdf.Vocab

/** Seeded input generator: harvested RDFa pages, the task state that
  * schedules imports over them, and the delta bodies that trigger those
  * imports. The page SHAPE (decision count, literal mix, body count) is
  * fixed by the workload; the seed only varies identifiers and text, so
  * every seed asks the engine for the same amount of work.
  *
  * Every page carries its expected import outcome, derived from how it
  * was built rather than from running the engine: one line per quad in
  * the verdict partitions, one side file per `rdf:HTML` body, and the
  * registered file names. [[Main]] checks each import against these. */
object Gen {

  sealed trait Verdict
  case object Valid extends Verdict
  case object Corrected extends Verdict
  case object Invalid extends Verdict

  /** A typed literal as it appears in the page: datatype CURIE, lexical
    * form, and the verdict the validator/repairer must give it. */
  final case class Lit(datatype: String, value: String, verdict: Verdict)

  final case class Decision(subject: String, title: String, lits: Seq[Lit],
      body: Option[String])

  final case class Page(name: String, decisions: Seq[Decision]) {
    /** The URL [[graft.sources.PageSource]] derives from the file name. */
    def url: String = s"share://$name.html"
    def fileName: String = s"$name.html"

    /** rdf:type, title and the provenance quad per decision, plus the
      * externalized body (an IRI after externalization) — all valid. */
    def valid: Int = decisions.map(d =>
      3 + d.body.size + d.lits.count(_.verdict == Valid)).sum
    def corrected: Int = decisions.map(_.lits.count(_.verdict == Corrected)).sum
    def invalid: Int = decisions.map(_.lits.count(_.verdict == Invalid)).sum

    /** Lines per TTL partition, with the reference's overlapping
      * contents: `valid` holds valid + repaired, `invalid` every
      * validation failure in its original form, `corrected` the
      * original form of each repaired quad. */
    def lines(part: String): Int = part match {
      case "valid" => valid + corrected
      case "original" => valid + corrected + invalid
      case "invalid" => invalid + corrected
      case "corrected" => corrected
    }

    /** Side-file names: the md5 of each body's inner markup. */
    def htmlFiles: Seq[String] =
      decisions.flatMap(_.body).map(b => md5Hex(bodyMarkup(b)) + ".html")

    /** Registered result file names, one per page per written partition. */
    def registeredNames(debug: Boolean): Seq[String] =
      parts(debug).map(p => s"$name-$p.ttl")

    lazy val html: String = {
      val sb = new StringBuilder
      sb ++= "<!DOCTYPE html><html prefix=\"geo: http://www.opengis.net/ont/geosparql#\">"
      sb ++= s"<head><title>$name</title></head><body>"
      decisions.foreach { d =>
        sb ++= s"""<div about="${d.subject}" typeof="besluit:Besluit">"""
        sb ++= s"""<h2 property="eli:title">${d.title}</h2>"""
        d.lits.zipWithIndex.foreach { case (l, i) =>
          sb ++= s"""<span property="ext:v$i" datatype="${l.datatype}" """ +
            s"""content="${attrEscape(l.value)}"></span>"""
        }
        d.body.foreach { b =>
          sb ++= s"""<div property="prov:value" datatype="rdf:HTML">${bodyMarkup(b)}</div>"""
        }
        sb ++= "</div>"
      }
      sb ++= "</body></html>"
      sb.result()
    }
  }

  def parts(debug: Boolean): Seq[String] =
    if (debug) Seq("valid", "original", "invalid", "corrected") else Seq("valid")

  /** The externalized payload: the inner markup of the `rdf:HTML` div. */
  def bodyMarkup(body: String): String = s"<p>$body</p>"

  private def attrEscape(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;")
      .replace("<", "&lt;").replace(">", "&gt;")

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  // ------------------------------------------------------------ literals

  private type Form = java.util.Random => Lit

  private def date(r: java.util.Random) =
    (1990 + r.nextInt(40), 1 + r.nextInt(12), 1 + r.nextInt(28))
  private def time(r: java.util.Random) =
    (r.nextInt(24), r.nextInt(60), r.nextInt(60))
  private def crs(scheme: String) =
    s"<$scheme://www.opengis.net/def/crs/EPSG/0/31370>"

  /** Literal forms that validate as they are. */
  val validForms: Seq[Form] = Seq(
    r => { val (y, m, d) = date(r); Lit("xsd:date", f"$y%04d-$m%02d-$d%02d", Valid) },
    r => { val (y, m, d) = date(r); val (h, mi, s) = time(r)
      Lit("xsd:dateTime", f"$y%04d-$m%02d-$d%02dT$h%02d:$mi%02d:$s%02dZ", Valid) },
    r => Lit("xsd:boolean", if (r.nextBoolean()) "true" else "false", Valid),
    r => Lit("xsd:integer", (r.nextInt(100000)).toString, Valid),
    r => Lit("geo:wktLiteral",
      s"${crs("http")} POINT(${r.nextInt(250000)} ${r.nextInt(250000)})", Valid))

  /** Literal forms the repairer fixes: JS-reparsable dates, mixed-case
    * booleans, `xsd:int`, an `https` CRS and `rdfs:Literal`. */
  val correctedForms: Seq[Form] = Seq(
    r => { val (y, m, d) = date(r); Lit("xsd:date", f"$y%04d/$m%02d/$d%02d", Corrected) },
    r => { val (y, m, d) = date(r); val (h, mi, s) = time(r)
      Lit("xsd:dateTime", f"$y%04d/$m%02d/$d%02d $h%02d:$mi%02d:$s%02d", Corrected) },
    r => Lit("xsd:boolean", if (r.nextBoolean()) "TRUE" else "False", Corrected),
    r => Lit("xsd:int", (r.nextInt(100000)).toString, Corrected),
    r => Lit("geo:wktLiteral",
      s"${crs("https")} POINT(${r.nextInt(250000)} ${r.nextInt(250000)})", Corrected),
    r => Lit("rdfs:Literal", words(r, 3), Corrected))

  /** Literal forms that neither validate nor repair. */
  val invalidForms: Seq[Form] = Seq(
    _ => Lit("xsd:date", "not a date", Invalid),
    _ => Lit("xsd:dateTime", "garbage", Invalid),
    _ => Lit("xsd:boolean", "yes", Invalid),
    _ => Lit("xsd:int", "abc", Invalid),
    r => Lit("xsd:decimal", s"${r.nextInt(1000)}.${r.nextInt(100)}", Invalid))

  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  def words(r: java.util.Random, n: Int): String =
    (1 to n).map(_ => (1 to 3 + r.nextInt(7))
      .map(_ => alphabet.charAt(r.nextInt(alphabet.length))).mkString)
      .mkString(" ")

  // --------------------------------------------------------------- pages

  /** Shape of every page of a corpus: decisions per page, literals per
    * decision (drawn in rotation from `forms`, from a seeded offset), and
    * which decisions carry an `rdf:HTML` body (every `bodyEvery`-th).
    * With `decisions * litsPerDecision` a multiple of the form count,
    * every page holds each form equally often whatever the seed. */
  final case class PageShape(decisions: Int, litsPerDecision: Int,
      forms: Seq[Form], bodyEvery: Int, bodyWords: Int)

  def page(seed: Long, name: String, shape: PageShape): Page = {
    val r = new java.util.Random(seed ^ name.hashCode.toLong * 0x9E3779B97F4A7C15L)
    val tag = f"${r.nextLong() & 0xFFFFFFFFFFFL}%011x"
    val offset = r.nextInt(shape.forms.size)
    val decisions = (0 until shape.decisions).map { k =>
      val lits = (0 until shape.litsPerDecision).map { i =>
        shape.forms((offset + k * shape.litsPerDecision + i) % shape.forms.size)(r)
      }
      val body = if (k % shape.bodyEvery == 0)
        Some(s"$name $k ${words(r, shape.bodyWords)}") else None
      Decision(s"http://data.lblod.info/id/besluiten/$tag-$k",
        s"Besluit $k ${words(r, 6)}", lits, body)
    }
    Page(name, decisions)
  }

  // --------------------------------------------------------------- tasks

  val TaskGraph = "http://mu.semte.ch/graphs/harvesting"
  val Now = "2026-01-01T00:00:00Z"

  final case class Task(uri: String, container: String, pages: Seq[Page])

  def task(seed: Long, i: Int, pages: Seq[Page]): Task = {
    val id = f"${new java.util.Random(seed * 31 + i).nextLong() & 0xFFFFFFFFFFFL}%011x"
    Task(s"http://redpencil.data.gift/id/task/$id-$i",
      s"http://redpencil.data.gift/id/dataContainers/$id-$i-in", pages)
  }

  type QuadRow = (String, String, String, String)

  /** The scheduled task as the harvester leaves it in the store. */
  def taskQuads(t: Task, status: String = Vocab.statusScheduled): Seq[QuadRow] =
    Seq(
      (t.uri, Vocab.rdfType, Vocab.taskType),
      (t.uri, Vocab.muUuid, t.uri.substring(t.uri.lastIndexOf('/') + 1)),
      (t.uri, Vocab.admsStatus, status),
      (t.uri, Vocab.taskOperation, Vocab.opExtracting),
      (t.uri, Vocab.dctCreated, Now),
      (t.uri, Vocab.dctModified, Now),
      (t.uri, Vocab.taskInputContainer, t.container)
    ).map { case (s, p, o) => (s, p, o, TaskGraph) } ++
      t.pages.map(p => (t.container, Vocab.taskHasFile, p.url, TaskGraph))

  /** One delta body (a JSON line) scheduling `tasks`. */
  def delta(tasks: Seq[Task]): String = {
    val inserts = tasks.map(t =>
      s"""{"subject":{"type":"uri","value":"${t.uri}"},""" +
        s""""predicate":{"type":"uri","value":"${Vocab.admsStatus}"},""" +
        s""""object":{"type":"uri","value":"${Vocab.statusScheduled}"}}""")
    s"""[{"inserts":[${inserts.mkString(",")}],"deletes":[]}]"""
  }
}
