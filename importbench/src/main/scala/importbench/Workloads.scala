package importbench

import graft.rdf.Vocab
import importbench.Gen._

/** A workload. Each is closed loop with one client: a delta is dropped,
  * the benchmark waits for the stream to process it, then drops the
  * next. */
final case class Workload(name: String, debug: Boolean,
    build: Long => Corpus)

/** Everything one run feeds the service: the pages directory and the
  * deltas in the order they are dropped (more than any run uses; the
  * first one warms the JVM up and is not measured). */
final case class Corpus(dirPages: Seq[Page], deltas: Seq[Seq[Task]]) {
  def tasks: Seq[Task] = deltas.flatten
}

object Workloads {

  /** Deltas one run may drop; a run stops long before using them all. */
  val PlannedDeltas = 12

  private def pages(seed: Long, prefix: String, n: Int, shape: PageShape) =
    (0 until n).map(i => Gen.page(seed, f"$prefix-$i%05d", shape))

  /** Single-task deltas; task `i` owns `owned(i)`, except that the
    * warm-up task owns only two of those pages: it runs every code path
    * for the JIT and the codegen cache at less cost. */
  private def oneTaskDeltas(seed: Long, owned: Int => Seq[Page]) =
    (0 until PlannedDeltas).map(i =>
      Seq(Gen.task(seed, i, if (i == 0) owned(i).take(2) else owned(i))))

  /** Tasks that each own a seeded quarter of a shared pages directory,
    * cycling through the four quarters; every decision carries an
    * `rdf:HTML` body; debug off. */
  val bulkSharedDir = Workload("bulk_shared_dir", debug = false, seed => {
    val shape = PageShape(decisions = 20, litsPerDecision = 2,
      forms = validForms.take(2), bodyEvery = 1, bodyWords = 60)
    val dir = pages(seed, "page", 32, shape)
    val quarters = new scala.util.Random(seed).shuffle(dir.indices.toList)
      .grouped(dir.size / 4).map(_.sorted.map(dir)).toIndexedSeq
    Corpus(dir, oneTaskDeltas(seed, i => quarters(i % 4)))
  })

  /** Tasks that own every page of their directory, debug on, literals
    * dense in repairable and invalid forms, few `rdf:HTML` bodies. */
  val debugRepair = Workload("debug_repair", debug = true, seed => {
    val shape = PageShape(decisions = 12, litsPerDecision = 16,
      forms = validForms ++ correctedForms ++ invalidForms, bodyEvery = 6,
      bodyWords = 30)
    val dir = pages(seed, "page", 8, shape)
    Corpus(dir, oneTaskDeltas(seed, _ => dir))
  })

  val all: Seq[Workload] = Seq(bulkSharedDir, debugRepair)

  def byName(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))

  /** The state the service starts from: every planned task, scheduled,
    * and one stale busy task for startup recovery to fail. */
  def initialState(spark: org.apache.spark.sql.SparkSession,
      c: Corpus): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (c.tasks.flatMap(t => taskQuads(t)) ++
      taskQuads(Gen.task(-1L, 0, Nil), Vocab.statusBusy))
      .toDF("subject", "predicate", "obj", "graph")
  }
}
