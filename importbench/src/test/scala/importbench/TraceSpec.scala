package importbench

import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("covered time is the union of intervals, clipped to the window") {
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)
    assert(Spans.covered(Seq((0L, 10L), (2L, 3L)), 0L, 100L) == 10L)
    assert(Spans.covered(Seq((50L, 60L)), 0L, 40L) == 0L)
    assert(Spans.covered(Nil, 0L, 40L) == 0L)
  }

  test("self time is duration minus what the children cover") {
    val sp = new Spans
    val root = sp.add("root", 0L, 100L, -1, 0)
    val a = sp.add("a", 10L, 40L, root.id, 0)
    sp.add("b", 30L, 60L, root.id, 0) // overlaps a: the overlap counts once
    sp.add("c", 15L, 20L, a.id, 0)
    sp.add("a", 70L, 80L, root.id, 0)
    val self = Spans.selfTimes(sp.all)
    assert(self(root.id) == 100L - 50L - 10L)
    assert(self(a.id) == 30L - 5L)
    assert(Spans.selfByName(sp.all) == Map("root" -> 40L, "a" -> 35L, "b" -> 30L, "c" -> 5L))
  }

  test("samples become segments that tile the window") {
    val samples = Seq(100L -> "x", 105L -> "x", 110L -> "y", 130L -> "x", 150L -> "z")
    assert(Attribution.segments(samples, 98L, 140L) ==
      Seq(("x", 98L, 110L), ("y", 110L, 130L), ("x", 130L, 140L)))
    assert(Attribution.segments(Nil, 5L, 9L) == Seq(("delta", 5L, 9L)))
  }

  test("fused layers take their isolated cost per task, scaled to fit") {
    val fused = Seq("sink.ttl" -> Seq("read", "extract"))
    val own = Map("read" -> 1.0, "extract" -> 2.0)
    assert(Attribution.splitFused(Map("sink.ttl" -> 10.0), fused, own, 2) ==
      Map("sink.ttl" -> 4.0, "read" -> 2.0, "extract" -> 4.0))
    // 6 s of isolated cost into 3 s: every layer gets half
    assert(Attribution.splitFused(Map("sink.ttl" -> 3.0, "read" -> 0.5), fused, own, 2) ==
      Map("sink.ttl" -> 0.0, "read" -> 1.5, "extract" -> 2.0))
  }

  private def frame(cls: String, method: String) =
    new StackTraceElement(cls, method, "X.scala", 1)
  private val spark = frame("org.apache.spark.sql.classic.Dataset", "collect")
  private val thread = frame("java.lang.Thread", "run")

  test("a stack sample is charged to the innermost engine layer") {
    def layer(fs: StackTraceElement*) = Attribution.layerOf(fs.toArray)
    assert(layer(spark, frame("graft.pipeline.ImportPipeline$", "runImportPipeline"), thread) ==
      "taskstore.load")
    assert(layer(frame("org.apache.spark.sql.classic.Dataset", "withColumn"),
      frame("graft.pipeline.ImportPipeline$", "runImportPipeline"), thread) ==
      "pipeline.orchestrate")
    assert(layer(frame("graft.rdf.Validation$", "isValidTerm"),
      frame("graft.pipeline.ExtractPipeline$", "tagged"),
      frame("graft.pipeline.ImportPipeline$", "runImportPipeline")) == "rdf.tag")
    assert(layer(frame("graft.pipeline.ExtractPipeline$", "$anonfun$writeTtl$1"),
      frame("graft.pipeline.ImportPipeline$", "runImportPipeline")) == "sink.ttl")
    assert(layer(frame("org.apache.spark.sql.classic.Dataset", "localCheckpoint"),
      frame("graft.pipeline.ImportService$", "$anonfun$start$1")) == "state.checkpoint")
    assert(layer(spark, thread) == "delta")
    assert(layer(frame("graft.html.HtmlParser$", "parse"), thread) == Attribution.Unattributed)
  }

  test("an engine frame no rule names is unattributed, whatever calls it") {
    def layer(fs: StackTraceElement*) = Attribution.layerOf(fs.toArray)
    val unnamed = frame("graft.rdf.package$", "sha1Hex")
    assert(layer(unnamed, frame("graft.pipeline.ImportPipeline$", "runImportPipeline"),
      frame("graft.pipeline.ImportService$", "$anonfun$start$1"), thread) ==
      Attribution.Unattributed)
    assert(layer(spark, unnamed, frame("graft.pipeline.ImportService$", "$anonfun$start$1"),
      thread) == Attribution.Unattributed)
    // a named frame inside an unnamed one still decides
    assert(layer(frame("graft.pipeline.ExtractPipeline$", "writeTtl"), unnamed,
      frame("graft.pipeline.ImportPipeline$", "runImportPipeline")) == "sink.ttl")
    assert(Attribution.innermostEngineFrame(Array(spark, unnamed, thread)) ==
      Some("graft.rdf.package$.sha1Hex"))
  }
}
