package importbench

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

class MetricsSpec extends AnyFunSuite {

  private val all = Metrics.EndToEnd ++ Metrics.PerLayer

  test("metric names and units are well formed and unique") {
    all.foreach { case (n, u) =>
      assert(n.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"), n)
      assert(u.matches("[A-Za-z0-9_/%.-]{1,16}"), u)
    }
    assert(all.map(_._1).distinct.size == all.size)
  }

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    val f = Seq(Paths.get("..", "BENCHMARK.json"), Paths.get("BENCHMARK.json"))
      .find(Files.exists(_)).getOrElse(fail("BENCHMARK.json not found"))
    val json = new ObjectMapper().readTree(f.toFile)
    def declared(key: String) = json.get(key).elements().asScala
      .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    assert(declared("end_to_end") == Metrics.EndToEnd)
    assert(declared("per_layer") == Metrics.PerLayer)
    assert(json.get("workloads").elements().asScala.map(_.get("name").asText()).toSeq ==
      Workloads.all.map(_.name))
  }

  test("printing fails loudly when a metric is missing or undeclared") {
    val values = Metrics.EndToEnd.map(_._1 -> 1.0).toMap
    assert(Metrics.ordered(Metrics.EndToEnd, values).map(_._1) == Metrics.EndToEnd.map(_._1))
    intercept[IllegalArgumentException](Metrics.ordered(Metrics.EndToEnd, values - "setup_s"))
    intercept[IllegalArgumentException](Metrics.ordered(Metrics.EndToEnd, values + ("x" -> 1.0)))
  }
}
