package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metrics BENCHMARK.json declares are the ones the benchmark prints,
  * with the same units. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val json = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))
  private def declared(key: String): Map[String, String] =
    json.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toMap

  private val op = Main.OpRecord(0, "train", 0, 1000, OpOutcome(ok = true, 1L), Nil, 0)
  private val measured = Main.Measured(Seq(op), Seq(1.0), 1.0, 0, 1000, 0)

  test("end-to-end metrics match") {
    val printed = EndToEnd(Seq(1.0), measured).metrics.map { case (k, (_, u)) => k -> u }.toMap
    assert(printed == declared("end_to_end"))
  }

  test("per-layer metrics match") {
    val traced = new Traced(measured, new Recorder, 1, new SamplerPhases(Map.empty))
    val printed = traced.declared.map { case (k, (_, u)) => k -> u }.toMap
    assert(printed == declared("per_layer"))
  }

  test("every declared workload exists") {
    val names = json.get("workloads").elements().asScala.map(_.get("name").asText).toSeq
    assert(names.nonEmpty && names.forall(Workloads.names.contains))
  }
}
