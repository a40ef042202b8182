package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** BENCHMARK.json names every metric a run prints, with the same unit. */
class ContractSuite extends AnyFunSuite {

  private lazy val spec = {
    var dir = new java.io.File(".").getAbsoluteFile
    while (dir != null && !new java.io.File(dir, "BENCHMARK.json").exists) dir = dir.getParentFile
    assert(dir != null, "BENCHMARK.json not found above the working directory")
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(dir, "BENCHMARK.json"))
  }

  private def metrics(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq

  test("per-layer metrics match the layers a traced run reports") {
    assert(metrics("per_layer") == Layers.All)
  }

  test("end-to-end metrics match what every workload reports") {
    assert(metrics("end_to_end") == Main.EndToEnd)
  }

  test("workloads match the ones the runner accepts") {
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq ==
      Main.Workloads)
  }
}
