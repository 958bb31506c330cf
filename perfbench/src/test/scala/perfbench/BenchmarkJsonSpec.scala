package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` at the repository root names exactly the workloads
  * and metrics the benchmark process reports.
  */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val root = new ObjectMapper().readTree(
    Files.readString(Paths.get("..", "BENCHMARK.json")))
  private def names(key: String): Seq[String] =
    root.get(key).elements().asScala.map(_.get("name").asText()).toSeq

  test("every declared workload exists") {
    assert(names("workloads").nonEmpty)
    assert(names("workloads").forall(BenchMain.Workloads.contains))
  }

  test("end-to-end metrics match, with their units") {
    assert(names("end_to_end") == BenchMain.EndToEnd)
    root.get("end_to_end").elements().asScala.foreach { m =>
      assert(m.get("unit").asText() == BenchMain.unit(m.get("name").asText()))
    }
  }

  test("per-layer metrics match, with their units") {
    assert(names("per_layer") == BenchMain.PerLayer)
    root.get("per_layer").elements().asScala.foreach { m =>
      assert(m.get("unit").asText() == BenchMain.unit(m.get("name").asText()))
    }
  }
}
