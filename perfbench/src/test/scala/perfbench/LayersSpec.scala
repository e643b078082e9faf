package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** The metric names the benchmark prints, the ones BENCHMARK.json declares
  * and the layer map must agree. */
class LayersSpec extends AnyFunSuite {

  private def json(path: String): JsonNode = new ObjectMapper().readTree(new File(path))
  private def names(n: JsonNode): Seq[(String, String)] =
    n.elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  test("BENCHMARK.json declares exactly the metrics the benchmark prints") {
    val b = json("../BENCHMARK.json")
    assert(names(b.get("end_to_end")) == Main.E2eUnits)
    assert(names(b.get("per_layer")) == Layers.All)
  }

  test("every per-layer metric has its module and the metric it should move") {
    val m = json("layers.json").get("metrics").elements().asScala.toSeq
    assert(m.map(x => x.get("name").asText() -> x.get("unit").asText()) == Layers.All)
    val e2e = Main.E2eUnits.map(_._1).toSet
    m.foreach { x =>
      assert(x.get("module").asText().nonEmpty, x)
      assert(e2e.contains(x.get("moves").asText()), x)
    }
  }
}
