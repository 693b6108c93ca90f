package graft.perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The metric table is the one source the benchmark reports from; the
 *  benchmark definition and the metric doc must agree with it. */
class LayersSpec extends AnyFunSuite {
  private val bench = new ObjectMapper().readTree(new java.io.File("../BENCHMARK.json"))

  private def declared(key: String): Seq[(String, String, String)] =
    bench.get(key).elements().asScala.map(m =>
      (m.get("name").asText(), m.get("unit").asText(), m.get("better").asText())).toSeq

  test("every per-layer metric belongs to a layer and names what it should move") {
    val e2e = Layers.endToEnd.map(_.name).toSet
    Layers.perLayer.foreach { m =>
      assert(Layers.layers.contains(m.layer), m.name)
      m.moves.split(",").filter(_.nonEmpty).foreach(e => assert(e2e.contains(e), s"${m.name} moves $e"))
      m.workloads.foreach(w => assert(Layers.workloads.contains(w), s"${m.name} on $w"))
      if (m.layer != "trace") assert(m.moves.nonEmpty && m.workloads.nonEmpty, m.name)
    }
  }

  test("every graft layer has metrics") {
    Seq("functions", "plans", "operators", "sources", "spark").foreach { l =>
      assert(Layers.perLayer.exists(_.layer == l), l)
    }
  }

  test("metric names are unique") {
    val names = (Layers.endToEnd ++ Layers.perLayer).map(_.name)
    assert(names.distinct == names)
  }

  test("BENCHMARK.json declares exactly the table's metrics") {
    assert(declared("end_to_end") == Layers.endToEnd.map(m => (m.name, m.unit, m.better)))
    assert(declared("per_layer") == Layers.perLayer.map(m => (m.name, m.unit, m.better)))
  }

  test("BENCHMARK.json runs only known workloads") {
    bench.get("workloads").elements().asScala.foreach { w =>
      assert(Layers.workloads.contains(w.get("name").asText()))
    }
  }

  test("METRICS.md documents every per-layer metric") {
    val doc = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("METRICS.md")), "UTF-8")
    (Layers.endToEnd ++ Layers.perLayer).foreach(m => assert(doc.contains(s"`${m.name}`"), m.name))
  }
}
