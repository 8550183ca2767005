package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** BENCHMARK.json, the metric catalogue and what a run emits agree. */
class BenchmarkJsonSpec extends AnyFunSuite {
  private val bench = new ObjectMapper().readTree(new File("../BENCHMARK.json"))

  private def listed(key: String): Seq[(String, String)] =
    bench.get(key).elements.asScala.map(n => n.get("name").asText -> n.get("unit").asText).toSeq

  private def pairs(ms: Seq[Metrics.M]) = ms.map(m => m.name -> m.unit)

  test("BENCHMARK.json lists the catalogue's end-to-end metrics, names and units") {
    assert(listed("end_to_end") === pairs(Metrics.endToEnd))
  }

  test("BENCHMARK.json lists the catalogue's per-layer metrics, names and units") {
    assert(listed("per_layer") === pairs(Metrics.perLayer))
  }

  test("BENCHMARK.json lists only workloads the benchmark runs") {
    val listed = bench.get("workloads").elements.asScala.map(_.get("name").asText).toSeq
    assert(listed.nonEmpty && listed.forall(Workloads.names.contains))
  }

  test("predictions.json maps every per-layer metric onto known metrics and workloads") {
    val p = new ObjectMapper().readTree(new File("predictions.json"))
    val layer = Metrics.perLayer.map(_.name).toSet
    val e2e = Metrics.endToEnd.map(_.name).toSet
    val notMoving = p.get("not_moving").properties.asScala.map(e => e.getKey -> e.getValue).toMap
    assert(notMoving.keySet === layer)
    assert(notMoving.values.flatMap(_.elements.asScala).forall(w => Workloads.names.contains(w.asText)))
    p.get("workloads").properties.asScala.foreach { w =>
      assert(Workloads.names.contains(w.getKey))
      w.getValue.get("moves").properties.asScala.foreach { m =>
        assert(layer(m.getKey), m.getKey)
        assert(m.getValue.elements.asScala.forall(x => e2e(x.asText)), m.getKey)
      }
    }
  }

  test("an untraced run emits exactly the end-to-end metrics") {
    val recs = Seq(
      Main.Rec("q", 15.0, Some(12.0), Some(3.0), ok = true, traced = false),
      Main.Rec("w", 10.0, Some(10.0), None, ok = true, traced = false))
    val emitted = Main.endToEnd(1.5, Seq(15.0), recs, 100.0, 1.2)
    assert(emitted.map(_._1) === Metrics.endToEnd.map(_.name))
    assert(emitted.forall(_._2 > 0))
  }

  test("latencies are scaled to the reference speed; set-up time is not") {
    val recs = Seq(
      Main.Rec("q", 10.0, Some(8.0), Some(2.0), ok = true, traced = false, scale = 0.5),
      Main.Rec("q", 30.0, Some(24.0), Some(6.0), ok = true, traced = false, scale = 0.5))
    val m = Main.endToEnd(1.5, Seq(20.0), recs, 100.0, 1.2).toMap
    assert(m("setup_s") === 1.5)
    assert(m("op_p50_ms") === 10.0)
    assert(m("write_p50_ms") === 8.0)
    assert(m("read_p50_ms") === 2.0)
  }

  test("a traced run emits exactly the per-layer metrics") {
    val s = LayerProbe.Sample(Map("read_ops" -> 0L, "write_ops" -> 0L, "bytes_read" -> 0L,
      "bytes_written" -> 0L), Set.empty, 0L, 0L, Set.empty, 0L)
    val row = LayerProbe.row(s, s, Nil, Nil, new Recorder, 0L, cores = 4, snapshotMs = 0.0)
    val emitted = Main.perLayer(Seq(row), Seq(10.0), Seq(9.0), misses = 0, probeMs = 3.7)
    assert(emitted.map(_._1) === Metrics.perLayer.map(_.name))
  }
}
