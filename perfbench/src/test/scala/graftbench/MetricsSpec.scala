package graftbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.scalatest.funsuite.AnyFunSuite

class MetricsSpec extends AnyFunSuite {

  private val all = Metrics.endToEnd ++ Metrics.perLayer

  test("every metric name matches [A-Za-z0-9_.-]+ and is used once") {
    all.foreach(m => assert(m.name.matches(Metrics.NamePattern) && m.name.length <= 64, m.name))
    assert(all.map(_.name).distinct.size == all.size)
    all.foreach(m => assert(Set("lower", "higher")(m.better), m.name))
  }

  test("BENCHMARK.json lists the metrics the benchmark prints") {
    implicit val formats: Formats = DefaultFormats
    val json = JsonMethods.parse(Files.readString(Paths.get("..", "BENCHMARK.json")))
    def listed(key: String) = (json \ key).extract[List[Map[String, Any]]]
      .map(m => Metrics.M(m("name").toString, m("unit").toString, m("better").toString))
    assert(listed("end_to_end") == Metrics.endToEnd)
    assert(listed("per_layer") == Metrics.perLayer)
    (json \ "workloads").extract[List[Map[String, String]]].map(_("name"))
      .foreach(w => assert(Workloads.byName(w).isDefined, w))
  }
}
