package graft.syncbench

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** `BENCHMARK.json` declares exactly the metrics the runs report. */
class MetricsSpec extends AnyFunSuite {
  lazy val declared: JValue = parse(scala.io.Source
    .fromFile(new java.io.File("../BENCHMARK.json"), "UTF-8").mkString)

  def section(key: String): Seq[Metrics.M] = {
    implicit val formats: Formats = DefaultFormats
    (declared \ key).children.map(m => Metrics.M(
      (m \ "name").extract[String], (m \ "unit").extract[String],
      (m \ "better").extract[String]))
  }

  test("end_to_end and per_layer match the reported metric sets") {
    assert(section("end_to_end") === Metrics.EndToEnd)
    assert(section("per_layer") === Metrics.PerLayer)
  }

  test("the workloads are the launcher's") {
    implicit val formats: Formats = DefaultFormats
    val names = (declared \ "workloads").children
      .map(w => (w \ "name").extract[String])
    assert(names === Main.Workloads)
  }
}
