package graft.syncbench

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The program sees only generated inputs, so a seed must name them
  * exactly: the same seed gives byte-identical inputs, another seed
  * different ones. */
class GenSpec extends AnyFunSuite {
  def kinds(n: Int): Seq[Gen.Kind] =
    Seq.tabulate(n)(i => Seq(Gen.Short, Gen.Wide, Gen.ShowTags)(i % 3))

  /** SHA-256 over everything a workload feeds the engine for `seed`. */
  def inputs(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = md.update((s + "\n").getBytes("UTF-8"))
    for (shape <- Seq(Gen.ReplicateShape, Gen.ServeShape); m <- shape.meas)
      Gen.rows(seed, m, shape, shape.startNs, shape.endNs)
        .foreach(r => add(r.toString))
    Gen.outages(seed, Gen.ReplicateShape, 20).foreach(o => add(o.toString))
    Gen.writeBatches(seed, Gen.ServeShape, 9, 1000, 3).foreach(b => add(b.body))
    Gen.queries(seed, Gen.ServeShape, kinds(40)).foreach(q => add(q.text))
    md.digest().map(b => f"$b%02x").mkString
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    assert(inputs(7) === inputs(7))
    assert(inputs(7) !== inputs(8))
  }

  test("write batches never repeat a timestamp nor meet a history point") {
    val shape = Gen.ServeShape
    val history = shape.meas.flatMap(m =>
      Gen.rows(3, m, shape, shape.startNs, shape.endNs).map(_.ts)).toSet
    val batches = Gen.writeBatches(3, shape, 30, 1000, 3)
    val stamps = batches.map(_.body.split('\n').map(_.split(' ').last.toLong))
    val written = stamps.flatten
    assert(written.distinct.size === written.size)
    assert(written.forall(ts => !history.contains(ts)))
    // every third batch replays into older chunks; the others land
    // after the history
    stamps.zipWithIndex.foreach { case (ts, b) =>
      if (b % 3 == 2) assert(ts.forall(_ < shape.endNs), s"batch $b")
      else assert(ts.forall(_ >= shape.endNs), s"batch $b")
    }
    batches.foreach { b =>
      assert(b.total === 1000)
      assert(b.points.keySet === shape.meas.map(_.name).toSet)
    }
  }

  test("every generated line parses as line protocol with a timestamp") {
    for (b <- Gen.writeBatches(5, Gen.ServeShape, 3, 1000, 3);
         l <- b.body.split('\n')) {
      val p = graft.sources.LineProtocol.parseLine(l)
      assert(p.hasTime && p.fields.size === 4, l)
    }
  }

  test("every generated query parses as InfluxQL") {
    Gen.queries(5, Gen.ServeShape, kinds(60))
      .foreach(q => graft.ql.InfluxQl.parseStatement(q.text))
  }

  test("outages follow the history, never overlap, and carry points") {
    val os = Gen.outages(9, Gen.ReplicateShape, 50)
    assert(os.head.upAtNs > Gen.ReplicateShape.endNs)
    os.zip(os.tail).foreach { case (a, b) =>
      assert(a.upAtNs + a.downNs < b.upAtNs) }
    assert(os.forall(o => o.downNs > o.stepNs))
  }
}
