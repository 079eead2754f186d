package graft.syncbench

import org.scalatest.funsuite.AnyFunSuite

/** Open-loop lateness against a deliberately stalled handler: requests
  * due while the only connection is held must be charged the wait from
  * their due time, and be marked as sent late through back-pressure. */
class OpenLoopSpec extends AnyFunSuite {
  val Ms = 1000000L

  test("a stall charges later requests from their due time") {
    val stallMs = 300L
    // one request every 20 ms; request 2 stalls the single connection
    val schedule = (0 until 12).map(i => (i * 20L * Ms, i)).toIndexedSeq
    val gen = new OpenLoop[Int](threads = 1)
    val done = gen.run(schedule) { i =>
      if (i == 2) Thread.sleep(stallMs)
      true
    }
    assert(done.map(_.req) === (0 until 12))
    // before the stall: on time, fast
    for (d <- done.take(2)) {
      assert(!d.queued)
      assert(d.lateMs < 15.0, s"request ${d.req} late ${d.lateMs} ms")
      assert(d.latencyMs < 15.0)
    }
    // the stalled request itself takes the stall
    assert(done(2).latencyMs >= stallMs.toDouble)
    // due during the stall: queued, and its latency covers the wait
    // from its due time to the stall's end
    for (d <- done.slice(3, 12) if d.dueNs < done(2).doneNs) {
      assert(d.queued, s"request ${d.req} should be back-pressured")
      val waitMs = (done(2).doneNs - d.dueNs) / 1e6
      assert(d.latencyMs >= waitMs - 1.0,
        s"request ${d.req}: latency ${d.latencyMs} < wait $waitMs")
      assert(d.lateMs >= waitMs - 1.0)
    }
    assert(gen.inflightMax.get() === 1)
  }

  test("an idle handler is served on time by concurrent workers") {
    val schedule = (0 until 40).map(i => (i * 5L * Ms, i)).toIndexedSeq
    val gen = new OpenLoop[Int](threads = 4)
    val done = gen.run(schedule)(_ => true)
    assert(done.forall(_.ok))
    assert(done.count(_.queued) <= 2)
    assert(Stats.percentile(done.map(_.lateMs), 90) < 10.0)
  }
}
