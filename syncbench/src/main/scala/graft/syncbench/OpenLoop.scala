package graft.syncbench

import java.util.concurrent.atomic.AtomicInteger

/** Open-loop load generator: requests are due on a fixed schedule and
  * sent by at most `threads` workers, each holding one connection at a
  * time. Latency is timed from when a request was due, so a stalled
  * server also charges the wait it imposes on later requests; how late
  * the generator itself sent is recorded beside it. */
final class OpenLoop[R](threads: Int) {
  /** `queued`: every worker was busy when the request fell due, so it
    * went out late through back-pressure (all connections held by a
    * stalled server), not through generator overhead. */
  final case class Done(req: R, dueNs: Long, sentNs: Long, doneNs: Long,
      ok: Boolean, queued: Boolean) {
    def latencyMs: Double = (doneNs - dueNs) / 1e6
    def lateMs: Double = (sentNs - dueNs) / 1e6
  }

  val inflightMax = new AtomicInteger()

  /** Runs `schedule` (offsets in ns from the start, sorted) and returns
    * one record per request in schedule order. */
  def run(schedule: IndexedSeq[(Long, R)])(send: R => Boolean)
      : IndexedSeq[Done] = {
    val out = new Array[Done](schedule.size)
    val next = new AtomicInteger()
    val inflight = new AtomicInteger()
    // the schedule starts a little ahead, once every worker is running
    val t0 = System.nanoTime() + 50000000L
    val workers = (0 until threads).map { w =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < schedule.size) {
          val (off, req) = schedule(i)
          val due = t0 + off
          var now = System.nanoTime()
          // picked up over a millisecond past due: every worker was busy
          val queued = now - due > 1000000L
          while (now < due) {
            val ms = (due - now) / 1000000L
            if (ms > 0) Thread.sleep(ms) else Thread.onSpinWait()
            now = System.nanoTime()
          }
          inflightMax.accumulateAndGet(inflight.incrementAndGet(),
            math.max(_, _))
          val ok = try send(req) catch { case _: Throwable => false }
          inflight.decrementAndGet()
          out(i) = Done(req, due, now, System.nanoTime(), ok, queued)
          i = next.getAndIncrement()
        }
      }, s"syncbench-client-$w")
      t.start()
      t
    }
    workers.foreach(_.join())
    out.toIndexedSeq
  }
}
