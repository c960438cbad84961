package perfbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("interval union counts overlaps once and skips gaps") {
    assert(Stats.unionLength(Nil) == 0L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    // nested and unsorted intervals, empty intervals ignored
    assert(Stats.unionLength(Seq((20L, 30L), (0L, 100L), (40L, 40L))) == 100L)
    // touching intervals merge without double counting
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20L)
  }

  test("a route splits exactly into self + compile + plan + exec") {
    val jobs = Seq((100L, 300L), (250L, 400L), (700L, 800L), (950L, 1200L))
    val phases = Seq((50L, 150L), (600L, 720L))
    val (self, compile, plan, exec) = Stats.routeParts(0L, 1000L, jobs, phases, 120L)
    // jobs clipped to the route: 100-400, 700-800, 950-1000
    assert(exec == 450L)
    // phases outside jobs: 50-100, 600-700
    assert(plan == 150L)
    assert(compile == 120L && self == 1000L - 450L - 150L - 120L)
    // a compile estimate larger than what is left takes only the rest
    val (self2, compile2, _, _) = Stats.routeParts(0L, 1000L, jobs, phases, 10000L)
    assert(self2 == 0L && compile2 == 400L)
  }

  test("p95 needs at least 10 samples beyond it") {
    assert(Stats.beyond(200, 0.95) == 10)
    assert(Stats.beyond(199, 0.95) == 9)
    assert(Stats.tailQuantile((1 to 199).map(_.toDouble), 0.95).isEmpty)
    val p95 = Stats.tailQuantile((1 to 200).map(_.toDouble), 0.95)
    assert(p95.exists(v => v > 189.0 && v < 191.0), p95)
  }

  test("quantiles interpolate between order statistics") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Stats.quantile(Seq(0.0, 10.0), 0.9) == 9.0)
  }

  test("open loop: latency runs from the due time, lateness is never negative") {
    val t0 = 1000000000L
    // 4 ops/s: op 3 is due 750 ms after the start
    assert(Stats.dueNs(t0, 4.0, 3) == t0 + 750000000L)
    val due = Stats.dueNs(t0, 4.0, 3)
    // the generator sent it 200 ms late; the response came 100 ms later
    val sent = due + 200000000L
    val done = sent + 100000000L
    assert(Stats.openLoopLatencyNs(due, sent, done) == 300000000L)
    assert(Stats.latenessNs(due, sent) == 200000000L)
    // an early send is not lateness, and latency then runs from the send
    assert(Stats.latenessNs(due, due - 5L) == 0L)
    assert(Stats.openLoopLatencyNs(due, due - 5L, due + 10L) == 15L)
  }
}
