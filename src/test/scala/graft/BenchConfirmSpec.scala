package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one ceiling-breach policy (`Bench.confirm`), driven with fake
  * re-times, cool-downs and host readings: no Spark, no sleeping.
  */
class BenchConfirmSpec extends AnyFunSuite {
  import Bench.{GcProbe, HostReading, Timing}

  private val host = HostReading(0.042, 1.5)

  /** Runs `confirm` over scripted re-time results; returns the
    * confirmed timing, how many re-times ran and how many cool-downs.
    */
  private def drive(first: Timing, ceiling: Option[Double],
      retimes: (() => (Double, Option[GcProbe]))*): (Timing, Int, Int) = {
    var retimed = 0
    var cooled = 0
    val out = Bench.confirm(first, ceiling,
      () => { retimed += 1; retimes(retimed - 1)() },
      () => cooled += 1, () => host)
    (out, retimed, cooled)
  }

  private def gives(secs: Double, gcMs: Long) =
    () => (secs, Some(GcProbe(gcMs, 1.0)))

  private val firstGc = Some(GcProbe(10, 2.0))

  test("under the ceiling, errored or unbudgeted: no re-time") {
    val ok = Timing("q01_x", 2.0, gc = firstGc)
    assert(drive(ok, Some(2.0)) == ((ok, 0, 0)))
    val noBudget = Timing("q01_x", 50.0)
    assert(drive(noBudget, None) == ((noBudget, 0, 0)))
    val failed = Timing("q01_x", -1.0, err = Some("boom"))
    assert(drive(failed, Some(0.5)) == ((failed, 0, 0)))
  }

  test("the first re-time rescues: no cool-down, no breach evidence") {
    val (t, retimes, cools) = drive(Timing("q01_x", 9.0, gc = firstGc),
      Some(5.0), gives(3.0, 20))
    assert(retimes == 1 && cools == 0)
    assert(t.secs == 3.0 && t.firstPass.contains(9.0) && t.retry.contains(3.0))
    assert(t.gc == firstGc && t.retryGc.contains(GcProbe(20, 1.0)))
    assert(t.breach.isEmpty)
  }

  test("both passes over: one cool-down, a second re-time, min of three kept") {
    // the second re-time is the best of the three
    val (t, retimes, cools) = drive(Timing("q01_x", 9.0, gc = firstGc),
      Some(5.0), gives(8.0, 20), gives(4.0, 30))
    assert(retimes == 2 && cools == 1)
    assert(t.secs == 4.0 && t.firstPass.contains(9.0))
    // retry is the better re-time, so min(first, retry) is secs
    assert(t.retry.contains(4.0) && t.retryGc.contains(GcProbe(30, 1.0)))
    assert(t.breach.contains(
      Bench.Breach(4.0, Some(GcProbe(30, 1.0)), host)))
    // the first pass is the best of the three and still over: it stands
    val (over, _, _) = drive(Timing("q01_x", 6.0), Some(5.0),
      gives(8.0, 20), gives(7.0, 30))
    assert(over.secs == 6.0 && over.retry.contains(7.0))
    assert(over.breach.map(_.retry2).contains(7.0))
    val line = Bench.jsonLine(Seq(t, over), "/sf")
    assert(line.contains("\"q01_x\":{\"first\":9.000,\"retry\":4.000," +
      "\"first_gc_ms\":10,\"first_heap_gb\":2.000,\"retry_gc_ms\":30," +
      "\"retry_heap_gb\":1.000,\"retry2\":4.000,\"retry2_gc_ms\":30," +
      "\"retry2_heap_gb\":1.000,\"ext_busy\":0.042,\"mem_psi\":1.500}"))
  }

  test("a throwing re-time keeps the prior timing") {
    val boom = () => throw new RuntimeException("re-time failed")
    // first re-time throws: the first pass stands in for it
    val (a, _, _) = drive(Timing("q01_x", 6.0), Some(5.0), boom, boom)
    assert(a.secs == 6.0 && a.retry.contains(6.0) && a.retryGc.isEmpty)
    assert(a.breach.contains(Bench.Breach(6.0, None, host)))
    // second re-time throws: the first re-time stands in for it
    val (b, retimes, cools) = drive(Timing("q01_x", 9.0), Some(5.0),
      gives(7.0, 20), boom)
    assert(retimes == 2 && cools == 1)
    assert(b.secs == 7.0 && b.retry.contains(7.0))
    assert(b.breach.contains(
      Bench.Breach(7.0, Some(GcProbe(20, 1.0)), host)))
  }
}
