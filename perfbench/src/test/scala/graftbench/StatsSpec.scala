package graftbench

import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {

  test("median of odd and even sample counts") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("tail is undefined below eleven samples") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
  }

  test("tail leaves exactly ten samples beyond it") {
    val t11 = Stats.tail((1 to 11).map(_.toDouble)).get
    assert(t11.value == 1.0 && t11.samples == 11)
    assert(math.abs(t11.percentile - 100.0 / 11) < 1e-9)
    val t100 = Stats.tail(scala.util.Random.shuffle((1 to 100).map(_.toDouble))).get
    assert(t100.value == 90.0 && t100.percentile == 90.0)
    val xs = (1 to 37).map(i => (i * 7 % 37).toDouble)
    val t = Stats.tail(xs).get
    assert(xs.count(_ > t.value) == 10)
  }

  test("union length merges overlapping and nested intervals") {
    assert(Stats.unionLength(Seq.empty) == 0.0)
    assert(Stats.unionLength(Seq((0.0, 1.0), (2.0, 3.0))) == 2.0)
    assert(Stats.unionLength(Seq((0.0, 2.0), (1.0, 3.0))) == 3.0)
    assert(Stats.unionLength(Seq((0.0, 10.0), (2.0, 3.0), (4.0, 5.0))) == 10.0)
    assert(Stats.unionLength(Seq((5.0, 4.0))) == 0.0)
  }

  test("self time is the span minus what its children cover, children clipped") {
    assert(Stats.selfTime(0, 10, Seq.empty) == 10.0)
    assert(Stats.selfTime(0, 10, Seq((1.0, 3.0), (2.0, 4.0))) == 7.0)
    assert(Stats.selfTime(0, 10, Seq((-5.0, 2.0), (9.0, 20.0))) == 7.0)
    assert(Stats.selfTime(0, 10, Seq((0.0, 10.0))) == 0.0)
  }

  test("breakdown: layer split, and jobs outside any call's group counted as unattributed") {
    val op = OpRec(1, "merge", "write", 1000.0, 2000.0, 0.5, ok = true, measured = true)
    val calls = Seq(CallRec(2, 1, "lake.merge", 1100.0, 1900.0))
    val jobs = Seq(new JobRec(7, 2, 1200.0), new JobRec(8, 2, 1250.0), new JobRec(9, -1, 1300.0))
    jobs(0).end = 1400.0; jobs(1).end = 1500.0; jobs(2).end = 1350.0
    jobs(0).taskMs = 400
    val b = Report.breakdown(Seq(op), calls, jobs, Seq((1120.0, 1150.0), (1950.0, 1990.0)))
    val l = b.byLayer("lake.merge")
    assert(l.jobs == 2 && math.abs(l.jobS - 0.3) < 1e-9 && math.abs(l.driverS - 0.5) < 1e-9)
    assert(math.abs(l.planS - 0.03) < 1e-9 && math.abs(l.taskS - 0.4) < 1e-9)
    assert(math.abs(b.harnessSelfS - 0.2) < 1e-9)
    assert(b.unattributedJobs == 1 && math.abs(b.unattributedJobS - 0.05) < 1e-9)
    assert(math.abs(b.byKind("").driverS - 0.7) < 1e-9)
  }
}
