package perfbench

import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  private def sleepy(ms: Int, v: Any): () => Any = () => { Thread.sleep(ms); v }

  test("an op that throws and an op with a wrong output fail and contribute no time or rows") {
    val good = Op("good", "t", 10, sleepy(5, 1), _ => None)
    val throws = Op("throws", "t", 1000, () => { Thread.sleep(60); throw new RuntimeException("boom") }, _ => None)
    val wrong = Op("wrong", "t", 1000, sleepy(60, 2), v => if (v == 1) None else Some(s"got $v"))
    val samples = Runner.timed(Iterator.continually(Seq(good, throws, wrong)), 0.5)

    val byName = samples.groupBy(_.name)
    assert(byName("good").forall(_.ok))
    assert(byName("throws").forall(_.error.exists(_.contains("boom"))))
    assert(byName("wrong").forall(_.error.contains("got 2")))

    val m = Summary.endToEnd(samples)
    assert(math.abs(m("ok_ops_ratio") - 1.0 / 3) < 1e-9)
    val goodMs = byName("good").map(_.ms)
    assert(m("op_p50_ms") == Summary.median(goodMs))
    assert(m("op_p50_ms") < 50, "failed ops' 60 ms must not reach the latency")
    val expectedRate = byName("good").size * 10 / (goodMs.sum / 1000.0)
    assert(math.abs(m("rows_per_s") - expectedRate) / expectedRate < 1e-9)
  }

  test("the tail is the highest percentile with ten samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Summary.tail(xs) == (90.0, 90.0))
    assert(Summary.tail(xs.take(11)) == (100.0 / 11, 1.0))
  }

  test("passes are finished once started, so every run measures whole op mixes") {
    val a = Op("a", "t", 1, sleepy(20, 0), _ => None)
    val b = Op("b", "t", 1, sleepy(20, 0), _ => None)
    val samples = Runner.timed(Iterator.continually(Seq(a, b)), 0.01)
    assert(samples.map(_.name) == Seq("a", "b"))
  }
}
