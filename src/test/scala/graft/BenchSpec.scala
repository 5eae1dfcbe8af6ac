package graft

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** Bench's fixed schedule, driven through its [[Bench.Engine]] seam with a
  * fake clock and fake walls: no Spark. */
class BenchSpec extends AnyFunSuite {

  /** A clock that advances by each query's wall. `wall(name, phase)` gives
    * the wall, `phase` being the number of phases done before the run
    * (0 = warmup, 1 = pass 1, 2 = pass 2, 3 = cold 1, ...). Touches cost
    * `touchS` each. */
  private class FakeEngine(wall: (String, Int) => Double, touchS: Double = 0.0)
      extends Bench.Engine {
    var now = 0.0
    val starts = mutable.ArrayBuffer.empty[(String, Double)]
    val phases = mutable.ArrayBuffer.empty[String]
    var drops = 0
    def elapsed: Double = now
    def run(name: String): Double = {
      starts += name -> now
      val w = wall(name, phases.size)
      now += w
      w
    }
    def touch(names: Seq[String], open: () => Boolean): Int =
      names.takeWhile(_ => open()).map(_ => now += touchS).size
    def dropChains(): Unit = drops += 1
    def phaseDone(phase: String): Unit = phases += phase
  }

  private val names = Seq("q1", "q2", "q3", "q4", "q5", "q6")
  private val chains = Seq("q2", "q5")

  test("ample budget: two complete warm passes, two cold passes, not degraded") {
    val e = new FakeEngine((_, _) => 1.0, touchS = 0.5)
    val s = new Bench.Schedule(names, chains, budgetS = 1000.0)
    s.run(e)
    assert(e.phases == Seq("warmup", "pass1", "pass2", "cold1", "cold2"))
    assert(s.chainWarm == Map("q2" -> 1.0, "q5" -> 1.0) && s.touched == 4)
    assert(s.warmupS == 4.0)
    assert(s.warm.map(_.keySet) == Seq(names.toSet, names.toSet))
    assert(s.cold.map(_.keySet) == Seq(chains.toSet, chains.toSet))
    assert(e.drops == 2 * chains.size, "every cold run drops the chains first")
    assert(!s.degraded && s.truncated == 0)
    assert(s.results == names.map(_ -> 1.0))
  }

  test("budget spent in pass 1: pass 1 completes, every query has a value, degraded") {
    val e = new FakeEngine((_, _) => 1.0)
    val s = new Bench.Schedule(names, chains, budgetS = 5.0)
    s.run(e)
    assert(e.phases == Seq("warmup", "pass1"))
    assert(e.now == 8.0, "pass 1 ran past the 5 s budget to completion")
    assert(s.warm.size == 1 && s.cold.isEmpty)
    assert(s.results.map(_._1) == names)
    assert(s.degraded)
  }

  test("pass 2 cut midway: each query's min over the passes holding it, degraded") {
    // q1 is the one chain: 0.25 s in the warmup, then 4 s in pass 1 and
    // 0.5 s in pass 2, like every other query
    val wall: (String, Int) => Double = {
      case (_, 0) => 0.25
      case (_, 1) => 4.0
      case _ => 0.5
    }
    val qs = Seq("q1", "q2", "q3", "q4")
    val e = new FakeEngine(wall)
    val s = new Bench.Schedule(qs, Seq("q1"), budgetS = 17.0)
    s.run(e)
    // pass 1 ends at 16.25; pass 2 runs q1 (to 16.75) and q2 (to 17.25),
    // then stops at the deadline; no cold pass starts
    assert(s.warm.map(_.keySet) == Seq(qs.toSet, Set("q1", "q2")))
    assert(s.results == Seq("q1" -> 0.5, "q2" -> 0.5, "q3" -> 4.0, "q4" -> 4.0))
    assert(s.cold.isEmpty && e.phases.last == "pass2")
    assert(s.degraded && s.truncated == 1)
  }

  test("the warmup starts no query once half the budget is spent") {
    val cs = Seq("q1", "q2", "q3", "q4")
    val e = new FakeEngine((_, _) => 3.0)
    val s = new Bench.Schedule(cs ++ Seq("q5", "q6"), cs, budgetS = 10.0)
    s.run(e)
    // q1 starts at 0 and q2 at 3; at 6 the 5 s half is spent
    val warmupStarts = e.starts.take(s.chainWarm.size)
    assert(warmupStarts == Seq("q1" -> 0.0, "q2" -> 3.0))
    assert(s.chainWarm.keySet == Set("q1", "q2") && s.touched == 0)
    assert(s.warm.head.size == 6, "pass 1 still runs every query")
  }

  test("a budget that is not a positive number fails loudly, naming the variable") {
    assert(Bench.budgetSeconds(None) == 900.0)
    assert(Bench.budgetSeconds(Some("300")) == 300.0)
    Seq("", "abc", "0", "-5", "NaN", "Infinity").foreach { v =>
      val e = intercept[IllegalArgumentException](Bench.budgetSeconds(Some(v)))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_BUDGET_S"), v)
    }
  }
}
