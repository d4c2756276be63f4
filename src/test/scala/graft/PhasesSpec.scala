package graft

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import graft.operators.IndexMaintenance

/** The one phase recorder. Sleeps give lower bounds only; no assertion
  * depends on an upper bound of wall time. */
class PhasesSpec extends SparkSpec {

  private def nap(ms: Long): Unit = Thread.sleep(ms)
  private def await(b: CyclicBarrier): Unit = b.await(30, TimeUnit.SECONDS)

  test("nesting: depth per phase, repeated names accumulate, start order kept") {
    val (v, ph) = Phases.record {
      Phases.time("a") {
        Phases.time("b")(Phases.time("c")(nap(5)))
        Phases.time("b")(nap(10))
      }
      Phases.time("d")(42)
    }
    assert(v === 42)
    assert(ph.toSeq.map { case (k, p) => k -> p.depth } ===
      Seq("a" -> 0, "b" -> 1, "c" -> 2, "d" -> 0))
    assert(ph("a").seconds >= ph("b").seconds && ph("b").seconds >= 0.015, ph)
    // a recorder opened inside another takes the inner phases alone
    val (inner, outer) = Phases.record {
      Phases.time("outer")(Phases.record(Phases.time("inner")(nap(1)))._2)
    }
    assert(inner.keySet === Set("inner") && outer.keySet === Set("outer"))
  }

  test("concurrent runLegs legs record into the opener's recorder") {
    spark // runLegs labels each leg's jobs on the active session
    val both = new CyclicBarrier(2) // times out unless both legs overlap
    def leg(name: String): () => Unit = () => Phases.time(name)(await(both))
    val (_, ph) = Phases.record {
      Phases.time("legs")(IndexMaintenance.runLegs(Seq(
        "test.legA" -> leg("leg_a"), "test.legB" -> leg("leg_b"))))
    }
    assert(ph.map { case (k, p) => k -> p.depth } ===
      Map("legs" -> 0, "leg_a" -> 1, "leg_b" -> 1), ph)
  }

  test("two recorders open on two threads at once never mix") {
    val both = new CyclicBarrier(2)
    val out = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
    val threads = Seq("x", "y").map(id => new Thread(() => {
      // both recorders are open across both barriers
      val (_, ph) = Phases.record {
        await(both); Phases.time(s"only_$id")(await(both))
      }
      out.put(id, ph.keySet)
    }))
    threads.foreach(_.start()); threads.foreach(_.join(60000))
    assert(out.get("x") === Set("only_x") && out.get("y") === Set("only_y"), out)
  }

  test("a phase that throws still records its time and rethrows") {
    val (e, ph) = Phases.record {
      intercept[IllegalStateException](
        Phases.time("boom") { nap(10); throw new IllegalStateException("x") })
    }
    assert(e.getMessage === "x")
    assert(ph("boom").seconds >= 0.01, ph)
  }

  test("no open recorder: time runs its body and records nothing") {
    assert(Phases.time("nobody")(7) === 7)
    assert(Phases.record(())._2.isEmpty)
  }
}
