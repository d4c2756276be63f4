package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Named wall-time phases, recorded once and read by whoever opened a
  * recorder.
  *
  * Code that does a step worth attributing wraps it in
  * `Phases.time("name") { ... }`; that adds the step's wall seconds to
  * the innermost recorder open on the calling thread, and does nothing
  * when none is open. A reader opens one with [[record]] — Bench around
  * each timed run of each row, RunQuery around its warm run — and gets
  * every phase the call made, with its nesting depth.
  *
  * The open recorder and the current depth ride an
  * `InheritableThreadLocal`, so a thread created inside a phase starts
  * inside it: the per-call pools of `IndexMaintenance.parallel` record
  * into the caller's recorder at the next depth. A closed recorder
  * ignores late phases from threads that outlive it (a cached Spark
  * pool). Two recorders open on two threads never see each other's.
  *
  * A name timed more than once in one recorder accumulates its seconds
  * and keeps the depth of its first start. */
object Phases {

  /** `depth` 0 is a phase opened directly under [[record]]; a phase
    * timed inside another sits one deeper. */
  final case class Phase(depth: Int, seconds: Double)

  private final class Entry(val depth: Int, val order: Long) {
    val nanos = new LongAdder
  }

  private final class Recorder {
    val entries = new ConcurrentHashMap[String, Entry]()
    val starts = new AtomicLong
    @volatile var open = true
  }

  private final case class Frame(rec: Recorder, depth: Int)

  private val current = new InheritableThreadLocal[Frame]

  def time[T](name: String)(f: => T): T = {
    val fr = current.get()
    if (fr == null || !fr.rec.open) f
    else {
      val e = fr.rec.entries.computeIfAbsent(name,
        _ => new Entry(fr.depth, fr.rec.starts.getAndIncrement()))
      current.set(Frame(fr.rec, fr.depth + 1))
      val t0 = System.nanoTime()
      try f
      finally {
        e.nanos.add(System.nanoTime() - t0)
        current.set(fr)
      }
    }
  }

  /** Run `f` under a fresh recorder; its value, and its phases in the
    * order they first started. */
  def record[T](f: => T): (T, ListMap[String, Phase]) = {
    val prev = current.get()
    val rec = new Recorder
    current.set(Frame(rec, 0))
    try {
      val r = f
      (r, ListMap.from(rec.entries.asScala.toSeq.sortBy(_._2.order).map {
        case (k, e) => k -> Phase(e.depth, e.nanos.sum() / 1e9)
      }))
    } finally {
      rec.open = false
      current.set(prev)
    }
  }

  /** One line per phase: depth, name indented by depth, seconds. */
  def lines(phases: Map[String, Phase]): Seq[String] =
    phases.toSeq.map { case (k, p) =>
      f"${p.depth}%d ${"  " * p.depth}$k%-24s ${p.seconds}%8.3f s"
    }
}
