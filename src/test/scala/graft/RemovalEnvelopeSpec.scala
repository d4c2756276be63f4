package graft

import java.util.concurrent.{ExecutionException, Future, TimeUnit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{IndexMaintenance, TextIndex, VectorIndex}

/** The shared removal envelope (`IndexMaintenance.removal`) and its
  * settle-all helper: tag reuse refused and same-pair replays no-op'd
  * for every family that runs through it, concurrent failures surfaced
  * with their real cause, and the logical text and vector verbs' slice
  * of the removal crash matrix ([[RemovalCrashMatrix]]; each other
  * verb's slice runs in its own spec). */
class RemovalEnvelopeSpec extends SparkSpec with RemovalCrashMatrix {
  import IndexFixtures.{copyOf, tmpIdx}

  /** A completed future whose `get` runs `body` (and counts the call). */
  private final class StubFuture[T](body: => T) extends Future[T] {
    @volatile var gets = 0
    def get(): T = { gets += 1; body }
    def get(timeout: Long, unit: TimeUnit): T = get()
    def cancel(mayInterrupt: Boolean): Boolean = false
    def isCancelled: Boolean = false
    def isDone: Boolean = true
  }

  test("settleAll surfaces a cause-less ExecutionException, not a NullPointerException") {
    val f = new StubFuture[Unit](throw new ExecutionException("x", null))
    val ex = intercept[ExecutionException](IndexMaintenance.settleAll(Seq(f)))
    assert(ex.getMessage == "x")
  }

  test("settleAll waits for every future, rethrows the first cause, suppresses the rest") {
    val first = new StubFuture[Int](
      throw new ExecutionException(new IllegalStateException("first")))
    val ok = new StubFuture[Int](7)
    val second = new StubFuture[Int](
      throw new ExecutionException(new IllegalArgumentException("second")))
    val ex = intercept[IllegalStateException](
      IndexMaintenance.settleAll(Seq(first, ok, second)))
    assert(ex.getMessage == "first")
    assert(ex.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
    assert(Seq(first, ok, second).forall(_.gets == 1),
      "every future must be settled before the rethrow")
    assert(IndexMaintenance.settleAll(Seq(ok, new StubFuture[Int](8))) == Seq(7, 8))
  }

  /** One envelope verb: a fresh copy of its built index, the verb, and
    * its freshness read. */
  private final case class Verb(name: String, index: () => String,
                                run: (DataFrame, String, String) => Unit,
                                corpus: DataFrame, idCol: String,
                                fresh: (String, DataFrame) => Boolean)

  private lazy val docs = Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("text")).filter(col("doc_id") < 200L)
    .localCheckpoint()
  private lazy val vecs = Tables.embeddings(spark, sf0001)
    .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 200L)
    .localCheckpoint()

  private lazy val textIdx = { val d = tmpIdx("envelope_tx")
    TextIndex.build(docs, "doc_id", "text", d); d }
  private lazy val vecIdx = { val d = tmpIdx("envelope_vx")
    VectorIndex.build(vecs, d, nlist = 4); d }

  private def textVerb(name: String,
                       run: (DataFrame, String, String) => Unit) =
    Verb(name, () => copyOf(textIdx, "envelope"), run,
      docs, "doc_id", (dir, c) => TextIndex.isFresh(spark, dir, c, "doc_id", "text"))
  private def vectorVerb(name: String,
                         run: (DataFrame, String, String) => Unit) =
    Verb(name, () => copyOf(vecIdx, "envelope"), run,
      vecs, "vec_id", (dir, c) => VectorIndex.isFresh(spark, dir, c))

  private val verbs = Seq(
    textVerb("TextIndex.remove",
      (v, dir, tag) => TextIndex.remove(v, "doc_id", "text", dir, tag = tag)),
    textVerb("TextIndex.logicalRemove",
      (v, dir, tag) => TextIndex.logicalRemove(v, "doc_id", "text", dir, tag = tag)),
    vectorVerb("VectorIndex.remove",
      (v, dir, tag) => VectorIndex.remove(v, dir, tag = tag)),
    vectorVerb("VectorIndex.logicalRemove",
      (v, dir, tag) => VectorIndex.logicalRemove(v, dir, tag = tag)))

  test("envelope refusals: a reused tag is refused, the same pair replays as a no-op") {
    verbs.foreach { verb =>
      val dir = verb.index()
      val id = col(verb.idCol)
      val victims = verb.corpus.filter(id.isin(3L, 41L, 150L))
      val survivors = verb.corpus.filter(!id.isin(3L, 41L, 150L))
      verb.run(victims, dir, "t1")
      assert(verb.fresh(dir, survivors), s"[${verb.name}] survivors after the removal")
      // a different (still indexed) victim set under the used tag
      val ex = intercept[IllegalArgumentException](
        verb.run(verb.corpus.filter(id === 7L), dir, "t1"))
      assert(ex.getMessage.contains("already used") &&
        ex.getMessage.contains("batch-unique"), s"[${verb.name}] ${ex.getMessage}")
      assert(ex.getMessage.startsWith(verb.name), s"[${verb.name}] ${ex.getMessage}")
      // the same pair is the crash replay: re-admitted, subtracted once
      verb.run(victims, dir, "t1")
      assert(verb.fresh(dir, survivors),
        s"[${verb.name}] a replay must not subtract the fingerprint twice")
      assert(!verb.fresh(dir, verb.corpus), s"[${verb.name}] control")
    }
  }

  test("removal crash matrix: the text and vector logical verbs commit rows first") {
    removalCrashMatrix("text.logical", "vector.logical")
  }
}
