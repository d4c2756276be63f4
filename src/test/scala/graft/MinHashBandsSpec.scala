package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashBands, MinHashSig}

/** The fused band kernel must be BIT-IDENTICAL to the Spark chain it
  * replaced — `xxhash64(slice(sig, b·rows + 1, rows), b)` per band over
  * the same signature — in both hash families and both eval modes, so
  * persisted band tables and the DuckDB-replayed portable bands are
  * unchanged by the fusion. */
class MinHashBandsSpec extends SparkSpec {
  import spark.implicits._

  /** The replaced chain, kept here as the oracle. */
  private def chain(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows)), b))

  // null, empty, singleton, extreme values, then random sorted sets
  private val sets: Seq[Option[Seq[Long]]] = {
    val rnd = new scala.util.Random(11)
    Seq(None, Some(Seq.empty), Some(Seq(7L)),
      Some(Seq(Long.MinValue, -1L, 0L, Long.MaxValue))) ++
      (1 to 40).map(_ => Some(Seq.fill(1 + rnd.nextInt(150))(rnd.nextLong()).distinct.sorted))
  }

  // an RDD-backed frame, so the optimizer cannot fold the projections
  // into a local relation and the chosen eval mode really runs them
  private def toks: DataFrame =
    spark.sparkContext.parallelize(sets.zipWithIndex.map(_.swap), 2).toDF("id", "toks")

  private def inMode[T](codegen: Boolean)(f: => T): T = {
    val conf = Map(
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> (!codegen).toString)
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    try { conf.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private val families: Seq[(String, (Int, Int) => Column, Int => Column)] = Seq(
    ("xxhash", (n, b) => MinHashBands(col("toks"), n, b, 42L),
      n => MinHashSig(col("toks"), n, 42L)),
    ("lcg", (n, b) => MinHashBands.lcg(col("toks"), n, b),
      n => MinHashSig.lcg(col("toks"), n)))

  for {
    (family, kernel, sig) <- families
    (numHashes, bands) <- Seq((128, 16), (16, 16), (8, 1))
    codegen <- Seq(true, false)
  } test(s"$family ($numHashes, $bands) equals the slice/xxhash64 chain, " +
      s"${if (codegen) "codegen" else "interpreted"}") {
    val got = inMode(codegen) {
      toks.select(col("id"), kernel(numHashes, bands).as("k"),
          chain(sig(numHashes), bands, numHashes / bands).as("o"))
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getSeq[Long](2)))
    }
    assert(got.length === sets.length)
    got.foreach { case (id, k, o) =>
      assert(k.length === bands, s"row $id")
      assert(k === o, s"row $id (${sets(id).map(_.size)} tokens)")
    }
  }

  test("interpreted and codegen signatures agree in both families") {
    families.foreach { case (family, _, sig) =>
      val Seq(gen, interp) = Seq(true, false).map(c => inMode(c) {
        toks.select(col("id"), sig(64).as("s")).orderBy("id").collect().toSeq
      })
      assert(gen === interp, family)
    }
  }
}
