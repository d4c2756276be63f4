package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature of an array<long> element set: `numHashes`
  * independent min-hashes, hash i of element v = XXH64(v, seed + i).
  *
  * Why a custom Catalyst Expression: the HOF formulation
  * (`transform(sequence(...), i -> aggregate(elems, ...))`) is
  * CodegenFallback — every lambda step is interpreted, measured at ~10s
  * for 5000 docs × 128 hashes at sf0.1. This single fused loop does the
  * same numHashes × |elems| work in tight generated Java (~25× less).
  * Same minhash semantics (a seeded xxhash64 family); signatures are an
  * internal sketch, not oracle-visible. Empty sets get Long.MaxValue
  * mins (they collide only with other empty docs, exact dupes anyway).
  *
  * LSH band hashes come from [[MinHashBands]], never from slicing this
  * inside a `transform` lambda: that re-evaluates the signature per band
  * (16 times per document at 128/16), and `CollapseProject` inlines a
  * separately projected signature back into the lambda.
  *
  * `lcg = true` switches to the ENGINE-NEUTRAL family (VERDICT r12
  * item 6): hash i of element v = (a_i·(v mod P) + b_i) mod P with
  * P = 2^31 − 1, a_i = (2654435761·(i+1)) mod P, b_i =
  * (40503·(i+1) + 7) mod P — the textbook universal a·x+b permutation
  * family, every step exact 64-bit integer arithmetic that DuckDB
  * replays bit-identically (a_i·(v mod P) + b_i < 2^62, no overflow on
  * either engine). `seed` is unused in this family — the constants ARE
  * the family; callers pin portability, not tunability. */
case class MinHashSig(child: Expression, numHashes: Int, seed: Long,
                      lcg: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  // built once per instance, not once per interpreted row
  @transient private lazy val aCoef = MinHashSig.lcgA(numHashes)
  @transient private lazy val bCoef = MinHashSig.lcgB(numHashes)

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(sign(input.asInstanceOf[ArrayData]))

  private[functions] def sign(a: ArrayData): Array[Long] = {
    import MinHashSig.modP
    val ac = if (lcg) aCoef else null
    val bc = if (lcg) bCoef else null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val n = a.numElements()
    var e = 0
    while (e < n) {
      val v = a.getLong(e)
      val vm = if (lcg) modP(v) else 0L
      var i = 0
      while (i < numHashes) {
        val h =
          if (lcg) modP(ac(i) * vm + bc(i))
          else XXH64.hashLong(v, seed + i)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      e += 1
    }
    mins
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val mins = ctx.freshName("mins")
      s"""
         |long[] $mins;
         |${signCode(ctx, a, mins)}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($mins);
       """.stripMargin
    })

  /** Java assigning the declared `long[] mins` the signature of the
    * ArrayData `a`. */
  private[functions] def signCode(ctx: CodegenContext, a: String, mins: String): String = {
    val e = ctx.freshName("e"); val i = ctx.freshName("i")
    val n = ctx.freshName("n"); val v = ctx.freshName("v")
    val h = ctx.freshName("h")
    val xxh = classOf[XXH64].getName
    val self = "graft.functions.MinHashSig"
    // LCG hot-loop hygiene: the a_i/b_i coefficient arrays live in
    // operator state (one init per task, not per row), v mod P hoists
    // out of the hash loop, and the Mersenne-prime reduction replaces
    // the 64-bit divisions three `%`s would cost per (element, hash) —
    // measured +1.3s on doc_minhash_pairs at sf0.1 with naive mods
    val (setup, hashExpr) =
      if (lcg) {
        val aArr = ctx.addMutableState("long[]", "lcgA",
          vn => s"$vn = $self.lcgA($numHashes);")
        val bArr = ctx.addMutableState("long[]", "lcgB",
          vn => s"$vn = $self.lcgB($numHashes);")
        val vm = ctx.freshName("vm")
        (s"final long $vm = $self.modP($v);",
          s"$self.modP($aArr[$i] * $vm + $bArr[$i])")
      } else ("", s"$xxh.hashLong($v, ${seed}L + $i)")
    s"""
       |$mins = new long[$numHashes];
       |java.util.Arrays.fill($mins, Long.MAX_VALUE);
       |final int $n = $a.numElements();
       |for (int $e = 0; $e < $n; $e++) {
       |  final long $v = $a.getLong($e);
       |  $setup
       |  for (int $i = 0; $i < $numHashes; $i++) {
       |    final long $h = $hashExpr;
       |    if ($h < $mins[$i]) $mins[$i] = $h;
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(elems: Column, numHashes: Int, seed: Long): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(elems), numHashes, seed))

  /** The engine-neutral a·x+b mod P family — see the class doc. */
  def lcg(elems: Column, numHashes: Int): Column =
    GraftShim.column(MinHashSig(GraftShim.expression(elems), numHashes,
      seed = 0L, lcg = true))

  final val P = 2147483647L

  /** x mod P for 0 <= x < 2^62, divisionless: P is Mersenne (2^31 − 1),
    * so two fold-and-add rounds reduce exactly — same value `x % P`
    * yields, which is what the DuckDB oracle computes. */
  def modP(x: Long): Long = {
    var t = (x & P) + (x >>> 31)
    t = (t & P) + (t >>> 31)
    if (t >= P) t - P else t
  }

  def lcgA(n: Int): Array[Long] =
    Array.tabulate(n)(i => (2654435761L * (i + 1)) % P)

  def lcgB(n: Int): Array[Long] =
    Array.tabulate(n)(i => (40503L * (i + 1) + 7) % P)
}

/** LSH band hashes of an array<long> element set, fused: the
  * [[MinHashSig]] signature (same family and `seed`/`lcg`), then band
  * b's hash `xxhash64(slice(sig, b·rows + 1, rows), b)` with rows =
  * numHashes / bands. Bit-identical to that Spark chain (MinHashBandsSpec
  * holds it), so persisted band tables and the DuckDB-replayed portable
  * bands do not change. The chain re-evaluates the signature once per
  * band inside its `transform` lambda, outside whole-stage codegen; this
  * signs each row once, in generated code. A null element set yields
  * what the chain yields: every slice null, so band b = xxhash64(b). */
case class MinHashBands(child: Expression, numHashes: Int, bands: Int,
                        seed: Long, lcg: Boolean = false)
    extends UnaryExpression with ExpectsInputTypes {
  require(bands > 0 && numHashes % bands == 0,
    s"numHashes ($numHashes) must divide into bands ($bands)")

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "minhash_bands"

  @transient private lazy val sig = MinHashSig(child, numHashes, seed, lcg)

  override def eval(input: InternalRow): Any = MinHashBands.fold(
    Option(child.eval(input)).map(v => sig.sign(v.asInstanceOf[ArrayData])).orNull, bands)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val mins = ctx.freshName("mins")
    ev.copy(code =
      code"""
         |${c.code}
         |long[] $mins = null;
         |if (!${c.isNull}) {
         |  ${sig.signCode(ctx, c.value, mins)}
         |}
         |final ${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  graft.functions.MinHashBands.fold($mins, $bands);
       """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

object MinHashBands {
  def apply(elems: Column, numHashes: Int, bands: Int, seed: Long): Column =
    GraftShim.column(MinHashBands(GraftShim.expression(elems), numHashes, bands, seed))

  /** Bands over the engine-neutral family ([[MinHashSig.lcg]]). */
  def lcg(elems: Column, numHashes: Int, bands: Int): Column =
    GraftShim.column(MinHashBands(GraftShim.expression(elems), numHashes, bands,
      seed = 0L, lcg = true))

  /** Spark's xxhash64 of (slice, b) under its default seed 42: fold the
    * slice's longs, then b. A null signature folds no longs. */
  def fold(mins: Array[Long], bands: Int): ArrayData = {
    val rows = if (mins == null) 0 else mins.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 42L
      var r = b * rows
      while (r < (b + 1) * rows) { h = XXH64.hashLong(mins(r), h); r += 1 }
      out(b) = XXH64.hashInt(b, h)
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
