package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/**
 * Single-pass codegen'd sketch signatures over a token array.
 *
 * The SQL-composable formulations (explode shingles → groupBy(id) with
 * `numHashes` × `min(xxhash64(...))` aggregate columns) are correct and
 * whole-stage-codegen'd, but they cost a hash-aggregate exchange per
 * signature batch and generate a 64-aggregate function. These
 * expressions compute the identical signatures (bit-for-bit: same
 * xxhash64 fold, seed 42) in one tight Java loop per row — **map-only**,
 * no exchange, no per-shingle string materialization — which is the
 * shape that matters when signing 100 TB of documents: the only
 * shuffle left in MinHash-LSH dedup is the banded bucket join itself.
 */
abstract class TokenSketch extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string> tokens, got ${other.simpleString}")
  }
}

/**
 * MinHash signature: for each of `numHashes` hash functions, the min
 * over all word `shingleSize`-shingles of `xxhash64(shingle, i)`.
 * Shingle semantics match [[TextFunctions.shingles]]: `tokens.length <
 * shingleSize` degrades to one whole-text shingle; shingle text is the
 * tokens joined with a single space.
 */
case class MinHashSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends TokenSketch {

  require(shingleSize > 0 && numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = MinHashSig.compute(arr, shingleSize, numHashes, new Array[Long](numHashes))
    new GenericArrayData(sig.clone())
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sigBuf = ctx.addMutableState("long[]", "mhSig",
      v => s"$v = new long[$numHashes];")
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  (long[]) graft.functions.MinHashSig.compute(
         |    $arr, $shingleSize, $numHashes, $sigBuf).clone());
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {

  def apply(tokens: Column, shingleSize: Int, numHashes: Int): Column =
    Shim.column(MinHashSig(Shim.expression(tokens), shingleSize, numHashes))

  /** Hot loop shared by interpreted eval and codegen (JIT-compiled once;
   * the codegen call is a single static invoke, so there is nothing to
   * gain from inlining the loop into generated Java). Returns `sig`. */
  def compute(arr: ArrayData, shingleSize: Int, numHashes: Int, sig: Array[Long]): Array[Long] = {
    java.util.Arrays.fill(sig, Long.MaxValue)
    val numTok = arr.numElements()
    val winLen = if (numTok >= shingleSize) shingleSize else numTok
    val nWindows = if (numTok >= shingleSize) numTok - shingleSize + 1 else 1
    var buf = new Array[Byte](256)
    var w = 0
    while (w < nWindows) {
      var len = 0
      var k = 0
      while (k < winLen) {
        val t = arr.getUTF8String(w + k)
        if (t != null) {
          val tb = t.numBytes()
          if (len + tb + 1 > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + tb + 1))
          }
          if (k > 0) { buf(len) = ' '.toByte; len += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += tb
        } else if (k > 0) { buf(len) = ' '.toByte; len += 1 }
        k += 1
      }
      // identical fold to Spark's xxhash64(shingle, i): seed 42 → string
      // bytes → int literal
      val h1 = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      var j = 0
      while (j < numHashes) {
        val hj = XXH64.hashInt(j, h1)
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      w += 1
    }
    sig
  }
}

/**
 * Word n-gram shingles over a token array in one tight loop — the
 * string-materializing sibling of [[MinHashSig]] for operators that
 * need the shingle *text* (n-gram Jaccard verification, benchmark
 * decontamination joins). Output is identical to the HOF formulation
 * `transform(sequence(...), i => concat_ws(" ", slice(tokens, i+1, n)))`
 * with the `< n` whole-text degradation, but Spark executes
 * higher-order lambdas interpreted per element (one closure call and
 * Row boxing per shingle), while this is a single static call per row:
 * byte-level assembly into one reused buffer, ~5-10x less per-row cost
 * on the explode-heavy dedup paths.
 */
case class WordShingles(child: Expression, n: Int) extends TokenSketch {

  require(n > 0)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"

  override protected def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.WordShingles.compute($arr, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object WordShingles {

  def apply(tokens: Column, n: Int): Column =
    Shim.column(WordShingles(Shim.expression(tokens), n))

  /** Builds each shingle's bytes in a reused buffer, copying out one
   * exact-size array per shingle (the unavoidable materialization).
   * concat_ws semantics exactly: null tokens are skipped without a
   * separator; EMPTY tokens are values and keep their joining space
   * (a leading tab makes split() emit a leading "" token — the shingle
   * must be " foo bar", not "foo bar", to match the HOF formulation
   * and the DuckDB array_to_string oracles). */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val numTok = arr.numElements()
    val winLen = if (numTok >= n) n else numTok
    val nWindows = if (numTok >= n) numTok - n + 1 else 1
    val out = new Array[Any](nWindows)
    var buf = new Array[Byte](256)
    var w = 0
    while (w < nWindows) {
      var len = 0
      var wrote = false
      var k = 0
      while (k < winLen) {
        val t = arr.getUTF8String(w + k)
        if (t != null) {
          val tb = t.numBytes()
          if (len + tb + 1 > buf.length) {
            buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, len + tb + 1))
          }
          if (wrote) { buf(len) = ' '.toByte; len += 1 }
          t.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + len)
          len += tb
          wrote = true
        }
        k += 1
      }
      out(w) = UTF8String.fromBytes(java.util.Arrays.copyOf(buf, len))
      w += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * 64-bit SimHash: bit j is set iff the sum over tokens of ±1 votes
 * (sign of bit j of `xxhash64(token)`) is positive. Bit-identical to
 * the SQL formulation (`sum(shiftright(xxhash64(tok), j) & 1 … )`).
 */
case class SimHash64(child: Expression) extends TokenSketch {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override protected def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData], new Array[Int](64))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val votes = ctx.addMutableState("int[]", "shVotes",
      v => s"$v = new int[64];")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.SimHash64.compute($arr, $votes);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {

  def apply(tokens: Column): Column =
    Shim.column(SimHash64(Shim.expression(tokens)))

  def compute(arr: ArrayData, votes: Array[Int]): Long = {
    java.util.Arrays.fill(votes, 0)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t != null) {
        val h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 42L)
        var j = 0
        while (j < 64) {
          votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) sig |= 1L << j
      j += 1
    }
    sig
  }
}

/**
 * The C2/C93/C121 md5₅₂ MinHash signature computed MAP-ONLY per row
 * (D32's streaming shape: no aggregate is allowed before
 * `flatMapGroupsWithState`, so the per-doc slot minima must be a
 * per-row expression). Bit-identical to the batch aggregate chain —
 * gram hash h = md5₅₂(shingle text), slot j = min over grams of
 * md5₅₂(h ∥ "_j") — so the SAME oracle SQL replays stream and batch.
 * Shingle semantics match [[TextFunctions.shingles]] (`< shingleSize`
 * tokens degrade to one whole-text shingle, single-space joins).
 * Every hash is [[Md5HexSlice.md552]]; no per-shingle string churn
 * beyond the md5 inputs themselves.
 */
case class Md5MinhashSig(child: Expression, shingleSize: Int, numHashes: Int)
    extends TokenSketch {

  require(shingleSize > 0 && numHashes > 0)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_minhash_sig"

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    new GenericArrayData(
      Md5MinhashSig.compute(arr, shingleSize, numHashes))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => {
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.Md5MinhashSig.compute($arr, $shingleSize, $numHashes));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Md5MinhashSig =
    copy(child = newChild)
}

object Md5MinhashSig {

  def apply(tokens: Column, shingleSize: Int, numHashes: Int): Column =
    Shim.column(Md5MinhashSig(Shim.expression(tokens), shingleSize, numHashes))

  def compute(arr: ArrayData, shingleSize: Int, numHashes: Int): Array[Long] = {
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val numTok = arr.numElements()
    if (numTok == 0) return sig
    val winLen = if (numTok >= shingleSize) shingleSize else numTok
    val nWindows = if (numTok >= shingleSize) numTok - shingleSize + 1 else 1
    val sb = new java.lang.StringBuilder()
    var w = 0
    while (w < nWindows) {
      sb.setLength(0)
      var k = 0
      while (k < winLen) {
        if (k > 0) sb.append(' ')
        val t = arr.getUTF8String(w + k)
        if (t != null) sb.append(t.toString)
        k += 1
      }
      val h = Md5HexSlice.md552(sb.toString
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < numHashes) {
        // md5(CAST(h AS VARCHAR) || '_' || j), ASCII bytes
        val hj = Md5HexSlice.md552((java.lang.Long.toString(h) + "_" + j)
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        if (hj < sig(j)) sig(j) = hj
        j += 1
      }
      w += 1
    }
    sig
  }
}
