package graft.functions

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Aho–Corasick multi-pattern literal scan (C88) — the blocklist
 * primitive every large-corpus safety filter needs: ONE pass over each
 * document's bytes counts every pattern of an arbitrary phrase list,
 * where the per-pattern alternative (|patterns| regex/`contains`
 * passes) rescans the corpus once per phrase. The automaton is built
 * once on the driver, embedded in the codegen'd plan via
 * `addReferenceObj` (the [[BpeCodec]] device), and each row costs
 * O(bytes + matches) regardless of list size — the right shape for a
 * 10k-phrase blocklist over 100 TB.
 *
 * Matching contract: per-pattern occurrence counts over the UTF-8
 * bytes, ALL match positions counted independently per pattern
 * (patterns may overlap each other and nest — "stream" inside
 * "data stream" counts for both). Patterns must be BORDER-FREE (no
 * proper prefix that is also a suffix, checked at build): a border-free
 * pattern cannot overlap itself, so the all-positions count equals the
 * greedy non-overlapping count and the result is replayable in any SQL
 * engine as `(length(t) - length(replace(t, p, ''))) / length(p)` —
 * the determinism contract the q_c88 oracle uses.
 *
 * Memory contract (the r12 verdict finding): the goto-DFA's dense
 * form costs `states × 256 × 4 B` — ~200 MB of plan-embedded state at
 * a 10k-phrase blocklist (~200k trie nodes), shipped to and resident
 * on EVERY executor. Small automata (≤ [[AcAutomaton.DenseStateLimit]]
 * states, ≤ 8 MB) keep the dense table (one array load per input
 * byte); larger ones switch to a CSR sparse-transition + fail-link
 * representation — O(total pattern bytes) memory (~5 B per trie edge;
 * a 10k-phrase list is ~1 MB), matching via binary search over each
 * state's sorted byte keys with classic fail-link descent (amortized
 * O(bytes · log maxFanout): fail descents are bounded by total depth
 * gained). [[AcAutomaton.approxBytes]] reports the measured footprint.
 */
final class AcAutomaton private (
    val patterns: Array[String],
    goTo: Array[Array[Int]],       // dense DFA, null when sparse
    fail: Array[Int],              // fail links, null when dense
    csrOff: Array[Int],            // CSR row offsets (n+1), null when dense
    csrKey: Array[Byte],           // sorted transition bytes per state
    csrTgt: Array[Int],            // transition targets, aligned to csrKey
    outs: Array[Array[Int]]) extends Serializable {

  def numStates: Int = outs.length
  def isDense: Boolean = goTo != null

  /** Measured representation footprint in bytes (transition structure
   * only — outs/patterns are O(patterns) in both forms). */
  def approxBytes: Long =
    if (isDense) numStates.toLong * 256L * 4L
    else csrKey.length.toLong * 5L + (numStates + 1).toLong * 4L * 2L

  /** One sparse step: follow the state's sorted transitions, descending
   * fail links on a miss (root misses stay at root). */
  private def stepSparse(state0: Int, c: Int): Int = {
    var s = state0
    while (true) {
      var lo = csrOff(s)
      var hi = csrOff(s + 1) - 1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = csrKey(mid) & 0xFF
        if (k == c) return csrTgt(mid)
        else if (k < c) lo = mid + 1
        else hi = mid - 1
      }
      if (s == 0) return 0
      s = fail(s)
    }
    0 // unreachable
  }

  /** Per-pattern occurrence counts over the UTF-8 bytes of `text`. */
  def countAll(text: UTF8String): Array[Long] = {
    val counts = new Array[Long](patterns.length)
    var state = 0
    var i = 0
    val n = text.numBytes()
    val dense = goTo
    while (i < n) {
      val c = text.getByte(i) & 0xFF
      state = if (dense != null) dense(state)(c) else stepSparse(state, c)
      val o = outs(state)
      var k = 0
      while (k < o.length) { counts(o(k)) += 1L; k += 1 }
      i += 1
    }
    counts
  }

  /** Earliest byte offset of any match end (-1 if clean) — the cheap
   * short-circuit for admission firewalls that only need a verdict. */
  def firstMatchEnd(text: UTF8String): Int = {
    var state = 0
    var i = 0
    val n = text.numBytes()
    val dense = goTo
    while (i < n) {
      val c = text.getByte(i) & 0xFF
      state = if (dense != null) dense(state)(c) else stepSparse(state, c)
      if (outs(state).length > 0) return i
      i += 1
    }
    -1
  }

  override def equals(other: Any): Boolean = other match {
    case a: AcAutomaton => java.util.Arrays.equals(
      patterns.asInstanceOf[Array[AnyRef]], a.patterns.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Arrays.hashCode(patterns.asInstanceOf[Array[AnyRef]])
}

object AcAutomaton {

  /** KMP failure of the full pattern > 0 ⇔ a proper border exists. */
  private def hasProperBorder(p: Array[Byte]): Boolean = {
    val f = new Array[Int](p.length)
    var k = 0
    var i = 1
    while (i < p.length) {
      while (k > 0 && p(i) != p(k)) k = f(k - 1)
      if (p(i) == p(k)) k += 1
      f(i) = k
      i += 1
    }
    f(p.length - 1) > 0
  }

  /** Above this many trie states the automaton switches from the dense
   * goto DFA (states×1 KiB — 8 MiB at the limit) to the CSR
   * sparse+fail representation (O(pattern bytes)). */
  val DenseStateLimit: Int = 8192

  def build(patterns: Seq[String]): AcAutomaton =
    build(patterns, DenseStateLimit)

  /** `denseStateLimit` is test surface: 0 forces the sparse path. */
  private[graft] def build(patterns: Seq[String], denseStateLimit: Int): AcAutomaton = {
    require(patterns.nonEmpty, "blocklist must be non-empty")
    require(patterns.distinct.size == patterns.size,
      "blocklist patterns must be distinct")
    val pbytes = patterns.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    pbytes.zipWithIndex.foreach { case (b, i) =>
      require(b.nonEmpty, s"pattern ${i} is empty")
      require(!hasProperBorder(b),
        s"pattern '${patterns(i)}' has a proper border (prefix == suffix): " +
          "self-overlapping patterns break the non-overlapping-count replay contract")
    }
    // Sparse byte trie (sorted per-node maps) — the build itself must
    // not allocate states×256 ints, or a 10k-phrase driver build pays
    // the dense footprint transiently even when the result is sparse.
    val children = ArrayBuffer(scala.collection.mutable.TreeMap.empty[Int, Int])
    val owned = ArrayBuffer(List.empty[Int])
    pbytes.zipWithIndex.foreach { case (b, pi) =>
      var node = 0
      b.foreach { byte =>
        val c = byte & 0xFF
        node = children(node).getOrElse(c, {
          children += scala.collection.mutable.TreeMap.empty[Int, Int]
          owned += Nil
          children(node)(c) = children.length - 1
          children.length - 1
        })
      }
      owned(node) = pi :: owned(node)
    }
    val n = children.length
    val fail = new Array[Int](n)
    val outs = new Array[Array[Int]](n)
    outs(0) = owned(0).toArray
    // trie-edge lookup with fail-link descent (root miss → root)
    def step(state0: Int, c: Int): Int = {
      var s = state0
      while (true) {
        children(s).get(c) match {
          case Some(t) => return t
          case None => if (s == 0) return 0 else s = fail(s)
        }
      }
      0 // unreachable
    }
    // BFS: fail links + merged outputs over the sparse trie
    val queue = new java.util.ArrayDeque[Int]()
    children(0).valuesIterator.foreach { v =>
      fail(v) = 0
      outs(v) = (owned(v) ++ outs(0)).sorted.toArray
      queue.add(v)
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      children(u).foreach { case (c, v) =>
        fail(v) = step(fail(u), c)
        outs(v) = (owned(v) ++ outs(fail(v))).sorted.toArray
        queue.add(v)
      }
    }
    if (n <= denseStateLimit) {
      // dense goto DFA: one array load per input byte
      val goTo = Array.tabulate(n) { s =>
        val row = new Array[Int](256)
        var c = 0
        while (c < 256) { row(c) = step(s, c); c += 1 }
        row
      }
      new AcAutomaton(patterns.toArray, goTo, null, null, null, null, outs)
    } else {
      // CSR sparse transitions + fail links: O(trie edges) memory
      val csrOff = new Array[Int](n + 1)
      var i = 0
      while (i < n) { csrOff(i + 1) = csrOff(i) + children(i).size; i += 1 }
      val csrKey = new Array[Byte](csrOff(n))
      val csrTgt = new Array[Int](csrOff(n))
      i = 0
      while (i < n) {
        var j = csrOff(i)
        children(i).foreach { case (c, t) => // TreeMap: sorted by key
          csrKey(j) = c.toByte; csrTgt(j) = t; j += 1
        }
        i += 1
      }
      new AcAutomaton(patterns.toArray, null, fail, csrOff, csrKey, csrTgt, outs)
    }
  }
}

/** `array<bigint>` of per-pattern occurrence counts — codegen'd single
 * call per row against the embedded [[AcAutomaton]]. */
case class BlocklistCounts(child: Expression, ac: AcAutomaton)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "blocklist_counts"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    new GenericArrayData(ac.countAll(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", ac, "graft.functions.AcAutomaton")
    nullSafeCodeGen(ctx, ev, str =>
      s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  $ref.countAll($str));""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistCounts =
    copy(child = newChild)
}

object BlocklistCounts {
  def apply(text: Column, patterns: Seq[String]): Column =
    Shim.column(BlocklistCounts(Shim.expression(text), AcAutomaton.build(patterns)))
}

/** Byte offset (0-based, inclusive end position) of the FIRST blocklist
 * match, -1 when clean — the admission-firewall verdict column. */
case class BlocklistFirstHit(child: Expression, ac: AcAutomaton)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "blocklist_first_hit"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string column, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    ac.firstMatchEnd(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", ac, "graft.functions.AcAutomaton")
    nullSafeCodeGen(ctx, ev, str => s"${ev.value} = $ref.firstMatchEnd($str);")
  }

  override protected def withNewChildInternal(newChild: Expression): BlocklistFirstHit =
    copy(child = newChild)
}

object BlocklistFirstHit {
  def apply(text: Column, patterns: Seq[String]): Column =
    Shim.column(BlocklistFirstHit(Shim.expression(text), AcAutomaton.build(patterns)))
}
