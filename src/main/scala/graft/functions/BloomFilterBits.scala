package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit, typedlit, xxhash64}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType}

/** Native Bloom-filter membership probe: `bloom_contains(h1, h2, bits,
  * k)` tests whether the double-hashed key (h1 + i·h2 for i < k, each
  * reduced mod the filter's bit width) has every probed bit set in the
  * CONSTANT bitset literal — the key-set pruning the reference's
  * shuffle never does (dfs/compute_engine/compute_engine.go:141-157
  * ships every mapper output file whole), as a broadcast-able scalar.
  *
  * The bitset rides into the expression as a foldable array<long>
  * literal and is unpacked ONCE per task (the [[NearestCells]]
  * convention), so membership is a map-only projection inside
  * whole-stage codegen — no join, no shuffle, no broadcast exchange.
  * k probes touch at most k words of a bit array whose size the CALLER
  * chose (1 MiB of longs covers 2²³ bits), which is what makes this
  * the semi-join reduction primitive at 100 TB: the build side's key
  * set compressed to a fixed byte budget that ships as plan metadata.
  *
  * No false negatives by construction — a key inserted by
  * [[graft.operators.BloomJoin.buildBits]] always probes the same k
  * positions (same xxhash64 column hashes on both sides), so every
  * present key passes; absent keys pass with probability ≈
  * (1 - e^(-kn/m))^k, and [[graft.operators.BloomJoin]] re-checks
  * survivors with an EXACT join, so the filter's accuracy affects
  * only bytes moved, never results.
  *
  * Registered as SQL `bloom_contains(h1, h2, bits, k)` via
  * [[GraftExtensions]].
  */
case class BloomContains(children: Seq[Expression]) extends NativeKernel {

  override def dataType: DataType = BooleanType
  override def foldable: Boolean = children.forall(_.foldable)
  override def prettyName: String = "bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 4) fail("bloom_contains expects (h1, h2, bits, k)")
    else if (children(0).dataType != LongType || children(1).dataType != LongType)
      fail(s"h1/h2 must be bigint, got ${children(0).dataType.simpleString}, " +
        children(1).dataType.simpleString)
    else if (!children(2).foldable || !children(3).foldable)
      fail("bits and k must be literals")
    else (children(2).dataType, children(3).dataType) match {
      case (ArrayType(LongType, _), IntegerType) => TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected (array<bigint>, int), got $other")
    }
  }

  /** Constant state, unpacked once per task from the literal children. */
  @transient private lazy val bits: Array[Long] =
    children(2).eval().asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val kProbes: Int =
    children(3).eval().asInstanceOf[Int]
  @transient private lazy val mBits: Long = bits.length.toLong * 64L

  override protected def rowInputs: Seq[Expression] = children.take(2)
  override protected def kernelName: String = "member"
  override protected def callKernel(in: Seq[Any]): Any =
    member(in(0).asInstanceOf[Long], in(1).asInstanceOf[Long])

  /** Whether the key hashed to (h1, h2) may be in the constant bitset. */
  def member(h1: Long, h2: Long): Boolean = BloomContains.probe(bits, mBits, kProbes, h1, h2)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object BloomContains {
  /** Second xxhash64 stream: the same key column hashed with this
    * constant appended — an independent 64-bit draw, so double hashing
    * h1 + i·h2 gives k distinct probe sequences from two hash jobs. */
  val Seed2: Long = 0x9E3779B97F4A7C15L

  /** The probe kernel behind [[BloomContains.member]]: k double-hashed
    * positions, all bits must be set. Both hashes reduce mod m BEFORE combining — `(h1' + i·h2') mod m` with
    * h1', h2' < m never overflows (k ≤ 16, m ≤ 2³¹), and insertion
    * ([[graft.operators.BloomJoin.buildBits]]) uses the identical
    * mod-first form, so ANSI mode stays happy on both paths and the
    * no-false-negative contract is arithmetic, not luck. */
  def probe(bits: Array[Long], mBits: Long, k: Int, h1: Long, h2: Long): Boolean = {
    var h1m = h1 % mBits; if (h1m < 0) h1m += mBits
    var h2m = h2 % mBits; if (h2m < 0) h2m += mBits
    var i = 0
    while (i < k) {
      val p = (h1m + i.toLong * h2m) % mBits
      if (((bits((p >>> 6).toInt) >>> (p & 63L).toInt) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** Both hash streams for a key column — the ONE definition insertion
    * ([[graft.operators.BloomJoin.buildBits]]) and probe share, so no
    * false negative is possible by construction. xxhash64 never
    * returns null (a null key hashes to the empty-input digest), so
    * null probe keys deterministically route like any other value. */
  def hashPair(key: Column): (Column, Column) =
    (xxhash64(key), xxhash64(key, lit(Seed2)))

  /** Membership probe column over a prepared bitset. */
  def mightContain(bitsArr: Array[Long], key: Column, k: Int): Column = {
    val (h1, h2) = hashPair(key)
    call_function("bloom_contains", h1, h2, typedlit(bitsArr), lit(k))
  }
}
