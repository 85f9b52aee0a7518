package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass MinHash signer: from a token array, the full
  * `numHashes`-wide MinHash signature AND the distinct shingle-hash set
  * (the exact-Jaccard verification payload), computed row-locally.
  *
  * This makes corpus signing SCAN-SHAPED — the map-only projection
  * `minhash_sig(tokens(text), n, k)` replaces the explode-shingles →
  * groupBy(doc_id) formulation, deleting the one wide shuffle of the
  * signature stage (every shingle hash of the corpus used to ride that
  * exchange). At 100 TB that shuffle is the signature build's entire
  * cost; row-local signing also makes the signer usable inside a
  * Structured Streaming map (no mid-stream aggregation), which is what
  * the streaming ingest dedup gate needs.
  *
  * Bit-identical to the aggregate formulation (spec-asserted): the
  * shingle string is the space-joined token n-gram, its base hash is
  * Spark's `xxhash64(shingle)` (XXH64 over UTF8 bytes, seed 42), and
  * signature slot i is `min(xxhash64(base, i))` — reproduced here via
  * the same XXH64 kernels Spark's expression uses. Duplicate shingles
  * are deduplicated BEFORE the k seeded re-hashes (min is
  * duplicate-insensitive), so the inner loop runs k × distinct, not
  * k × occurrences.
  *
  * Returns null when the document has fewer than `n` tokens — the same
  * "no signature row" semantics the aggregate path had.
  *
  * Registered as SQL `minhash_sig(tokens, n, numHashes)` via
  * [[GraftExtensions]].
  */
case class MinHashSig(children: Seq[Expression]) extends NativeKernel {

  private def tkChild = children(0)

  override def dataType: DataType = StructType(Seq(
    StructField("mh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("ss", ArrayType(LongType, containsNull = false), nullable = false)))

  // null when input is null OR the doc is shorter than one shingle
  override protected def kernelNulls: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def fail(msg: String) = TypeCheckResult.TypeCheckFailure(msg)
    if (children.length != 3) fail("minhash_sig expects (tokens, n, numHashes)")
    else if (!children.drop(1).forall(_.foldable)) fail("n and numHashes must be literals")
    else (tkChild.dataType, children(1).dataType, children(2).dataType) match {
      case (ArrayType(StringType, _), IntegerType, IntegerType) =>
        if (children(1).eval() == null || children(2).eval() == null)
          fail("n and numHashes must not be null")
        else TypeCheckResult.TypeCheckSuccess
      case other => fail(s"expected (array<string>, int, int), got $other")
    }
  }

  @transient private lazy val n: Int = children(1).eval().asInstanceOf[Int]
  @transient private lazy val numHashes: Int = children(2).eval().asInstanceOf[Int]
  @transient private lazy val sep = UTF8String.fromString(" ")

  override protected def rowInputs: Seq[Expression] = children.take(1)
  override protected def kernelName: String = "sign"
  override protected def callKernel(in: Seq[Any]): Any = sign(in.head.asInstanceOf[ArrayData])

  /** One pass: shingle hashes → sort+dedupe → k seeded mins. Returns
    * null for < n tokens. */
  def sign(a: ArrayData): InternalRow = {
    val len = a.numElements()
    if (len < n) return null
    val nShingles = len - n + 1
    val bases = new Array[Long](nShingles)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < nShingles) {
      var j = 0
      while (j < n) { window(j) = a.getUTF8String(i + j); j += 1 }
      bases(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, window: _*), 42L)
      i += 1
    }
    java.util.Arrays.sort(bases)
    var distinct = 0
    i = 0
    while (i < nShingles) {
      if (distinct == 0 || bases(i) != bases(distinct - 1)) {
        bases(distinct) = bases(i); distinct += 1
      }
      i += 1
    }
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    i = 0
    while (i < distinct) {
      // xxhash64(base, seed_i) exactly as the column expression computes
      // it: fold base (long) then the int literal i into the running hash
      val h0 = XXH64.hashLong(bases(i), 42L)
      var k = 0
      while (k < numHashes) {
        val h = XXH64.hashInt(k, h0)
        if (h < mins(k)) mins(k) = h
        k += 1
      }
      i += 1
    }
    InternalRow(new GenericArrayData(mins),
      new GenericArrayData(java.util.Arrays.copyOf(bases, distinct)))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object MinHashSig {
  /** Column entry point: struct(mh: array<long>, ss: array<long>), null
    * for docs shorter than one shingle. */
  def minhashSig(tokens: Column, n: Int, numHashes: Int): Column =
    call_function("minhash_sig", tokens, lit(n), lit(numHashes))
}
