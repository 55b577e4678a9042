package graft.expressions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** KMV (k-minimum-values) distinct-count sketch — the mergeable cardinality
  * estimator for 100 TB rollups (Bar-Yossef et al. 2002's "Counting distinct
  * elements in a data stream" estimator; the same bottom-k idea underlies
  * the theta sketch family).
  *
  * Why a sketch and not `countDistinct`: exact distinct is a full shuffle of
  * every distinct key to its group — at 100 TB the distinct set IS the data.
  * The KMV buffer is O(k) per group, partial-aggregates map-side (Spark
  * plans a TypedImperativeAggregate exactly like percentile_approx: partial
  * buffers merge associatively through ObjectHashAggregate), and two
  * sketches merge by unioning and re-truncating — the estimate for a month
  * is computable from daily sketches without touching the raw keys again.
  *
  * Determinism contract (the SURVEY §4 rule): the sketch state is the set of
  * k smallest DISTINCT hash values in UNSIGNED order — a pure function of
  * the input value set, independent of row order, partitioning, or merge
  * tree shape. The estimate floor((k−1)·2⁶⁴ / kth_min) is exact integer
  * arithmetic (BigInt here, HUGEINT in the oracle), so the sketch output is
  * hash-exact across engines — an APPROXIMATE operator with an EXACT oracle.
  */
object KmvSketch {

  /** splitmix64 finalizer (Steele et al., the JDK SplittableRandom mix) —
    * identical constants to [[TokenShingleHashes]]'s mix and to the staged
    * HUGEINT emulation in OracleHashSql.mixCtes, so sketch inputs are
    * re-derivable bit-for-bit in SQL.
    */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private val Two64 = BigInt(1) << 64

  /** The one estimator definition every KMV surface shares (batch
    * aggregates and the streaming twin): exact count below fill, else
    * (floor((k−1)·2⁶⁴ / kth_unsigned), Some(kth)).
    */
  def estimate(buffer: KmvBuffer): (Long, Option[Long]) = {
    val n = buffer.set.size()
    if (n < buffer.k) (n.toLong, None)
    else {
      val kth = buffer.set.last().longValue()
      val u = (BigInt(kth) & (Two64 - 1)).max(BigInt(1))
      // Clamp instead of truncating: a pathologically small unsigned kth
      // (all k minima below ~2k — needs ~2⁶⁰ distinct inputs at k=64 to
      // arise by chance) would push the BigInt quotient past Long range,
      // and BigInt.longValue silently wraps where the oracle's
      // CAST(.. AS BIGINT) errors. Long.MaxValue is the defined saturation
      // for "more distinct values than a BIGINT can count".
      (((BigInt(buffer.k - 1) * Two64) / u).min(BigInt(Long.MaxValue)).longValue, Some(kth))
    }
  }

  def splitmix64(c: Column): Column = ColumnBridge.column(Splitmix64(ColumnBridge.expression(c)))

  /** KMV sketch aggregate over a pre-hashed long column. Output struct:
    * (est BIGINT, kth BIGINT nullable) — kth is the k-th smallest hash in
    * signed representation (NULL below fill), est the cardinality estimate
    * (exact count below fill).
    */
  def kmvDistinct(hashCol: Column, k: Int): Column =
    ColumnBridge.column(KmvDistinct(ColumnBridge.expression(hashCol), k).toAggregateExpression())

  /** The sketch STATE as a persistable value: array<long> of the k-min set
    * in unsigned ascending order. Write these to a rollup table; any later
    * union (month from days, global from per-source) re-aggregates the
    * states with [[kmvMerge]] — no re-scan of the raw keys, ever.
    */
  def kmvState(hashCol: Column, k: Int): Column =
    ColumnBridge.column(KmvState(ColumnBridge.expression(hashCol), k).toAggregateExpression())

  /** Union-merge of persisted sketch states (array<long> column) back into
    * the (est, kth) summary. Exactness contract: k-min(∪ sets) ==
    * k-min(∪ k-min sets), so merging states gives the IDENTICAL sketch —
    * and therefore the identical estimate — as sketching the raw union
    * (q64 oracle-checks exactly that).
    */
  def kmvMerge(stateCol: Column, k: Int): Column =
    ColumnBridge.column(KmvMerge(ColumnBridge.expression(stateCol), k).toAggregateExpression())

  /** Quantile sketch over (rowHash, value): the k rows with the smallest
    * UNSIGNED hashes form a deterministic uniform sample (bottom-k by a
    * unique row key's splitmix64 — a seeded simple random sample that is a
    * pure function of the row set: order-, partition- and merge-tree-
    * independent, unlike every insertion-order sketch in the KLL/t-digest
    * family). Quantiles are q26's type-1 picks over the sample, sorted by
    * (value, hash). Output struct: (n_sample, p50, p90) — exact quantiles
    * below fill, sample quantiles (±~1/√k) above.
    *
    * Null contract: rows whose VALUE is null are skipped (never sampled,
    * never counted in n_sample) — any cross-engine re-derivation must
    * filter nulls before sampling or the sampled sets diverge (ADVICE r7).
    */
  def quantileSketch(hashCol: Column, valueCol: Column, k: Int): Column =
    ColumnBridge.column(QuantileSketch(
      ColumnBridge.expression(hashCol), ColumnBridge.expression(valueCol), k)
      .toAggregateExpression())
}

/** splitmix64 of a long, as a codegen scalar expression. */
case class Splitmix64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "splitmix64"

  override def nullSafeEval(input: Any): Any = KmvSketch.mix(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val z = ctx.freshName("z")
      s"""
         |long $z = $c + 0x9E3779B97F4A7C15L;
         |$z = ($z ^ ($z >>> 30)) * 0xBF58476D1CE4E5B9L;
         |$z = ($z ^ ($z >>> 27)) * 0x94D049BB133111EBL;
         |${ev.value} = $z ^ ($z >>> 31);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Mutable KMV state: the k smallest distinct hashes seen, in unsigned
  * order. TreeSet gives O(log k) insert/evict and O(1) max lookup; k is
  * small (64–1024), so the per-group buffer is a few KB.
  */
final class KmvBuffer(val k: Int) {
  val set: java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long](new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int =
        java.lang.Long.compareUnsigned(a, b)
    })

  def insert(h: Long): Unit = {
    if (set.size() < k) { set.add(h); () }
    else if (java.lang.Long.compareUnsigned(h, set.last()) < 0) {
      // strictly below the current k-th: admit and evict the max. An equal
      // hash is already present (distinct set), so no-op is correct.
      if (set.add(h)) set.pollLast()
      ()
    }
  }

  def mergeIn(other: KmvBuffer): Unit = {
    val it = other.set.iterator()
    while (it.hasNext) insert(it.next())
  }
}

/** Bottom-k (hash → value) sample: the k entries with the smallest
  * unsigned hashes, each carrying its row's value. Hashes are unique (the
  * row key is), so a TreeMap keyed by unsigned hash is the whole state.
  */
final class KvBuffer(val k: Int) {
  val map: java.util.TreeMap[java.lang.Long, Long] =
    new java.util.TreeMap[java.lang.Long, Long](new java.util.Comparator[java.lang.Long] {
      override def compare(a: java.lang.Long, b: java.lang.Long): Int =
        java.lang.Long.compareUnsigned(a, b)
    })

  def insert(h: Long, v: Long): Unit = {
    if (map.size() < k) { map.put(h, v); () }
    else if (java.lang.Long.compareUnsigned(h, map.lastKey()) < 0) {
      map.put(h, v)
      if (map.size() > k) { map.pollLastEntry(); () }
    }
  }

  def mergeIn(other: KvBuffer): Unit = {
    val it = other.map.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); insert(e.getKey, e.getValue) }
  }

  /** The sample as parallel (hashes, values) arrays in unsigned-hash order. */
  def sample: (Array[Long], Array[Long]) = {
    val n = map.size()
    val hs = new Array[Long](n)
    val vs = new Array[Long](n)
    val it = map.entrySet().iterator()
    var i = 0
    while (it.hasNext) { val e = it.next(); hs(i) = e.getKey; vs(i) = e.getValue; i += 1 }
    (hs, vs)
  }

  /** (n_sample, p50, p90), all 0 for an empty sample: q26's type-1
    * `rn == ceil(n·q)` picks over the sample sorted by (value asc,
    * unsigned hash asc) — the oracle's ORDER BY. The batch aggregate and
    * its streaming twin both pick here.
    */
  def quantiles: (Long, Long, Long) = {
    val (hs, vs) = sample
    val n = vs.length
    if (n == 0) return (0L, 0L, 0L)
    val idx = (0 until n).sortWith { (x, y) =>
      if (vs(x) != vs(y)) vs(x) < vs(y)
      else java.lang.Long.compareUnsigned(hs(x), hs(y)) < 0
    }
    // type-1 pick via the SAME FP ceil the oracle computes (q26's rule:
    // ceil(n*0.9) in IEEE can exceed the true rational ceil — both engines
    // must take the identical FP path, so no integer shortcut here)
    def pick(q: Double): Long = vs(idx(math.ceil(n * q).toInt - 1))
    (n.toLong, pick(0.5), pick(0.9))
  }
}

/** Deterministic sample-quantile sketch (see KmvSketch.quantileSketch).
  * children = (rowHash LONG, value LONG); output struct
  * (n_sample, p50, p90) with q26's type-1 `rn == ceil(n·q)` picks over the
  * sample sorted by (value asc, unsigned hash asc) — the same FP `ceil`
  * the oracle writes, so picks match bit-for-bit.
  */
case class QuantileSketch(
    hashChild: Expression,
    valueChild: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KvBuffer] {

  require(k >= 2, s"quantile sketch needs k >= 2, got $k")

  override def children: Seq[Expression] = Seq(hashChild, valueChild)
  override def nullable: Boolean = false
  override def dataType: DataType = StructType(Seq(
    StructField("n_sample", LongType, nullable = false),
    StructField("p50", LongType, nullable = false),
    StructField("p90", LongType, nullable = false)))
  override def prettyName: String = "quantile_sketch"

  override def createAggregationBuffer(): KvBuffer = new KvBuffer(k)

  override def update(buffer: KvBuffer, input: InternalRow): KvBuffer = {
    val h = hashChild.eval(input)
    val v = valueChild.eval(input)
    if (h != null && v != null) buffer.insert(h.asInstanceOf[Long], v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: KvBuffer, input: KvBuffer): KvBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  override def eval(buffer: KvBuffer): Any = {
    val (n, p50, p90) = buffer.quantiles
    InternalRow(n, p50, p90)
  }

  override def serialize(buffer: KvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.map.size() * 16)
    bb.putInt(buffer.map.size())
    val it = buffer.map.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.getKey); bb.putLong(e.getValue) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KvBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getLong, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): QuantileSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(hashChild = newChildren(0), valueChild = newChildren(1))
}

/** Shared KMV aggregation machinery: buffer lifecycle, serialization, and
  * the exact-integer estimator. Subclasses choose the input shape (raw
  * hashes vs persisted states) and the output shape (summary vs state).
  */
abstract class KmvAggBase extends TypedImperativeAggregate[KmvBuffer] {
  def child: Expression
  def k: Int

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KmvBuffer = new KmvBuffer(k)

  override def merge(buffer: KmvBuffer, input: KmvBuffer): KmvBuffer = {
    buffer.mergeIn(input)
    buffer
  }

  /** (est, kth) summary row — [[KmvSketch.estimate]] shaped for Catalyst. */
  protected def summary(buffer: KmvBuffer): InternalRow = {
    val (est, kth) = KmvSketch.estimate(buffer)
    InternalRow(est, kth.map(Long.box).orNull)
  }

  override def serialize(buffer: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.set.size() * 8)
    bb.putInt(buffer.set.size())
    val it = buffer.set.iterator()
    while (it.hasNext) bb.putLong(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new KmvBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getLong); i += 1 }
    buf
  }
}

/** KMV summary aggregate. `child` must evaluate to a LONG hash (pre-hash
  * with [[Splitmix64]] — keeping the hash outside the aggregate keeps it in
  * whole-stage codegen and lets callers choose the hash).
  */
case class KmvDistinct(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KmvAggBase {

  require(k >= 2, s"KMV needs k >= 2, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("est", LongType, nullable = false),
    StructField("kth", LongType, nullable = true)))
  override def prettyName: String = "kmv_distinct"

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Long])
    buffer
  }

  override def eval(buffer: KmvBuffer): Any = summary(buffer)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** KMV sketch STATE aggregate: same buffer, but the output is the k-min
  * set itself (array<long>, unsigned ascending) — the persistable rollup
  * value that [[KmvMerge]] re-aggregates later without the raw keys.
  */
case class KmvState(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KmvAggBase {

  require(k >= 2, s"KMV needs k >= 2, got $k")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmv_state"

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.insert(v.asInstanceOf[Long])
    buffer
  }

  override def eval(buffer: KmvBuffer): Any = {
    val out = new Array[Long](buffer.set.size())
    val it = buffer.set.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvState =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvState =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}

/** Union-merge of persisted [[KmvState]] arrays back into the (est, kth)
  * summary. Because k-min(A ∪ B) = k-min(k-min(A) ∪ k-min(B)), the merged
  * sketch — and therefore the estimate — is IDENTICAL to sketching the
  * raw union (q64's oracle checks the equality, not an approximation).
  */
case class KmvMerge(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends KmvAggBase {

  require(k >= 2, s"KMV needs k >= 2, got $k")

  override def dataType: DataType = StructType(Seq(
    StructField("est", LongType, nullable = false),
    StructField("kth", LongType, nullable = true)))
  override def prettyName: String = "kmv_merge"

  override def update(buffer: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      var i = 0
      val n = arr.numElements()
      while (i < n) { buffer.insert(arr.getLong(i)); i += 1 }
    }
    buffer
  }

  override def eval(buffer: KmvBuffer): Any = summary(buffer)

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvMerge =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
}
