package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the embedding hot paths.
  *
  * Spark's higher-order array functions (`zip_with` + `aggregate`) are
  * interpreted — every element comparison allocates boxed values, which makes
  * an O(N²·d) similarity scan ~1000× slower than a fused loop. These
  * expressions participate in whole-stage codegen: one Java loop per pair,
  * no allocation. This is preference order (b) from the build plan: a custom
  * `Expression` before reaching for mapPartitions.
  */

/** Single-pass cosine similarity of two float arrays (computed in double):
  * dot / (sqrt(||a||²) * sqrt(||b||²)); 0.0 when either norm is zero.
  * Accumulation order is sequential left-to-right, matching DuckDB's
  * list_cosine_similarity closely enough for 4-decimal comparison.
  */
case class CosineSimilarityFF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity_ff"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $a.getFloat($i);
         |  double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product of two float arrays, in double. */
case class DotProductFF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product_ff"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $dot += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |}
         |${ev.value} = $dot;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact squared L2 distance of two long arrays: Σ (xᵢ−yᵢ)². All
  * arithmetic in long — overflow-free for 1e-6-scaled float32 embeddings
  * (|x| ≤ ~2³⁰ per component ⇒ per-term ≤ 2⁶⁰/dim headroom at dim ≤ 2¹⁰)
  * and bit-identical across engines/partitionings — the integer
  * Lloyd-iteration kernel (the q52 exactness rule applied to k-means).
  */
case class L2DistanceLL(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "l2_distance_ll"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Fused per-segment PQ argmin over ALL segments in one pass: for each of
  * `nSeg` segments, the nearest codeword under the ‖x‖²-free key
  * m = (0 − 2·x·c) + ‖c‖², plus the segment's own ‖x‖² (so err = x2 + m).
  * Output: array of struct(m double, j long, x2 double), one per segment.
  *
  * Why one kernel instead of composing slice/dotFF/array_min per codeword:
  * the declarative form unrolls nSeg × nCodes (= 128) dot-product loops
  * into the generated consume method of the enclosing stage — past Janino's
  * 64 KB method limit, so the WHOLE stage silently fell back to interpreted
  * execution (observed "Code grows beyond 64 KB" in every s08/s09/s10 run).
  * Here the codebook rides along as a reference object and the loops stay
  * loops: ~100 lines of generated code regardless of nSeg/nCodes.
  *
  * FP contract (the oracle depends on it): every accumulation is the same
  * sequential left-to-right float→double order as [[DotProductFF]] over the
  * sliced segment, m is computed as `(0.0 − 2.0·dot) + c2` with c2 the
  * driver-side left-to-right norm — bit-identical to the expression tree it
  * replaces (spec-asserted). Argmin keeps the FIRST minimum (strict <), the
  * same lower-j tie-break as `array_min` over struct(m, j); ±0.0 is the one
  * theoretical divergence from struct ordering's Double.compare and cannot
  * arise for finite random embeddings (m = ±0.0 needs an exactly-zero
  * codeword).
  */
case class PqSegBest(
    child: Expression,
    codebook: Array[Array[Float]],
    norms: Array[Array[Double]],
    nSeg: Int,
    segDim: Int)
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def nCodes: Int = codebook.length

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("m", DoubleType, nullable = false),
      StructField("j", LongType, nullable = false),
      StructField("x2", DoubleType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "pq_seg_best"

  // Nullable by contract: a vector shorter than nSeg·segDim has no PQ code
  // (the slice/dotFF tree this kernel replaced tolerated short arrays via
  // array-function null semantics; reading past numElements here would be
  // undefined data or an AIOOBE at execution time). NULL rows are the
  // caller's quarantine signal — same contract as m06's undecodables.
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() < nSeg * segDim) return null
    val out = new Array[Any](nSeg)
    var s = 0
    while (s < nSeg) {
      val base = s * segDim
      var x2 = 0.0
      var i = 0
      while (i < segDim) {
        val xv = v.getFloat(base + i).toDouble
        x2 += xv * xv
        i += 1
      }
      var bm = Double.PositiveInfinity
      var bj = 0L
      var j = 0
      while (j < nCodes) {
        val c = codebook(j)
        var dot = 0.0
        i = 0
        while (i < segDim) {
          dot += v.getFloat(base + i).toDouble * c(base + i).toDouble
          i += 1
        }
        val m = (0.0 - 2.0 * dot) + norms(s)(j)
        if (m < bm) { bm = m; bj = j.toLong }
        j += 1
      }
      out(s) = org.apache.spark.sql.catalyst.InternalRow(bm, bj, x2)
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val cb = ctx.addReferenceObj("pqCodebook", codebook, "float[][]")
      val c2 = ctx.addReferenceObj("pqNorms", norms, "double[][]")
      val out = ctx.freshName("out")
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val base = ctx.freshName("base")
      val x2 = ctx.freshName("x2")
      val xv = ctx.freshName("xv")
      val bm = ctx.freshName("bm")
      val bj = ctx.freshName("bj")
      val dot = ctx.freshName("dot")
      val m = ctx.freshName("m")
      val c = ctx.freshName("c")
      s"""
         |Object[] $out = null;
         |if ($v.numElements() < ${nSeg * segDim}) {
         |  ${ev.isNull} = true;
         |} else {
         |$out = new Object[$nSeg];
         |for (int $s = 0; $s < $nSeg; $s++) {
         |  int $base = $s * $segDim;
         |  double $x2 = 0.0;
         |  for (int $i = 0; $i < $segDim; $i++) {
         |    double $xv = (double) $v.getFloat($base + $i);
         |    $x2 += $xv * $xv;
         |  }
         |  double $bm = Double.POSITIVE_INFINITY;
         |  long $bj = 0L;
         |  for (int $j = 0; $j < $nCodes; $j++) {
         |    float[] $c = $cb[$j];
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $segDim; $i++) {
         |      $dot += ((double) $v.getFloat($base + $i)) * ((double) $c[$base + $i]);
         |    }
         |    double $m = (0.0 - 2.0 * $dot) + $c2[$s][$j];
         |    if ($m < $bm) { $bm = $m; $bj = (long) $j; }
         |  }
         |  $out[$s] = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{ $bm, $bj, $x2 });
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // the model arrays are constructor state, not children — two instances
  // are equal only if their models match (relevant for CSE)
  override def equals(other: Any): Boolean = other match {
    case p: PqSegBest =>
      p.child == child && p.nSeg == nSeg && p.segDim == segDim &&
        p.codebook.map(_.toSeq).toSeq == codebook.map(_.toSeq).toSeq
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, Int.box(nSeg), Int.box(segDim),
      codebook.map(_.toSeq).toSeq)
}

/** Fused strided argmax-cosine over a reference centroid matrix: returns
  * the row index j ∈ [lo, hi) (stepping by `stride`) maximizing
  * cosine(v, matrix(j)), ties to the HIGHEST j. One kernel call replaces a
  * broadcast-join + grouped struct-max: the join form materializes
  * N·(candidates) rows through a hash aggregate with the vector in the
  * group key (measured 386 s for d14's 500M intermediate rows at sf100);
  * here the candidate loop stays a loop in generated code and the row
  * never leaves its projection.
  *
  * FP contract (the oracle depends on it): cosine is computed exactly as
  * [[CosineSimilarityFF]] — sequential left-to-right float→double dot and
  * norms over min(|v|, d) elements, `dot / (sqrt(na)·sqrt(nb))`, 0.0 on a
  * zero norm — with the centroid norms precomputed driver-side by the same
  * fold. `cos >= best` scanning ascending reproduces `max(struct(cos, id))`
  * ordering for finite cosines; ±0.0 (where Java `>=` and struct ordering's
  * Double.compare disagree) needs an exactly-zero dot product and cannot
  * arise for finite random embeddings — same documented caveat as
  * [[PqSegBest]]. All matrix rows must share one dimension d.
  *
  * Empty-window contract (ADVICE r11): the scan window is [max(lo,0),
  * min(hi, |matrix|)). If that window is EMPTY — lo ≥ hi, lo past the
  * matrix, or hi ≤ 0 — the kernel visits no candidate and returns NULL
  * rather than silently yielding `lo` as a fabricated (possibly
  * out-of-range) winner. Every call site constructs a provably non-empty
  * window, so a null here means a null vector or a caller bug — and
  * surfaces as one instead of as a wrong cell id. The call sites are the
  * flat corpus-side cell assignment `Similarity.assignCell` (s03, s10,
  * s12, d11, d13; window [0, k), with the null-vector row coalesced to
  * cell k−1) and the two-level descent `Similarity.twoLevelAssign` (d14,
  * d15).
  */
case class ArgmaxCosStride(
    vec: Expression,
    lo: Expression,
    hi: Expression,
    stride: Int,
    matrix: Array[Array[Float]],
    norms: Array[Double])
  extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def first: Expression = vec
  override def second: Expression = lo
  override def third: Expression = hi
  override def dataType: DataType = LongType
  override def prettyName: String = "argmax_cos_stride"

  private def dim: Int = if (matrix.length > 0) matrix(0).length else 0

  // nullable by the empty-window contract above (a null CHILD also nulls
  // the result, as for any nullSafeEval expression)
  override def nullable: Boolean = true

  override def nullSafeEval(v: Any, loA: Any, hiA: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val loI = math.max(loA.asInstanceOf[Long], 0L).toInt
    val hiI = math.min(hiA.asInstanceOf[Long], matrix.length.toLong).toInt
    if (loI >= hiI) return null // empty window: no candidate visited
    val n = math.min(x.numElements(), dim)
    var na = 0.0
    var i = 0
    while (i < n) { val xv = x.getFloat(i).toDouble; na += xv * xv; i += 1 }
    var best = Double.NegativeInfinity
    var bi = loI.toLong
    var j = loI
    while (j < hiI) {
      val c = matrix(j)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x.getFloat(i).toDouble * c(i).toDouble; i += 1 }
      val nb = norms(j)
      val cos = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      if (cos >= best) { best = cos; bi = j.toLong }
      j += stride
    }
    bi
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, loC, hiC) => {
      val mat = ctx.addReferenceObj("argmaxMatrix", matrix, "float[][]")
      val nrm = ctx.addReferenceObj("argmaxNorms", norms, "double[]")
      val loV = ctx.freshName("lo")
      val hiV = ctx.freshName("hi")
      val n = ctx.freshName("n")
      val na = ctx.freshName("na")
      val xv = ctx.freshName("xv")
      val best = ctx.freshName("best")
      val bi = ctx.freshName("bi")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val dot = ctx.freshName("dot")
      val cos = ctx.freshName("cos")
      s"""
         |int $loV = (int) java.lang.Math.max($loC, 0L);
         |int $hiV = (int) java.lang.Math.min($hiC, (long) $mat.length);
         |if ($loV >= $hiV) {
         |  ${ev.isNull} = true; // empty window: no candidate visited
         |} else {
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |double $na = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $v.getFloat($i);
         |  $na += $xv * $xv;
         |}
         |double $best = Double.NEGATIVE_INFINITY;
         |long $bi = (long) $loV;
         |for (int $j = $loV; $j < $hiV; $j += $stride) {
         |  float[] $c = $mat[$j];
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $dot += ((double) $v.getFloat($i)) * ((double) $c[$i]);
         |  }
         |  double $cos = ($na == 0.0 || $nrm[$j] == 0.0) ? 0.0
         |    : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nrm[$j]));
         |  if ($cos >= $best) { $best = $cos; $bi = (long) $j; }
         |}
         |${ev.value} = $bi;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(vec = newFirst, lo = newSecond, hi = newThird)

  // the model arrays are constructor state, not children — two instances
  // are equal only if their models match (relevant for CSE)
  override def equals(other: Any): Boolean = other match {
    case p: ArgmaxCosStride =>
      p.vec == vec && p.lo == lo && p.hi == hi && p.stride == stride &&
        p.matrix.map(_.toSeq).toSeq == matrix.map(_.toSeq).toSeq
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(vec, lo, hi, Int.box(stride),
      matrix.map(_.toSeq).toSeq)
}

/** Fused 64-bit hyperplane signature: bit j = (dot(v, plane_j) >= 0).
  *
  * Why one kernel instead of composing `bits` [[DotProductFF]] calls
  * against literal plane arrays (the r18 d07 finding — same failure mode
  * [[PqSegBest]] fixed for PQ): the unrolled form inlines 64 dot-product
  * loops plus a depth-64 CASE-WHEN Add chain into the enclosing stage's
  * generated method — past Janino's 64 KB limit, so the whole projection
  * silently fell back to interpreted, tree-walking evaluation (measured
  * ~0.5 ms/row at sf0.1: the signature scan alone cost 1.07 s of d07's
  * 3.9 s, and every banding consumer — d06/d07/d09/s02/s05/lshTopK —
  * paid it per side). Here the planes ride along as a reference object
  * and the loops stay loops: the generated code is ~30 lines at any
  * `bits`/`dim`.
  *
  * FP contract (the s02/d07 oracles depend on it): each plane's dot is
  * the same sequential left-to-right float→double accumulation over
  * min(|v|, |plane|) elements as [[DotProductFF]], the sign test is the
  * identical `dot >= 0.0`, and summing distinct powers of two equals
  * OR-ing bits — bit-identical to the expression tree it replaces
  * (spec-asserted). Null contract is ALSO the legacy tree's: a NULL
  * vector yields signature 0L, never NULL (`CASE WHEN NULL >= 0.0` took
  * the ELSE 0 branch in every term), so this expression is non-nullable.
  */
case class HyperplaneSigFL(child: Expression, planes: Array[Array[Float]])
  extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  private def bits: Int = planes.length

  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_sig_fl"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val c = child.eval(input)
    if (c == null) 0L
    else {
      val v = c.asInstanceOf[ArrayData]
      val n = v.numElements()
      var sig = 0L
      var j = 0
      while (j < bits) {
        val p = planes(j)
        val m = math.min(n, p.length)
        var dot = 0.0
        var i = 0
        while (i < m) { dot += v.getFloat(i).toDouble * p(i).toDouble; i += 1 }
        if (dot >= 0.0) sig |= (1L << j)
        j += 1
      }
      sig
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val pl = ctx.addReferenceObj("hyperplanes", planes, "float[][]")
    val sig = ctx.freshName("sig")
    val v = ctx.freshName("v")
    val n = ctx.freshName("n")
    val m = ctx.freshName("m")
    val j = ctx.freshName("j")
    val i = ctx.freshName("i")
    val dot = ctx.freshName("dot")
    val p = ctx.freshName("p")
    val code =
      code"""
         |${childGen.code}
         |long $sig = 0L;
         |if (!${childGen.isNull}) {
         |  org.apache.spark.sql.catalyst.util.ArrayData $v = ${childGen.value};
         |  int $n = $v.numElements();
         |  for (int $j = 0; $j < $bits; $j++) {
         |    float[] $p = $pl[$j];
         |    int $m = java.lang.Math.min($n, $p.length);
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $m; $i++) {
         |      $dot += ((double) $v.getFloat($i)) * ((double) $p[$i]);
         |    }
         |    if ($dot >= 0.0) $sig |= (1L << $j);
         |  }
         |}
       """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      value = org.apache.spark.sql.catalyst.expressions.codegen.JavaCode.variable(sig, LongType))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // the plane matrix is constructor state, not a child — equality must
  // include it or CSE could merge signatures of different plane sets
  override def equals(other: Any): Boolean = other match {
    case h: HyperplaneSigFL =>
      h.child == child && h.planes.map(_.toSeq).toSeq == planes.map(_.toSeq).toSeq
    case _ => false
  }
  override def hashCode(): Int =
    java.util.Objects.hash(child, planes.map(_.toSeq).toSeq)
}

/** Fused `transform(v, x -> cast(round(cast(x as double) * factor) as
  * bigint))` — the 1e-6 scaled-integer conversion the exact-arithmetic
  * Lloyd loop (`Similarity.lloyd`, pinned once per corpus row) and s04's
  * centroids run over every vector. The higher-order `transform`
  * lambda evaluates interpreted per ELEMENT (N×dim tree walks); this
  * kernel is one generated loop per row delegating each element to
  * [[MoneyRound.eval]], whose equality with `round(x·f).cast(long)` is
  * the spec-pinned r18 contract (MoneyRoundSpec) — so the array is
  * element-for-element identical to the lambda's, including null
  * elements (null in → null out) and the null-array contract.
  */
case class ScaleRoundFL(child: Expression, factor: Long)
    extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(_, containsNull) => ArrayType(LongType, containsNull)
    case _ => ArrayType(LongType, containsNull = true)
  }
  override def prettyName: String = "scale_round_fl"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"scale_round_fl requires array<float>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i))
        out(i) = MoneyRound.eval(x.getFloat(i).toDouble, factor)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |Object[] $out = new Object[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    $out[$i] = java.lang.Long.valueOf(graft.expressions.MoneyRound.eval(
         |      (double) $a.getFloat($i), ${factor}L));
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExprs {
  /** Column-API entry points. */

  /** Fused scaled-integer conversion (see [[ScaleRoundFL]]). */
  def scaleRoundFL(v: Column, factor: Long): Column =
    ColumnBridge.column(ScaleRoundFL(ColumnBridge.expression(v), factor))
  def cosineFF(a: Column, b: Column): Column =
    ColumnBridge.column(
      CosineSimilarityFF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def dotFF(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProductFF(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2LL(a: Column, b: Column): Column =
    ColumnBridge.column(
      L2DistanceLL(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Fused hyperplane signature (see [[HyperplaneSigFL]]). */
  def hyperplaneSigFL(v: Column, planes: Array[Array[Float]]): Column =
    ColumnBridge.column(HyperplaneSigFL(ColumnBridge.expression(v), planes))

  /** Strided argmax-cosine against a driver-side centroid matrix (see
    * [[ArgmaxCosStride]]). Norms are derived here with the same
    * left-to-right float→double fold [[CosineSimilarityFF]] accumulates,
    * so the kernel's cosine is bit-identical to the join + cosineFF +
    * struct-max form it replaces.
    */
  def argmaxCosStride(v: Column, lo: Column, hi: Column, stride: Int,
      matrix: Array[Array[Float]]): Column = {
    val norms = matrix.map(_.foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble))
    ColumnBridge.column(ArgmaxCosStride(
      ColumnBridge.expression(v), ColumnBridge.expression(lo),
      ColumnBridge.expression(hi), stride, matrix, norms))
  }

  /** All-segment PQ argmin (see [[PqSegBest]]). `codewords` are full-dim
    * vectors; norms are derived here with the same left-to-right fold the
    * unrolled expression tree used, so both forms share one definition.
    */
  def pqSegBest(v: Column, codewords: Array[Seq[Float]], nSeg: Int, segDim: Int): Column = {
    val cb = codewords.map(_.toArray)
    val norms = Array.tabulate(nSeg, codewords.length) { (s, j) =>
      codewords(j).slice(s * segDim, (s + 1) * segDim)
        .foldLeft(0.0)((a, f) => a + f.toDouble * f.toDouble)
    }
    ColumnBridge.column(PqSegBest(ColumnBridge.expression(v), cb, norms, nSeg, segDim))
  }
}
