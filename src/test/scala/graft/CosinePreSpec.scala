package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity

/** Similarity.cosinePre(a, b, norm(a), norm(b)) ≡ cosineFF(a, b), bit for
  * bit — the r19 contract that lets every pair-scoring operator hoist the
  * per-row norm out of its per-pair inner loop. The equivalence rests on:
  * dotFF(v, v) accumulating the identical left-to-right square sum the
  * fused kernel interleaves, sqrt(x) = 0 ⟺ x = 0 on non-negatives (the
  * zero-norm contract), null-in → null-out on either side, and the same
  * dot / (na * nb) association. Holds for EQUAL-LENGTH arrays — every
  * call site scores fixed-dim embeddings (the fused kernel truncates both
  * norms to min(|a|, |b|) elements, so ragged inputs are out of contract).
  */
class CosinePreSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("a", ArrayType(FloatType), nullable = true),
    StructField("b", ArrayType(FloatType), nullable = true)))

  private def check(rows: Seq[(Seq[Float], Seq[Float])]): Unit = {
    val df = spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (a, b) =>
        org.apache.spark.sql.Row(a, b)
      }: _*), schema)
    val got = df.select(
        Similarity.cosine(col("a"), col("b")).as("fused"),
        Similarity.cosinePre(col("a"), col("b"),
          Similarity.norm(col("a")), Similarity.norm(col("b"))).as("pre"))
      .collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val f = if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0))
      val p = if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))
      // bit equality, not ==: NaN must match NaN, -0.0 must not match 0.0
      val same = (f == null && p == null) || (f != null && p != null &&
        java.lang.Double.doubleToRawLongBits(f) == java.lang.Double.doubleToRawLongBits(p))
      assert(same, s"row $i: fused=$f pre=$p (a=${rows(i)._1}, b=${rows(i)._2})")
    }
  }

  test("cosinePre is bit-identical to cosineFF on adversarial vectors") {
    val zero = Seq.fill(8)(0.0f)
    val tiny = Seq.fill(8)(java.lang.Float.MIN_VALUE) // norm underflow regime
    val huge = Seq.fill(8)(3.0e19f)                    // na overflow toward +Inf
    val nan = Seq(1.0f, Float.NaN, 2.0f, 0.5f, -1f, 2f, 3f, 4f)
    val inf = Seq(1.0f, Float.PositiveInfinity, 2.0f, 0.5f, -1f, 2f, 3f, 4f)
    val neg = Seq(-1.5f, 2.25f, -3.125f, 4f, -5f, 6f, -7f, 8f)
    val pos = Seq(0.125f, 1.75f, 2.5f, -0.25f, 3f, -4f, 5f, -6f)
    val rnd = new scala.util.Random(19)
    val randoms = Seq.fill(500)(
      (Seq.fill(8)((rnd.nextFloat() - 0.5f) * 4f), Seq.fill(8)((rnd.nextFloat() - 0.5f) * 4f)))
    check(Seq(
      (zero, pos), (pos, zero), (zero, zero),
      (tiny, tiny), (tiny, pos), (huge, huge), (huge, pos),
      (nan, pos), (pos, nan), (inf, pos),
      (neg, pos), (pos, pos), (neg, neg),
      (null, pos), (pos, null), (null, null),
      (null, zero), (zero, null)) ++ randoms)
  }

  test("cosinePre matches cosineFF on the real embeddings (all d05 pairs)") {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("id"), col("embedding").as("v"),
        Similarity.norm(col("embedding")).as("n"))
    val a = emb.select(col("id").as("ia"), col("v").as("va"), col("n").as("na"))
    val b = emb.select(col("id").as("ib"), col("v").as("vb"), col("n").as("nb"))
    val diff = a.crossJoin(b).where(col("ia") < col("ib"))
      .select(
        Similarity.cosine(col("va"), col("vb")).as("f"),
        Similarity.cosinePre(col("va"), col("vb"), col("na"), col("nb")).as("p"))
      .where(!(col("f") <=> col("p"))).count()
    assert(diff == 0L, s"$diff pairs diverge")
  }

  test("ragged vectors are out of cosinePre's contract: the two forms diverge") {
    // the fused kernel truncates BOTH norms to min(|a|, |b|) elements; the
    // hoisted norm covers the whole row. On ragged input the dot is the
    // same but the denominators differ, so cosinePre is exact only when
    // every vector has the call site's fixed dimension — which is why no
    // per-row length check rides the pair loop.
    val a = Seq(1.0f, 0.0f)
    val b = Seq(1.0f, 0.0f, 1.0f)
    val r = spark.createDataFrame(
        java.util.Arrays.asList(org.apache.spark.sql.Row(a, b)), schema)
      .select(
        Similarity.cosine(col("a"), col("b")),
        Similarity.cosinePre(col("a"), col("b"),
          Similarity.norm(col("a")), Similarity.norm(col("b"))))
      .head()
    assert(r.getDouble(0) == 1.0, "fused: b truncated to |a| = 2 elements, parallel to a")
    assert(r.getDouble(1) == 1.0 / math.sqrt(2.0), "hoisted: the full norm of b")
    // the same pair at equal length agrees bit for bit again
    check(Seq((a :+ 0.0f, b)))
  }
}
