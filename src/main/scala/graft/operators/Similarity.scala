package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.VectorExprs

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Brute force is the correctness baseline: broadcast the (small) query set
  * against the candidate corpus — one scan of the corpus, no shuffle of the
  * big side. The scale path buckets candidates with random-hyperplane LSH so
  * each query only scores its own buckets.
  *
  * All scoring goes through the codegen'd [[graft.expressions.VectorExprs]]
  * (fused single-pass loops); the interpreted higher-order-function route is
  * ~1000× slower on an O(N²·d) scan.
  */
object Similarity {

  def dot(a: Column, b: Column): Column = VectorExprs.dotFF(a, b)
  def cosine(a: Column, b: Column): Column = VectorExprs.cosineFF(a, b)

  /** sqrt(Σ v²) — [[cosine]]'s per-row factor, hoisted (r19). dotFF(v, v)
    * accumulates the identical left-to-right square sum CosineSimilarityFF
    * interleaves, and Spark's Sqrt is the same java.lang.Math.sqrt — so a
    * norm computed ONCE per row equals the one the fused kernel recomputes
    * per PAIR, bit for bit.
    */
  def norm(v: Column): Column = sqrt(VectorExprs.dotFF(v, v))

  /** cosineFF(a, b) recomposed from precomputed norms — bit-identical for
    * equal-length arrays (every call site scores fixed-dim embeddings):
    * same left-to-right dot, same zero-norm contract (sqrt(x) = 0 ⟺
    * x = 0 on non-negatives), same null contract (null vector → null
    * norm → null cosine), same dot / (na * nb) association. Per PAIR this
    * evaluates one dot loop instead of the fused kernel's three
    * accumulators — the §1.2 per-task-work lever for every operator whose
    * pair count exceeds its row count (candidate re-ranks, cell-local
    * prunes, query fan-outs). Spec-pinned against cosineFF on adversarial
    * and real vectors (CosinePreSpec).
    */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na.isNull || nb.isNull, lit(null).cast("double"))
      .when(na === lit(0.0) || nb === lit(0.0), lit(0.0))
      .otherwise(VectorExprs.dotFF(a, b) / (na * nb))

  /** The `n` lowest-id vectors of `corpus`, sorted by id (row index = cid,
    * the 0-based rank by id) — the deterministic stand-in every quantizer
    * here defaults to (PQ codebooks, IVF and SemDeDup centroids), which
    * keeps the operators oracle-checkable. A bounded model read (n·dim
    * floats), never data. `trained` (e.g. [[kmeansCentroidVectors]])
    * replaces the stand-in outright.
    */
  def model(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      n: Int,
      trained: Option[Seq[Seq[Float]]] = None): Array[Array[Float]] =
    trained.map(_.map(_.toArray).toArray).getOrElse(corpus
      .select(col(idCol).cast("long").as("_id"), col(vecCol))
      .orderBy(col("_id").asc)
      .limit(n)
      .collect()
      .map(_.getSeq[Float](1).toArray))

  /** The corpus-side cell: argmax over `matrix` rows of cosine(v, row),
    * ties to the higher row — the (cos DESC, cid DESC) order the IVF and
    * SemDeDup oracles use — as ONE fused
    * [[graft.expressions.ArgmaxCosStride]] loop per row (norms hoisted,
    * bit-identical to cosineFF).
    *
    * The `coalesce` does two jobs. It keeps the null-vector convention of
    * the oracles (every cosine null, so the cid tie breaks high and the
    * vector lands in cell k−1), where the bare kernel returns null. And it
    * makes `cell` non-nullable, so the `isnotnull(cell)` a join on it
    * infers folds away instead of dragging the kernel under a Filter that
    * evaluates it a second time per row.
    */
  def assignCell(v: Column, matrix: Array[Array[Float]]): Column = {
    val k = matrix.length.toLong
    coalesce(VectorExprs.argmaxCosStride(v, lit(0L), lit(k), 1, matrix), lit(k - 1))
  }

  /** The `nProbe` cells nearest `v` as array<long>, best first, in the
    * same (cos DESC, cid DESC) order as [[assignCell]]. A k-way cosine
    * struct array sorted per row — meant for the small query side only
    * (the corpus side is [[assignCell]]).
    */
  def probeCells(v: Column, matrix: Array[Array[Float]], nProbe: Int): Column =
    slice(reverse(array_sort(array(matrix.zipWithIndex.map { case (c, ci) =>
      struct(cosine(v, typedlit(c.toSeq)).as("cos"), lit(ci.toLong).as("cid"))
    }: _*))), 1, nProbe).getField("cid")

  /** Two-level cell assignment (see [[graft.operators.Dedup.semanticDedupScaled]]):
    * adds `cell` to `vecs` (vec_id, v, …). Level 1 argmaxes over the group
    * leaders (cells at cid ≡ 0 mod gs — one strided pass), level 2 over
    * the chosen group's contiguous cells [leader, leader+gs) ∩ [0, k).
    * Both run in the row's own projection: no joins, no aggregates, no
    * intermediate rows.
    */
  private[graft] def twoLevelAssign(
      vecs: DataFrame, k: Int, matrix: Array[Array[Float]]): DataFrame = {
    val coarse = math.ceil(math.sqrt(k.toDouble)).toInt
    val gs = (k + coarse - 1) / coarse // cells per group, ceil(k/coarse)
    vecs
      .withColumn("lr", VectorExprs.argmaxCosStride(
        col("v"), lit(0L), lit(k.toLong), gs, matrix))
      .withColumn("cell", VectorExprs.argmaxCosStride(
        col("v"), col("lr"), least(col("lr") + lit(gs.toLong), lit(k.toLong)), 1, matrix))
      .drop("lr")
  }

  /** The deterministic ±1 hyperplanes behind [[hyperplaneSig]] — public so
    * the SQL oracle generator embeds the IDENTICAL planes (one definition,
    * or the engine and its oracle could silently diverge).
    */
  def hyperplanes(bits: Int, dim: Int): Seq[Seq[Float]] = {
    val rnd = new scala.util.Random(0x5EED5EED)
    Seq.fill(bits)(Seq.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f))
  }

  /** Deterministic random-hyperplane signature (seeded, reproducible
    * across runs); bit j = sign of dot(v, plane_j). One fused codegen
    * kernel ([[graft.expressions.HyperplaneSigFL]]) — the former unrolled
    * `bits`× dotFF CASE-WHEN sum blew Janino's 64 KB method limit and
    * silently interpreted the whole signature scan (r18 measurement:
    * 1.07 s for 2,000 rows at sf0.1, ~0.5 ms/row); the kernel is
    * bit-identical by the [[graft.expressions.HyperplaneSigFL]] FP
    * contract (spec-asserted against the unrolled form).
    */
  def hyperplaneSig(v: Column, bits: Int, dim: Int): Column =
    VectorExprs.hyperplaneSigFL(v, hyperplanes(bits, dim).map(_.toArray).toArray)

  /** Exact top-k cosine neighbors for each query vector (brute force).
    * `queries` must be small enough to broadcast.
    * Output: (q_id, neighbor_id, cos, rank).
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    // r19: norms hoisted to the per-row projections — the query fan-out
    // (|corpus| × |queries| pairs) pays one dot loop per pair
    val cand = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("_cn"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("_qn"))
    val scored = cand
      .join(broadcast(q), col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")).as("cos"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Maximal-marginal-relevance diversified top-k (Carbonell & Goldstein
    * 1998): from each query's `kCand` most-relevant candidates, greedily
    * pick `k` items maximizing `lamRel·rel − lamDiv·max_cos_to_selected` —
    * the diverse-sample selection a training-data pipeline runs so one
    * dense region can't monopolize a retrieval budget.
    *
    * The greedy loop is INHERENTLY sequential in k, so k lives on the
    * driver as loop control (k is a small constant; every step is a fully
    * distributed join + grouped argmax keyed by q_id — millions of queries
    * advance one pick per step in parallel). The candidate pool
    * materializes once (`localCheckpoint`) and each step touches
    * pool-sized data only, never the corpus.
    *
    * `lamRel`/`lamDiv` are taken as separate literals rather than
    * (λ, 1−λ): 1.0−0.7 is 0.30000000000000004 in IEEE — an oracle writing
    * the decimal 0.3 would diverge on ties.
    *
    * Ties break to the lower candidate id at every argmax (struct-ordered
    * `max_by`), so the selection is engine- and partitioning-independent.
    */
  def mmrSelect(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      kCand: Int,
      k: Int,
      lamRel: Double,
      lamDiv: Double): DataFrame = {
    // r19: norms ride the pool checkpoint (8 bytes/row) and the selected
    // set — every penalty cosine is one dot loop per (candidate × selected)
    val qv = broadcast(queries.select(col(idCol).cast("long").as("q_id"),
      col(vecCol).as("qv"), norm(col(vecCol)).as("_qn")))
    val scored = corpus.select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("_cn"))
      .join(qv, col("q_id") =!= col("cid"))
      .select(col("q_id"), col("cid"), col("cv"), col("_cn"),
        cosinePre(col("cv"), col("qv"), col("_cn"), col("_qn")).as("rel"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rel").desc, col("cid").asc)
    val pool = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= kCand).drop("rn")
      .localCheckpoint(true)
    def argmax(df: DataFrame, score: org.apache.spark.sql.Column, pick: Int): DataFrame =
      df.groupBy(col("q_id"))
        .agg(max_by(struct(col("cid"), col("cv"), col("rel"), col("_cn")),
          struct(score.as("s"), (-col("cid")).as("tie"))).as("best"))
        .select(col("q_id"), col("best.cid").as("cid"), col("best.cv").as("cv"),
          col("best.rel").as("rel"), col("best._cn").as("_cn"), lit(pick.toLong).as("pick"))
    var out = argmax(pool, col("rel"), 1)
    for (step <- 2 to k) {
      val sel = out.select(col("q_id"), col("cid").as("sid"), col("cv").as("sv"),
        col("_cn").as("_sn"))
      // one q_id-keyed join + one grouped aggregate per step (r18): the
      // former separate (q_id, cid) LEFT ANTI against the selected set
      // cost its own exchange pair per step — fused here into the penalty
      // aggregation, which already sees every (candidate × selected) row:
      // a candidate that IS selected joins itself (cid = sid), so
      // max(cid = sid) marks it and the post-aggregate filter drops it.
      // Identical semantics: pen is unchanged by computing it for
      // selected rows and discarding them after.
      val withPen = pool.join(sel, Seq("q_id"))
        .groupBy(col("q_id"), col("cid"))
        .agg(first(col("cv")).as("cv"), first(col("rel")).as("rel"),
          first(col("_cn")).as("_cn"),
          max(cosinePre(col("cv"), col("sv"), col("_cn"), col("_sn"))).as("pen"),
          max(when(col("cid") === col("sid"), 1).otherwise(0)).as("_is_sel"))
        .where(col("_is_sel") === 0)
        .drop("_is_sel")
      out = out.union(
        argmax(withPen, lit(lamRel) * col("rel") - lit(lamDiv) * col("pen"), step))
    }
    out.select(col("q_id"), col("pick"), col("cid").as("neighbor_id"),
      round(col("rel"), 4).as("rel"))
  }

  /** Product-quantization encoding (Jégou et al. 2011): the vector splits
    * into `nSeg` subspaces, each encoded as the index of its nearest
    * codeword — 64 float dims become 8 nibbles, the compression that makes
    * billion-scale ANN indexes fit in memory. Codebooks are deterministic
    * (each segment's codewords are the `nCodes` lowest-id vectors' segments
    * — the s03/d11 stand-in for a trained k-means codebook).
    *
    * The encode pass is a pure scan: codeword segments and their norms are
    * driver-side literals (nCodes rows, not data), and per segment the
    * argmin is `array_min` over `struct(m, j)` with
    * m = (0 − 2·x·c) + ‖c‖² (the ‖x‖²-free argmin key — ‖x‖² is constant
    * within a segment). Reconstruction error per segment is ‖x‖² + m.
    * Every FP expression is shaped EXACTLY as the oracle writes it, so
    * codes and errors are engine-identical; ties break to the lower
    * codeword index.
    *
    * Output: one row per (vector, segment) — per-segment rows avoid any
    * cross-engine aggregation-order dependence; a packed code is an exact
    * integer rollup (`sum(code << 4·seg)`) the caller can apply.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nSeg: Int = 8,
      nCodes: Int = 16): DataFrame = {
    require(dim % nSeg == 0, s"dim $dim must split into $nSeg segments")
    val segDim = dim / nSeg
    val codewords = model(corpus, idCol, vecCol, nCodes)
    // ONE fused kernel evaluation per vector: all-segment argmin + segment
    // norms from PqSegBest (the unrolled slice/dotFF/array_min tree blew
    // Janino's 64 KB method limit and silently de-codegen'd the whole
    // stage — see the PqSegBest scaladoc); posexplode its array directly,
    // so seg indices and struct fields land exactly as before
    val best = VectorExprs.pqSegBest(col(vecCol), codewords.map(_.toSeq), nSeg, segDim)
    corpus
      .select(col(idCol).cast("long").as("vec_id"),
        posexplode(best).as(Seq("seg", "b")))
      .select(col("vec_id"), col("seg").cast("long").as("seg"),
        col("b.j").as("code"), round(col("b.x2") + col("b.m"), 4).as("err"))
  }

  /** All-segment code assignment (array<long>) via the shared
    * [[graft.expressions.PqSegBest]] kernel — [[pqEncode]], [[adcSearch]]
    * and [[ivfPqSearch]] all assign codes through this one definition.
    */
  private def segCodes(
      vecCol: Column, codewords: Array[Array[Float]],
      nSeg: Int, segDim: Int): Column = {
    val best = VectorExprs.pqSegBest(vecCol, codewords.map(_.toSeq), nSeg, segDim)
    array((0 until nSeg).map(s => element_at(best, s + 1).getField("j")): _*)
  }

  /** Per-query ADC lookup tables (q_id, lut), shared by [[adcSearch]] and
    * [[ivfPqSearch]]: lut(s)(j) is the squared L2 distance between the
    * query's and codeword j's segment s, accumulated left-to-right in
    * double. Driver-computed from the broadcast-small query set.
    */
  private def adcLuts(
      queries: DataFrame, idCol: String, vecCol: String,
      codewords: Array[Array[Float]], nSeg: Int, segDim: Int): DataFrame = {
    val luts: Seq[(Long, Seq[Seq[Double]])] = queries
      .select(col(idCol).cast("long"), col(vecCol)).collect().toSeq
      .map { r =>
        val qv = r.getSeq[Float](1)
        r.getLong(0) -> (0 until nSeg).map { s =>
          val qs = qv.slice(s * segDim, (s + 1) * segDim)
          codewords.toSeq.map { cw =>
            val cs = cw.slice(s * segDim, (s + 1) * segDim)
            qs.zip(cs).foldLeft(0.0) { case (a, (qd, cd)) =>
              val d = qd.toDouble - cd.toDouble; a + d * d
            }
          }
        }
      }
    val session = queries.sparkSession
    import session.implicits._
    luts.toDF("q_id", "lut")
  }

  /** The ADC distance of a coded vector to a query: Σ_s lut(s)(codes(s)),
    * summed s = 0..nSeg-1 left-to-right (the oracles pin the same order).
    */
  private def adcSum(nSeg: Int): Column =
    (0 until nSeg).map { s =>
      element_at(element_at(col("lut"), s + 1),
        element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduceLeft(_ + _)

  /** Asymmetric-distance PQ search (the search half of [[pqEncode]]):
    * corpus vectors are reduced to their nibble codes, queries stay raw,
    * and each (query, segment, codeword) distance is precomputed into a
    * lookup table — scoring a coded vector is `nSeg` table lookups instead
    * of a `dim`-wide float scan, which is why PQ indexes serve
    * billion-vector corpora from RAM.
    *
    * Scale shape: codes are a pure scan (the [[segCodes]] kernel,
    * codebook as literals); the LUTs are (queries × nSeg × nCodes)
    * doubles — driver-computed from the broadcast-small query set and
    * broadcast-joined, so the corpus never shuffles; top-k per query is
    * the WindowGroupLimit path. The ADC sum runs s=0..7 left-to-right and
    * the oracle reassembles it with `list_sum(list(d2 ORDER BY s))` — the
    * one aggregation in the operator whose FP order is pinned on BOTH
    * engines.
    */
  def adcSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nSeg: Int = 8,
      nCodes: Int = 16): DataFrame = {
    require(dim % nSeg == 0, s"dim $dim must split into $nSeg segments")
    val segDim = dim / nSeg
    val codewords = model(corpus, idCol, vecCol, nCodes)
    val codes = segCodes(col(vecCol), codewords, nSeg, segDim)
    // materialize the code assignment BEFORE the query fan-out: the
    // broadcast join would otherwise re-evaluate the 8×16-codeword argmin
    // scan once per query row it pairs with
    val coded = corpus.select(col(idCol).cast("long").as("cid"), codes.as("codes"))
      .localCheckpoint(true)
    val qdf = broadcast(adcLuts(queries, idCol, vecCol, codewords, nSeg, segDim))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("cid").asc)
    coded.crossJoin(qdf)
      .where(col("q_id") =!= col("cid"))
      .select(col("q_id"), col("cid"), adcSum(nSeg).as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("cid").as("neighbor_id"),
        round(col("adc"), 4).as("adc"), col("rank"))
  }

  /** IVF-PQ search (Jégou et al. 2011, the composed index): [[ivfTopK]]'s
    * coarse quantizer in front of [[adcSearch]]'s table-lookup scoring —
    * the billion-scale layout, where PQ-flat ([[adcSearch]] alone) still
    * touches every coded vector per query. Each corpus vector carries a
    * cell id (argmax cosine against `nCells` coarse centroids) AND its
    * `nSeg` nibble codes; a query probes only its `nProbe` nearest cells
    * and ADC-scores just those cells' codes — per-query work drops by
    * ~nCells/nProbe, on top of PQ's dim→nSeg lookup compression.
    *
    * Scale shape: cell assignment + PQ encode fuse into ONE corpus scan
    * (both argmax kernels in the same projection), materialized once
    * (`localCheckpoint` — the s09 rule, or the probe fan-out would
    * re-run the encode per matched query). Probes + LUTs ride a broadcast
    * keyed by cell, so the corpus never shuffles; top-k per query is the
    * WindowGroupLimit path. The ADC sum runs s=0..nSeg-1 left-to-right
    * (the oracle pins the same order). Centroids and codebooks are the
    * deterministic lowest-id stand-ins shared with s03/s08/s09 (see
    * [[kmeansTrain]] for the trained alternative).
    */
  def ivfPqSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nSeg: Int = 8,
      nCodes: Int = 16,
      nCells: Int = 16,
      nProbe: Int = 4): DataFrame = {
    require(dim % nSeg == 0, s"dim $dim must split into $nSeg segments")
    val segDim = dim / nSeg
    val standIn = model(corpus, idCol, vecCol, math.max(nCodes, nCells))
    val codewords = standIn.take(nCodes)
    val centroids = standIn.take(nCells)
    // ONE fused scan assigns cell + codes; materialize before the fan-out
    val coded = corpus.select(col(idCol).cast("long").as("cid"),
        assignCell(col(vecCol), centroids).as("cell"),
        segCodes(col(vecCol), codewords, nSeg, segDim).as("codes"))
      .localCheckpoint(true)
    val probes = queries
      .select(col(idCol).cast("long").as("q_id"),
        explode(probeCells(col(vecCol), centroids, nProbe)).as("cell"))
    val qdf = broadcast(adcLuts(queries, idCol, vecCol, codewords, nSeg, segDim)
      .join(probes, Seq("q_id")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adc").asc, col("cid").asc)
    coded.join(qdf, Seq("cell"))
      .where(col("q_id") =!= col("cid"))
      .select(col("q_id"), col("cid"), adcSum(nSeg).as("adc"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("cid").as("neighbor_id"),
        round(col("adc"), 4).as("adc"), col("rank"))
  }

  /** Exact-integer Lloyd k-means (the trained replacement for the
    * lowest-id stand-ins in s03/s08/s09/d11): `iters` rounds of [[lloyd]]
    * from the min(k, N) lowest ids, assigning by argmin of the exact long
    * squared-L2 ([[graft.expressions.VectorExprs.l2LL]]), ties to the
    * lower centroid id. All-integer, so an unrolled SQL oracle hash-matches
    * the result (the q52 rule applied to a model fit). Output, built on the
    * driver: one row per (cluster_id, dim) with the final centroid
    * component `c6` and the last round's `n_members`.
    */
  def kmeansTrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 3): DataFrame = {
    val fit = kmeansFit(corpus, idCol, vecCol, k, iters)
    val session = corpus.sparkSession
    import session.implicits._
    (for {
      (c, ci) <- fit.c6.toSeq.zipWithIndex
      (v, d) <- c.toSeq.zipWithIndex
    } yield (ci.toLong, d.toLong, v, fit.n(ci)(d))).toDF("cluster_id", "dim", "c6", "n_members")
  }

  /** [[kmeansTrain]]'s fit as a driver-side model handle: the float32
    * image of the final centroids, consumable by [[ivfTopK]] /
    * [[graft.operators.Dedup.semanticDedup]] in place of their lowest-id
    * stand-ins (min(k, N)×dim values — a bounded model read, never data).
    */
  def kmeansCentroidVectors(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      iters: Int = 3): Seq[Seq[Float]] =
    kmeansFit(corpus, idCol, vecCol, k, iters).image.map(_.toSeq).toSeq

  private def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): LloydFit = {
    val pts = scaledPoints(corpus, idCol, vecCol)
    lloyd(pts, k, 1L, iters) { (c6, _) =>
      pts.withColumn("cell", array_min(array(c6.zipWithIndex.map { case (c, ci) =>
        struct(VectorExprs.l2LL(col("v6"), typedlit[Seq[Long]](c.toSeq)).as("d2"), lit(ci.toLong).as("ci"))
      }: _*)).getField("ci"))
    }
  }

  /** [[lloyd]]'s result: the 1e-6-scaled integer centroids and the last
    * round's member count per (cell, dim); `image` is their float32 form
    * (DuckDB: CAST(c6 / 1e6 AS REAL)). */
  private[graft] final case class LloydFit(c6: Array[Array[Long]], n: Array[Array[Long]]) {
    def image: Array[Array[Float]] = c6.map(_.map(l => (l.toDouble / 1e6).toFloat))
  }

  /** (vec_id, v) pinned once for the init read and every [[lloyd]] round
    * (the d11/s09 rule), plus v6 = the 1e-6-scaled integers, derived per
    * read: pinning v6 too triples the checkpoint's bytes per row. */
  private[graft] def scaledPoints(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint(true)
      .withColumn("v6", VectorExprs.scaleRoundFL(col("v"), 1000000L))

  /** The per-(cell, dim) integer vector sum (cell, dim, sum6, n) behind
    * every exact centroid (s04, each [[lloyd]] round): one shuffle on the
    * composite key, whose map-side partials reduce the N×dim exploded
    * pairs to |cells|×dim rows. Exact long sums: identical across engines,
    * partitionings and retries (q35's rule).
    */
  private[graft] def cellSums(df: DataFrame, cell: Column, x6: Column): DataFrame =
    df.select(cell.as("cell"), posexplode(x6).as(Seq("dim", "x6")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(col("x6")).as("sum6"), count(lit(1)).as("n"))

  /** THE exact-integer Lloyd loop: s11 (and so s12/d13) and d15 train
    * here and differ only in `assign` and `stride`. Init: the k lowest ids
    * with vec_id ≡ 0 mod `stride` — min(k, N) centroids. Each round
    * `assign(c6, floats)` adds a long `cell` to `pts` ([[scaledPoints]]);
    * `floats` is the raw init in round 1, else the image of `c6`. The
    * [[cellSums]] (k×dim longs) come to the driver, and the update is
    * Σx6 div n truncating toward zero like DuckDB's `//`; an empty cell
    * keeps its previous centroid.
    */
  private[graft] def lloyd(pts: DataFrame, k: Int, stride: Long, rounds: Int)(
      assign: (Array[Array[Long]], Array[Array[Float]]) => DataFrame): LloydFit = {
    require(k > 0 && stride > 0 && rounds >= 1)
    val init = pts.where(col("vec_id") % lit(stride) === 0L)
      .orderBy(col("vec_id").asc).limit(k).collect()
    var fit = LloydFit(init.map(_.getSeq[Long](2).toArray), Array.empty)
    var floats = init.map(_.getSeq[Float](1).toArray)
    for (_ <- 1 to rounds if init.nonEmpty) {
      val sums = cellSums(assign(fit.c6, floats), col("cell"), col("v6")).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
      def cells(f: (Long, Option[(Long, Long)]) => Long): Array[Array[Long]] =
        fit.c6.zipWithIndex.map { case (c, ci) =>
          c.zipWithIndex.map { case (prev, d) => f(prev, sums.get((ci.toLong, d))) }
        }
      fit = LloydFit(cells((prev, s) => s.fold(prev) { case (x6, n) => x6 / n }),
        cells((_, s) => s.fold(0L)(_._2)))
      floats = fit.image
    }
    fit
  }

  /** IVF-style ANN: a coarse quantizer of `nCentroids` centroid vectors
    * partitions the corpus into cells; each query exactly scores only the
    * `nProbe` cells nearest to it. Centroids default to the deterministic
    * lowest-id stand-in (keeps the operator oracle-checkable); pass
    * `trained` (e.g. [[kmeansCentroidVectors]]) to use a real model.
    * At scale: cell assignment is a pure scan ([[assignCell]]: one fused
    * argmax-cosine loop per row over the driver-side centroid matrix), and
    * the candidate join shuffles only cell keys — the IVF index structure
    * without a vector-DB dependency.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nCentroids: Int = 16,
      nProbe: Int = 4,
      trained: Option[Seq[Seq[Float]]] = None): DataFrame = {
    val centroids = model(corpus, idCol, vecCol, nCentroids, trained)
    // the row norms are computed once per row, so the exact re-rank pays
    // one dot loop per (query, candidate) pair
    val cells = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("_cn"), assignCell(col(vecCol), centroids).as("cell"))
    val probes = queries
      .select(col(idCol).as("q_id"), col(vecCol).as("qv"), norm(col(vecCol)).as("_qn"),
        explode(probeCells(col(vecCol), centroids, nProbe)).as("cell"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    cells
      .join(broadcast(probes), Seq("cell"))
      .where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"),
        cosinePre(col("qv"), col("cv"), col("_qn"), col("_cn")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** LSH-bucketed ANN: candidates sharing a hyperplane-signature band with
    * the query are scored exactly; top-k of those per query. Recall < 1 by
    * construction; at 100 TB this turns an all-pairs scan into a few
    * bucket-local joins.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bits: Int = 16,
      bandBits: Int = 4): DataFrame = {
    val nBands = bits / bandBits
    // shared banding: vectors stay OUT of the band explode, and each
    // candidate pair is scored exactly once by the one vector re-join —
    // ranked on the unrounded cosine
    val cand = BandLsh.probeCandidates(corpus, queries, idCol, vecCol, dim, bandBits, nBands)
    val scored = BandLsh.cosineScores(cand,
      corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
      queries.select(col(idCol).as("id"), col(vecCol).as("v")),
      "neighbor_id", "q_id", broadcastB = true)
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("q_id"), col("neighbor_id"), round(col("cos"), 4).as("cos"), col("rank"))
  }

  /** Range similarity search over LSH buckets: EVERY corpus vector with
    * cosine ≥ `minCosine` of each query — the retrieval contract a
    * blocklist screen or kNN-graph expansion needs, where top-k would
    * silently truncate the answer set.
    *
    * Shape at 100 TB: the corpus side is banded scan-side (signature is
    * one codegen pass; only (band, id, sig) enters the join — vectors stay
    * home) and the QUERY side is banded and broadcast, so the corpus never
    * shuffles — the s01/t08 broadcast pattern applied to banding. A pair
    * colliding in k bands is kept once by the same stateless
    * first-matching-band XOR filter as the d07 pair path (no distinct over
    * the collision volume); survivors re-join the corpus vectors once for
    * the exact cosine re-rank. Full recall needs d07's operating point
    * (2-bit × 32 bands at cos ≥ 0.35 ⇒ per-pair miss ≈ 3e-7); the driver
    * oracle — brute force over the query set — doubles as the recall
    * assertion, exactly like d07's.
    */
  def lshRangeSearch(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      dim: Int,
      bandBits: Int = 2,
      nBands: Int = 32): DataFrame = {
    val cand = BandLsh.probeCandidates(corpus, queries, idCol, vecCol, dim, bandBits, nBands)
    BandLsh.exactCosineOnCandidates(cand,
        corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        queries.select(col(idCol).as("id"), col(vecCol).as("v")),
        "neighbor_id", "q_id", minCosine, broadcastB = true)
      .select(col("q_id"), col("neighbor_id"), col("cos"))
  }
}
