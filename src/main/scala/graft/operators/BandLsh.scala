package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** The one packed-signature LSH path: SimHash (d03), frame pHash (m07),
  * hyperplane LSH (d07, d09, s02, s05) and the streaming near-dup gate
  * ([[graft.streaming.StreamingDedup]]) band, pair and re-rank here, so
  * their recall contracts cannot silently diverge and a change to the band
  * join's partitioning is a change in one place. The minhash families
  * (d02/d04/d08) hash their band slices instead and live in [[Dedup]].
  */
private[graft] object BandLsh {

  /** The hamming family's geometry (d03, m07, the streaming gate): four
    * 16-bit chunks of a 64-bit fingerprint, pigeonhole-exact for hamming
    * ≤ 3 — three flips cannot touch all four chunks.
    */
  val HammingBandBits = 16
  val HammingBands = 4

  /** A pair at hamming ≥ the chunk count can differ in every chunk, share
    * no bucket and be silently missed — so such a bound is rejected.
    */
  def requirePigeonhole(maxHamming: Int): Unit =
    require(maxHamming < HammingBands,
      s"hamming $maxHamming needs > $maxHamming disjoint chunks; $HammingBands bands guarantee only <= ${HammingBands - 1}")

  /** The band keys of a 64-bit signature, exploded one per row and packed
    * into ONE long — `(j << bandBits) | chunk_j`. A long join key plans
    * through LongHashedRelation (dense array-indexed lookup) where the
    * former `struct(j, v)` key forced the generic binary-key
    * UnsafeHashedRelation — measured r18 at sf0.1: the d07 candidate join
    * over ~16M bucket matches ran 3.03 s on the struct key, 2.3 s packed.
    */
  def bandKeys(sig: Column, bandBits: Int, nBands: Int): Column = {
    val mask = (1L << bandBits) - 1
    explode(array((0 until nBands).map(j =>
      lit(j.toLong << bandBits).bitwiseOR(
        shiftrightunsigned(sig, j * bandBits).bitwiseAND(lit(mask)))): _*))
  }

  /** `(idAs, sigAs, band)` rows. `barrier = true` repartitions on the id so
    * the signature materializes once when the output feeds a self-join;
    * `false` keeps it scan-fused — right for index/broadcast sides read
    * once (the d08/d09 no-barrier pattern) and for frames the caller
    * already materialized.
    */
  private def bandedSigs(df: DataFrame, id: Column, sig: Column, idAs: String, sigAs: String,
      bandBits: Int, nBands: Int, barrier: Boolean): DataFrame = {
    val sigs = df.select(id.as(idAs), sig.as(sigAs))
    val base = if (barrier) sigs.repartition(col(idAs)) else sigs
    base.select(col(idAs), col(sigAs), bandKeys(col(sigAs), bandBits, nBands).as("band"))
  }

  /** [[bandedSigs]] over one packed hyperplane signature per vector (a
    * single codegen scan pass).
    */
  def banded(df: DataFrame, idCol: String, vecCol: String, idAs: String, sigAs: String,
      dim: Int, bandBits: Int, nBands: Int, barrier: Boolean): DataFrame = {
    val bits = bandBits * nBands
    require(bits >= 1 && bits <= 64, s"signature must pack into one long, got $bits bits")
    bandedSigs(df, col(idCol), Similarity.hyperplaneSig(col(vecCol), bits, dim), idAs, sigAs,
      bandBits, nBands, barrier)
  }

  /** The self-pair band join over `(id, sig, band)` rows: `(band, a, sa, b,
    * sb)` for every pair a < b, in its first matching band only. Only
    * (band, id, sig) moves — payloads never ride the band explode.
    */
  def selfPairs(banded: DataFrame, bandBits: Int, nBands: Int): DataFrame =
    banded.select(col("id").as("a"), col("sig").as("sa"), col("band"))
      .join(banded.select(col("id").as("b"), col("sig").as("sb"), col("band")), Seq("band"))
      .where(col("a") < col("b"))
      .where(firstMatchingBand(col("sa"), col("sb"), col("band"), bandBits, nBands))

  /** `(a, b, hamming)` pairs within `maxHamming` of an `(id, sig)` frame of
    * 64-bit fingerprints (d03, m07's full-width path), which the caller
    * materializes (repartition on id) as it feeds both join sides. The
    * first-matching-band filter keeps the collision volume out of any
    * groupBy(a, b) exchange — that exchange was the decade-2 scale bill
    * (109× measured pair growth sf1→sf10).
    */
  def hammingPairs(sigs: DataFrame, maxHamming: Int): DataFrame = {
    requirePigeonhole(maxHamming)
    selfPairs(bandedSigs(sigs, col("id"), col("sig"), "id", "sig", HammingBandBits, HammingBands,
        barrier = false), HammingBandBits, HammingBands)
      .select(col("a"), col("b"), TextFns.hamming64(col("sa"), col("sb")).as("hamming"))
      .where(col("hamming") <= lit(maxHamming))
  }

  /** The probe-side candidate join (s02, s05): `(q_id, neighbor_id)`
    * pairs sharing a hyperplane band, in their first matching band only.
    * The corpus bands scan-side and never shuffles; the query side bands
    * and broadcasts, bounded by the operator's contract (a query batch).
    */
  def probeCandidates(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      dim: Int, bandBits: Int, nBands: Int): DataFrame = {
    def side(df: DataFrame, id: String, sig: String): DataFrame =
      banded(df, idCol, vecCol, id, sig, dim, bandBits, nBands, barrier = false)
    side(corpus, "neighbor_id", "cs")
      .join(broadcast(side(queries, "q_id", "qs")), Seq("band"))
      .where(col("q_id") =!= col("neighbor_id"))
      .where(firstMatchingBand(col("qs"), col("cs"), col("band"), bandBits, nBands))
      .select(col("q_id"), col("neighbor_id"))
  }

  /** Exact cosine of candidate pairs, `(aCol, bCol, cos)` unrounded: one
    * vector fetch per pair per side from the `(id, v)` frames.
    * `broadcastB = true` marks a small (query) side, bounded by the
    * operator's contract. Candidate sides are deliberately NOT hinted:
    * they grow with match density (r12 measured a forced candidate
    * broadcast 2.4× slower at sf1), so AQE's runtime choice is right.
    */
  def cosineScores(cand: DataFrame, aVecs: DataFrame, bVecs: DataFrame, aCol: String,
      bCol: String, broadcastB: Boolean = false): DataFrame = {
    // r19: per-row norms below the join — the per-PAIR score is one dot
    // loop (bit-identical by the cosinePre contract)
    val left = cand.join(aVecs.select(col("id").as(aCol), col("v").as("_va"),
      Similarity.norm(col("v")).as("_na")), Seq(aCol))
    val right = bVecs.select(col("id").as(bCol), col("v").as("_vb"),
      Similarity.norm(col("v")).as("_nb"))
    val joined = if (broadcastB) left.join(broadcast(right), Seq(bCol)) else left.join(right, Seq(bCol))
    joined.select(col(aCol), col(bCol),
      Similarity.cosinePre(col("_va"), col("_vb"), col("_na"), col("_nb")).as("cos"))
  }

  /** [[cosineScores]] at `cos >= minCosine`, rounded to 4 places: the
    * d07/d09/s05 output, byte-identical across the three paths.
    */
  def exactCosineOnCandidates(cand: DataFrame, aVecs: DataFrame, bVecs: DataFrame, aCol: String,
      bCol: String, minCosine: Double, broadcastB: Boolean = false): DataFrame =
    cosineScores(cand, aVecs, bVecs, aCol, bCol, broadcastB)
      .where(col("cos") >= lit(minCosine))
      .select(col(aCol), col(bCol), round(col("cos"), 4).as("cos"))

  /** True iff this row's band is the pair's LOWEST matching band — the
    * stateless dedup of band-collision duplicates (a pair colliding in k
    * bands comes out of the band join k times). From `x = sigA XOR sigB`,
    * fold each band's bits onto its low bit, invert, mask to the per-band
    * marker bits: `zeros` has bit (bandBits·j) set iff band j matches; the
    * row survives iff no marker below its own band index is set.
    */
  def firstMatchingBand(sigA: Column, sigB: Column, band: Column, bandBits: Int, nBands: Int): Column = {
    val groupBits = (0 until nBands).map(j => 1L << (bandBits * j))
    // the band index j rides in the packed key's high bits ([[bandKeys]]);
    // its earlier-bands mask is (1 << bandBits·j) − 1
    val j = shiftrightunsigned(band, bandBits)
    val x = sigA.bitwiseXOR(sigB)
    val folded = (0 until bandBits).map(s => shiftrightunsigned(x, s)).reduce(_ bitwiseOR _)
    val zeros = bitwise_not(folded).bitwiseAND(lit(groupBits.sum))
    zeros.bitwiseAND(
      call_function("shiftleft", lit(1L), (j * lit(bandBits)).cast("int")) - lit(1L)) === lit(0L)
  }

  /** The same rule for one pair: the lowest band index whose chunks
    * match, or -1 — the streaming gate's cross-bucket emission owner.
    */
  def firstMatchingBand(sa: Long, sb: Long, bandBits: Int, nBands: Int): Int = {
    val x = sa ^ sb
    val mask = (1L << bandBits) - 1
    var j = 0
    while (j < nBands) {
      if (((x >>> (j * bandBits)) & mask) == 0L) return j
      j += 1
    }
    -1
  }
}
