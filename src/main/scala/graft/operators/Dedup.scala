package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.expressions.HashExprs
import graft.functions.TextFns

/** Document deduplication family for training-data pipelines.
  *
  * Scale notes (100 TB):
  *  - exact: one shuffle keyed on a 256-bit content hash (never on the raw
  *    text — shuffling full documents would move the whole corpus).
  *  - MinHash/LSH: signatures are computed scan-side (codegen, no UDF);
  *    candidate generation explodes b band keys per doc and self-joins on
  *    (band, hash) — only docs sharing a band bucket ever meet, so the
  *    shuffle volume is O(b·N) keys, not O(N²) pairs.
  *  - SimHash: 64-bit signature per doc; near-dup candidates via banding the
  *    hash into 4×16-bit chunks (any chunk equal ⇒ candidate, catches all
  *    pairs with hamming distance ≤ 3 in the worst spread).
  */
object Dedup {

  /** Near-dup clustering: pairs → connected components. The d02–d05
    * operators emit PAIRS; a dedup pipeline keeps one document per CLUSTER,
    * so the transitive closure is the step that actually decides what to
    * drop. Label propagation to the component's min id:
    *
    *  - Each iteration is one join + one agg, fully distributed; the driver
    *    only sees a single converged-yet? count per iteration (an iterative
    *    graph algorithm's loop control, not a data loop).
    *  - Labels persist per iteration and unpersist after the next is built
    *    — lineage stays O(1) plans deep, not O(iterations).
    *  - Iterations needed = component diameter (near-dup clusters are tiny,
    *    2-4 hops); `maxIter` bounds adversarial chains.
    *
    * At 100 TB the pair graph is far smaller than the corpus (only
    * near-dups appear), so every iteration touches pair-scale data only.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // lineage cutting + the local-vs-reliable cluster-prod choice live in
    // IterCkpt (one policy shared by every fixpoint operator)
    val ic = IterCkpt(pairs, checkpointDir)
    def ckpt(df: DataFrame, eager: Boolean): DataFrame = ic(df, eager)
    def release(df: DataFrame): Unit = ic.release(df)
    // materialize the pair generator ONCE: the symmetrization union would
    // otherwise evaluate the (possibly expensive — LSH band join) upstream
    // plan twice, doubling the cost of the whole operator
    val p = ckpt(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")), true)
    // advisory repartition on v — the per-iteration neighbor join's key
    // (the pageRank rule): the loop's parallelism is independent of how
    // the pair generator's last stage was laid out (a single-task
    // upstream otherwise pins every iteration to one partition), and AQE
    // sizes the width to the pair graph's actual volume
    // SELF-LOOPS ride in the symmetrized edge set (r18): with (u, u) for
    // every node, each iteration's grouped min over neighbors ALREADY
    // covers the node's own label — the former per-iteration dangling
    // LEFT JOIN against the full label table (its own exchange + join
    // every round) disappears, and the node's previous label falls out
    // of the same aggregate (the v = u row). Initial labels keep their
    // fused first propagation step: label₀(u) = min over {v : (u,v)} =
    // min(u, min neighbor), exactly as before.
    val sym = ckpt(p
      .union(p.select(col("v").as("u"), col("u").as("v")))
      .union(p.select(col("u"), col("u").as("v")))
      .union(p.select(col("v").as("u"), col("v")))
      .distinct()
      .repartition(col("v")), true)
    release(p)
    var labels = ckpt(sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), col("mn").as("label")), true)
    var iter = 0
    var converged = false
    // previous iteration's checkpoint blocks, released once the next
    // iteration materializes (never the frame we're about to return)
    var prevCkpt = labels
    // PAIRED iteration (r19): two label hops — each hop is EXACTLY the
    // r18 per-iteration function (neighbor-min over the self-looped edge
    // set, then one pointer jump) — compose into ONE linear plan that
    // materializes and convergence-checks once. Per two hops this halves
    // the job barriers and the label-table checkpoint write+read cycles;
    // the label trajectory is (jump∘hop)^2k, identical to the sequential
    // form at every hop count, so labels match the r18 implementation
    // bit-for-bit even when maxIter cuts the loop off unconverged
    // (spec-asserted against [[connectedComponentsSeq]]). Convergence is
    // checked against the PAIR input (`prev` rides through both hops);
    // every step is pointwise non-increasing, so pair-output = pair-input
    // ⟺ both hops were no-ops — the sequential loop's exit decision is
    // never missed, at worst one already-converged hop runs extra.
    while (!converged && iter < maxIter) {
      val lazies = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      // one hop over (node, label[, prev]): each node takes min(own label,
      // neighbors' labels) — the self-loop contributes the own label and
      // the v = u row carries `prev` (the pair-input label) through —
      // then one pointer jump (labels are always node ids, so the
      // self-join resolves one chain hop; iterations drop from
      // O(diameter) to O(log diameter)). Hop 1 derives prev from vlab
      // itself (the pair input IS this hop's input — no duplicate column
      // rides its exchange); hop 2 carries hop 1's prev through.
      def hopJump(lbl: DataFrame, seedPrev: Boolean): DataFrame = {
        val shipped =
          if (seedPrev) lbl.select(col("node").as("v"), col("label").as("vlab"))
          else lbl.select(col("node").as("v"), col("label").as("vlab"),
            col("prev").as("vprev"))
        val prevAgg =
          max(when(col("v") === col("u"), if (seedPrev) col("vlab") else col("vprev")))
        val propagated = sym
          .join(shipped, Seq("v"))
          .groupBy(col("u").as("node"))
          .agg(min(col("vlab")).as("label"), prevAgg.as("prev"))
          .transform(d => ckpt(d, false)) // lazy: the jump reads it twice
        lazies += propagated
        propagated
          .join(
            propagated.select(col("node").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("node"), coalesce(col("ll"), col("label")).as("label"),
            col("prev"))
      }
      // an odd maxIter leaves a single hop at the end: run it alone, so
      // the loop never takes more hops than maxIter and an odd cutoff
      // lands on the sequential form's labels too
      val hops = math.min(2, maxIter - iter)
      val first = hopJump(labels, seedPrev = true)
      val pairOut = if (hops == 2) hopJump(first, seedPrev = false) else first
      val next = pairOut
        .select(col("node"), col("label"),
          (col("label") =!= col("prev")).as("changed"))
        .transform(d => ckpt(d, true))
      converged = next.where(col("changed")).isEmpty
      // next is materialized: the previous pair's label blocks and this
      // pair's intermediate propagation blocks are dead weight — without
      // this, storage grows O(iterations × |pairs|) until RDD GC
      lazies.foreach(release)
      release(prevCkpt)
      prevCkpt = next
      labels = next.select(col("node"), col("label"))
      iter += hops
    }
    release(sym)
    labels.select(col("node").as("node_id"), col("label").as("cluster_id"))
  }

  /** The r18 sequential (one hop per materialization) loop, retained as
    * the paired form's equality reference — never planned by queries.
    * Identical sym construction; per iteration: neighbor-min + pointer
    * jump, eager checkpoint, convergence action.
    */
  private[graft] def connectedComponentsSeq(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val ic = IterCkpt(pairs, checkpointDir)
    def ckpt(df: DataFrame, eager: Boolean): DataFrame = ic(df, eager)
    def release(df: DataFrame): Unit = ic.release(df)
    val p = ckpt(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")), true)
    val sym = ckpt(p
      .union(p.select(col("v").as("u"), col("u").as("v")))
      .union(p.select(col("u"), col("u").as("v")))
      .union(p.select(col("v").as("u"), col("v")))
      .distinct()
      .repartition(col("v")), true)
    release(p)
    var labels = ckpt(sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u").as("node"), col("mn").as("label")), true)
    var iter = 0
    var converged = false
    var prevCkpt = labels
    while (!converged && iter < maxIter) {
      val propagated = sym
        .join(labels.withColumnRenamed("node", "v").withColumnRenamed("label", "vlab"), Seq("v"))
        .groupBy(col("u").as("node"))
        .agg(
          min(col("vlab")).as("label"),
          max(when(col("v") === col("u"), col("vlab"))).as("prev"))
        .transform(d => ckpt(d, false))
      val next = propagated
        .join(
          propagated.select(col("node").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(
          col("node"),
          coalesce(col("ll"), col("label")).as("label"),
          (coalesce(col("ll"), col("label")) =!= col("prev")).as("changed"))
        .transform(d => ckpt(d, true))
      converged = next.where(col("changed")).isEmpty
      release(propagated)
      release(prevCkpt)
      prevCkpt = next
      labels = next.select(col("node"), col("label"))
      iter += 1
    }
    release(sym)
    labels.select(col("node").as("node_id"), col("label").as("cluster_id"))
  }

  /** Exact dedup: canonical (min) id and copy count per distinct text. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), sha2(col(textCol), 256).as("_h"))
      .groupBy(col("_h"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
      .select(col("canonical_id"), col("n_copies"))

  /** Candidate near-duplicate pairs via MinHash + LSH banding, with the
    * MinHash-estimated Jaccard attached. Pairs are (a < b), distinct.
    */
  /** (id, sig, band) rows: MinHash signature per doc, exploded to one row
    * per LSH band — the shared front end of every minhash pipeline (full
    * self-join and delta alike, so their banding can never diverge).
    *
    * `barrier = true` inserts a repartition on id: it materializes the
    * signature exactly once per doc (without it Catalyst can inline the
    * signature tree past the explode into per-band evaluation) and is the
    * co-locating exchange a SELF-join wants. Pass `false` for a side that
    * must NOT shuffle (the streamed corpus side of the delta join): band
    * rows then stay in their scan stage, trading a possible bands-fold
    * recompute of the codegen'd signature inside that stage for zero
    * exchange.
    */
  /** `(id, sig)` minhash signature projection — the one definition the
    * self-join ([[minhashLsh]]) and delta ([[ngramJaccardDelta]] via
    * [[bandedSignatures]]) paths both band from.
    */
  private def minhashSigs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      HashExprs
        .minhashSignature(HashExprs.tokenShingleHashes(col(textCol), shingleK), numHashes)
        .as("sig"))

  /** The shared banding expression over a `sig` column (see
    * [[minhashSigs]]): band hash mixes the band index via the xxhash64
    * seed, so a band hash alone is a sufficient join key.
    */
  private def bandsOfSig(numHashes: Int, bands: Int) =
    TextFns.lshBands(col("sig"), bands, numHashes / bands)

  private def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      numHashes: Int,
      bands: Int,
      barrier: Boolean): DataFrame = {
    val sigs = minhashSigs(docs, idCol, textCol, shingleK, numHashes)
    (if (barrier) sigs.repartition(col("id")) else sigs)
      .withColumn("band", explode(bandsOfSig(numHashes, bands)))
  }

  /** Exact n-gram Jaccard scoring of candidate (a, b) pairs: shingle sets
    * re-joined per candidate id, one kernel evaluation per pair — shared by
    * the full and delta paths so their exact stage can never diverge.
    */
  private def exactJaccardOnCandidates(
      candidates: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int,
      minJaccard: Double,
      barrierSets: Boolean = true): DataFrame = {
    // barrierSets = true (the self-join/full path): an id-keyed advisory
    // exchange materializes each doc's shingle array ONCE and serves BOTH
    // pair-side fetches off one reused exchange. Without it the shingle
    // arrays inflate the scan ~15× over the parquet estimate, so a
    // planner working from static file sizes happily broadcasts the whole
    // corpus's shingle sets (the d02 banded-broadcast bug's shape, caught
    // by the decade-2 bench check) — and the kernel re-tokenizes a doc
    // once per matched pair. false = the delta contract: the corpus's
    // sets stream through their scan stage and the candidate side's size
    // is AQE's runtime call — candidates are delta-SEEDED but NOT
    // statically bounded (they grow with the delta's match count, ∝
    // corpus density), so a forced broadcast hint here is wrong at scale:
    // r12 measured the hinted form 2.4× slower at sf1 (16.8 vs 7.1 s for
    // the d09 sibling) and its build side grows toward the 8 GiB cap on
    // densified corpora. Adaptivity IS the 100 TB design: AQE broadcasts
    // the candidate side when a real delta keeps it small, shuffles when
    // it is not. The corpus-side static broadcast this leaves possible at
    // SMALL SFs is bounded by the decade-2 guard's runtime dataSize
    // assertion (PlanSpec, ADVICE r11 option B).
    val sets0 = docs.select(
      col(idCol).as("id"),
      HashExprs.tokenShingleHashes(col(textCol), shingleK).as("sh"))
    val sets = if (barrierSets) sets0.repartition(col("id")) else sets0
    candidates
      .join(sets.withColumnRenamed("id", "a").withColumnRenamed("sh", "sh_a"), Seq("a"))
      .join(sets.withColumnRenamed("id", "b").withColumnRenamed("sh", "sh_b"), Seq("b"))
      .select(col("a"), col("b"), HashExprs.longSetJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .where(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard"))
  }

  def minhashLsh(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      minEstJaccard: Double = 0.5): DataFrame = {
    // Signatures materialize ONCE behind an id-keyed advisory exchange;
    // the band self-join then moves (band, id) keys ONLY — the 64-long
    // signature array never rides the 16-way band explode (the
    // hyperplaneCandidates rule, which matters ~64× more here: banded
    // signature rows inflate the scan ~130× over the parquet file size,
    // so a planner working from the static scan estimate chose to
    // BROADCAST the exploded side — 8.1 GiB at sf10, found by the
    // decade-2 bench check. With only narrow keys in the join and the
    // signature fetch behind the id exchange, every join side's size is
    // either truthfully observed (AQE, post-exchange) or genuinely
    // narrow). The band hash mixes the band index in via the xxhash64
    // seed, so joining on the band hash alone is sufficient.
    val sigs = minhashSigs(docs, idCol, textCol, shingleK, numHashes)
      .repartition(col("id"))
    val banded = sigs
      .withColumn("band", explode(bandsOfSig(numHashes, bands)))
      .select(col("id"), col("band"))
    val pairs = banded.select(col("id").as("a"), col("band"))
      .join(banded.select(col("id").as("b"), col("band")), Seq("band"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    // est_jaccard is band-independent (a pure function of the two
    // signatures), so scoring once per DISTINCT pair after the dedup is
    // bit-identical to the old per-collision max — and strictly cheaper.
    // The two signature fetches ride the id exchange above (ReuseExchange).
    pairs
      .join(sigs.select(col("id").as("a"), col("sig").as("sig_a")), Seq("a"))
      .join(sigs.select(col("id").as("b"), col("sig").as("sig_b")), Seq("b"))
      .select(col("a"), col("b"), HashExprs.arrayMatchFraction(col("sig_a"), col("sig_b")).as("est_jaccard"))
      .where(col("est_jaccard") >= lit(minEstJaccard))
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates via 16-bit chunk
    * banding, kept when hamming distance <= maxHamming.
    */
  def simhash(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = docs.select(
      col(idCol).as("id"),
      HashExprs.simhash64(HashExprs.tokenShingleHashes(col(textCol), 1)).as("sim"))
      .repartition(col("id")) // materialize sim once per doc (see minhashLsh)
    // chunk key packed into one long, (j << 16) | v — the BandLsh.banded
    // r18 packing (long join keys plan through LongHashedRelation)
    val banded = sigs.withColumn(
      "chunk",
      explode(array((0 until 4).map(j =>
        lit(j.toLong << 16).bitwiseOR(
          shiftrightunsigned(col("sim"), j * 16).bitwiseAND(lit(0xFFFFL)))): _*)))
    val left = banded.select(col("id").as("a"), col("sim").as("sim_a"), col("chunk"))
    val right = banded.select(col("id").as("b"), col("sim").as("sim_b"), col("chunk"))
    // band-collision duplicates drop via the stateless first-matching-band
    // XOR filter (the m07/d07 rule — identical 16-bit × 4 geometry): pair
    // ownership is a pure function of the two signatures already on the
    // row, so no groupBy(a, b) exchange ever carries the collision volume.
    // That exchange was the decade-2 scale bill: near-dup replica clusters
    // make collision rows grow ~quadratically per decade (109× measured
    // pair growth sf1→sf10), and every one of them rode the shuffle.
    left
      .join(right, Seq("chunk"))
      .where(col("a") < col("b"))
      .where(BandLsh.firstMatchingBand(col("sim_a"), col("sim_b"), col("chunk"), 16, 4))
      .select(col("a"), col("b"), TextFns.hamming64(col("sim_a"), col("sim_b")).as("hamming"))
      .where(col("hamming") <= lit(maxHamming))
  }

  /** Candidate-generation operating point shared by [[ngramJaccard]] and
    * [[ngramJaccardDelta]]. The delta path's spec-asserted equality with
    * the full path holds only while BOTH use the same banding and
    * estimator gate — keep these in one place.
    *
    * 32 bands × 2 rows, sized to the minJaccard = 0.5 design threshold:
    * P(miss) = (1 − j²)³² is ~1e-4 at j = 0.5 and ~1e-8 at j = 0.67. The
    * previous 16 × 4 point missed 35% at j = 0.5 in expectation — invisible
    * at the sf0.01 gate (no pairs below j ≈ 0.8 there) and caught by the
    * sf1 decade check, where 12 of 250,600 true pairs (all j 0.67–0.82)
    * fell through banding. Ground-truth oracles over scaled data find what
    * parameter folklore hides.
    */
  private val NgramNumHashes = 64
  private val NgramBands = 32
  private val NgramMinEstJaccard = 0.2

  /** Exact n-gram Jaccard similarity on LSH-generated candidates: the
    * scale-correct way to get true Jaccard pairs without an O(N²) cross join.
    */
  def ngramJaccard(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    val candidates = minhashLsh(docs, idCol, textCol, shingleK, NgramNumHashes, NgramBands, minEstJaccard = NgramMinEstJaccard)
      .select(col("a"), col("b"))
    // exact Jaccard over the hashed shingle sets (collision odds ~2^-64):
    // one kernel evaluation per candidate pair, no string-array shuffling
    exactJaccardOnCandidates(candidates, docs, idCol, textCol, shingleK, minJaccard)
  }

  /** Incremental near-dup maintenance: exact-Jaccard pairs TOUCHING a new
    * document batch — new×new and new×existing, never existing×existing
    * (those are already in the index). This is how dedup actually runs on
    * a living 100 TB corpus: the daily delta is orders of magnitude smaller
    * than the corpus, so re-running the full self-join (O(corpus) band
    * keys shuffled) to discover pairs that all touch the delta is pure
    * waste. Here only the DELTA's band keys drive the join — the corpus
    * side streams by, and with a small delta Catalyst/AQE broadcasts the
    * delta bands so the corpus never shuffles at all. Shingle sets are
    * re-joined per surviving candidate id only.
    *
    * Equality contract (spec-asserted): identical to
    * `ngramJaccard(existing ∪ newDocs)` restricted to pairs with at least
    * one side in `newDocs` — same banding, same estimator gate, same exact
    * kernel, so the delta path inherits the full path's recall exactly.
    */
  def ngramJaccardDelta(
      existing: DataFrame,
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      shingleK: Int = 3,
      minJaccard: Double = 0.5): DataFrame = {
    // delta side: barrier on (tiny — cheap exchange, sig materialized once).
    // corpus side: NO barrier — its band rows never leave their scan stage,
    // which is the whole point of the delta join.
    val newB = bandedSignatures(newDocs, idCol, textCol, shingleK, NgramNumHashes, NgramBands, barrier = true)
    val allB = bandedSignatures(existing, idCol, textCol, shingleK, NgramNumHashes, NgramBands, barrier = false)
      .unionByName(newB)
    val cand = newB.select(col("id").as("x"), col("sig").as("sig_x"), col("band"))
      .join(allB.select(col("id").as("y"), col("sig").as("sig_y"), col("band")), Seq("band"))
      .where(col("x") =!= col("y"))
      // canonical orientation so new-new pairs (seen from both sides) and
      // new-old pairs (seen once) land identically
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"),
        HashExprs.arrayMatchFraction(col("sig_x"), col("sig_y")).as("est"))
      .groupBy(col("a"), col("b"))
      .agg(max(col("est")).as("est"))
      .where(col("est") >= lit(NgramMinEstJaccard))
      .select(col("a"), col("b"))
    exactJaccardOnCandidates(cand, existing.unionByName(newDocs), idCol, textCol, shingleK, minJaccard,
      barrierSets = false)
  }

  /** Candidate pairs sharing at least one hyperplane-signature band.
    * `nBands` bands of `bandBits` bits each (packed in one 64-bit
    * signature); two vectors with angle θ agree on one hyperplane bit with
    * probability p = 1 − θ/π, so a pair at cosine `t` survives with
    * probability 1 − (1 − p^bandBits)^nBands.
    *
    * Shape at 100 TB: the signature is one codegen scan-side pass, the band
    * self-join shuffles (band, id) keys only — vectors never ride through
    * the explode — and candidates dedup BEFORE vectors are re-joined for
    * exact scoring, so each surviving pair fetches its two vectors exactly
    * once.
    */
  private[graft] def hyperplaneCandidates(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      bandBits: Int,
      nBands: Int): DataFrame = {
    // barrier: the banded rows feed a self-join — materialize the
    // signature once per vector instead of recomputing per side
    val banded = BandLsh.banded(embeddings, idCol, vecCol, "id", "_sig",
      dim, bandBits, nBands, barrier = true)
    banded.select(col("id").as("a"), col("_sig").as("sa"), col("band"))
      .join(banded.select(col("id").as("b"), col("_sig").as("sb"), col("band")), Seq("band"))
      .where(col("a") < col("b"))
      .where(BandLsh.firstMatchingBand(col("sa"), col("sb"), col("band"), bandBits, nBands))
      .select(col("a"), col("b"))
  }

  /** Embedding near-dup through LSH buckets: hyperplane-band candidates
    * ([[hyperplaneCandidates]]) + exact cosine re-rank — the same
    * candidates→exact pattern as [[ngramJaccard]], replacing
    * [[embeddingNearDup]]'s all-pairs scan with bucket-local joins.
    *
    * Parameter regimes (p = 1 − acos(t)/π at threshold t):
    *  - Genuine near-dups (t ≥ 0.8): wide bands prune hard — the classic
    *    LSH operating point, candidates ≈ N^(1+ρ), ρ = ln(1/p1)/ln(1/p2)
    *    (≈0.2–0.4), orders of magnitude below N².
    *  - Loose thresholds (t ≈ 0.35, θ ≈ 70°): p ≈ 0.61, so full recall
    *    needs many narrow bands (defaults: 32×2 bits ⇒ per-pair miss
    *    (1−0.61²)^32 ≈ 3e-7) and random pairs are barely pruned — an LSH
    *    lower bound, not an implementation artifact; no sub-quadratic
    *    method separates near-orthogonal pairs. The defaults buy the
    *    cartesian-free plan shape; tighten `bandBits` as `minCosine`
    *    rises.
    *
    * Output contract matches [[embeddingNearDup]] whenever banding recall
    * is 1 (the d07 oracle asserts exactly that on the test corpus).
    */
  def embeddingNearDupBucketed(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      dim: Int,
      bandBits: Int = 2,
      nBands: Int = 32): DataFrame = {
    val cand = hyperplaneCandidates(embeddings, idCol, vecCol, dim, bandBits, nBands)
    val vecs = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"))
    BandLsh.exactCosineOnCandidates(cand, vecs, vecs, "a", "b", minCosine)
  }

  /** Incremental embedding near-dup — [[ngramJaccardDelta]]'s contract for
    * the vector pipeline: exact-cosine pairs TOUCHING a new embedding
    * batch (delta×corpus and delta×delta, never corpus×corpus — those are
    * already in the index). The corpus side is banded WITHOUT any barrier,
    * standing in for the pre-materialized band index a production
    * deployment keeps (write it bucketed by band and even this scan
    * disappears into an exchange-free join); the small delta's bands
    * broadcast, so the corpus never shuffles. Same signature function,
    * same first-matching-band XOR dedup, same exact re-rank as
    * [[embeddingNearDupBucketed]] — the delta path inherits the full
    * path's recall exactly (spec-asserted equality on delta-touching
    * pairs).
    */
  def embeddingNearDupDelta(
      existing: DataFrame,
      delta: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double,
      dim: Int,
      bandBits: Int = 2,
      nBands: Int = 32): DataFrame = {
    // corpus: barrier-free (never shuffles); delta: barrier=true because
    // its banded rows feed TWO consumers (the union leg and the broadcast
    // driver) — same rule as ngramJaccardDelta's delta side
    val deltaB = BandLsh.banded(delta, idCol, vecCol, "x", "sx", dim, bandBits, nBands, barrier = true)
    def banded(df: DataFrame, id: String, sig: String): DataFrame =
      BandLsh.banded(df, idCol, vecCol, id, sig, dim, bandBits, nBands, barrier = false)
    // delta bands drive the join: the union (corpus ∪ delta) on the right
    // keeps delta×delta pairs; the corpus side never shuffles. The union
    // tags which leg a row came from so mirror ownership is stateless.
    val allB = banded(existing, "y", "sy").withColumn("y_in_delta", lit(false))
      .unionByName(
        deltaB.select(col("x").as("y"), col("sx").as("sy"), col("band"))
          .withColumn("y_in_delta", lit(true)))
    val cand = allB
      .join(broadcast(deltaB), Seq("band"))
      .where(col("x") =!= col("y"))
      .where(BandLsh.firstMatchingBand(col("sx"), col("sy"), col("band"), bandBits, nBands))
      // canonical orientation, stateless: a delta×corpus pair exists on
      // exactly one row (x = delta, y = corpus); a delta×delta pair
      // survives the XOR filter once PER side, so the x < y guard keeps
      // exactly the canonical copy — no distinct() exchange over the
      // candidate volume (which grows ~SF² on replica-dense corpora;
      // the round-9 decade-2 measurement) is ever needed
      .where(!col("y_in_delta") || col("x") < col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
    val vecs = existing.unionByName(delta).select(col(idCol).as("id"), col(vecCol).as("v"))
    BandLsh.exactCosineOnCandidates(cand, vecs, vecs, "a", "b", minCosine)
  }

  /** Embedding-cosine near-duplicate pairs above `minCosine`.
    * Exact all-pairs baseline — O(N²/2) compare, the correctness reference
    * for the LSH-bucketed scale path ([[embeddingNearDupBucketed]]).
    */
  def embeddingNearDup(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      minCosine: Double): DataFrame = {
    // r19: per-side norms hoisted — the O(N²/2) compare pays one dot loop
    // per pair (bit-identical by the cosinePre contract)
    val a = embeddings.select(col(idCol).as("a"), col(vecCol).as("va"),
      Similarity.norm(col(vecCol)).as("_na"))
    val b = embeddings.select(col(idCol).as("b"), col(vecCol).as("vb"),
      Similarity.norm(col(vecCol)).as("_nb"))
    a.crossJoin(b)
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        Similarity.cosinePre(col("va"), col("vb"), col("_na"), col("_nb")).as("cos"))
      .where(col("cos") >= lit(minCosine))
      .select(col("a"), col("b"), round(col("cos"), 4).as("cos"))
  }

  /** Per-cluster centroid of member embeddings — the canonicalization step
    * after [[connectedComponents]] (pick/compute one representative per
    * near-dup cluster) and the k-means/IVF training primitive.
    *
    * Distributed shape: `posexplode` to (cluster, dim) cells, one shuffle
    * on the composite key — map-side partial aggregation reduces the
    * explode's N×dim cells to |clusters|×dim rows before the exchange, so
    * the explode never amplifies shuffle volume.
    *
    * Components sum as 1e-6-scaled integers (float addition is
    * order-dependent; the integer sum is exact, so centroids are identical
    * across engines, partitionings, and retries — same determinism rule as
    * q35's revenue). The scale is lossless for float32 inputs: a 24-bit
    * mantissa times 10⁶ stays under 2⁵³, so the double product and its
    * rounding are exact.
    *
    * `clusters` must carry (`vec_id`, `cluster_id`); output is one row per
    * (cluster_id, dim) with the member count and the centroid component.
    */
  def clusterCentroids(clusters: DataFrame, embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    clusters.join(embeddings, clusters("vec_id") === embeddings(idCol))
      .select(col("cluster_id"), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col("cluster_id"), col("dim"))
      .agg(
        count(lit(1)).as("n_members"),
        // r18: per-element scaling through the guarded fast-round kernel
        // (bit-identical to round(x*1e6).cast(long) — MoneyRoundSpec)
        sum(graft.expressions.MoneyRound.scaledLong(
          col("v").cast("double"), 1000000L)).as("sum6"))
      .select(col("cluster_id"), col("dim").cast("long").as("dim"), col("n_members"),
        (col("sum6").cast("double") / (col("n_members") * lit(1000000L))).as("centroid"))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with a coarse
    * quantizer, then mark as duplicate any vector whose cosine to a
    * LOWER-id vector in the SAME cluster reaches `eps` (keep-min-id, the
    * d01 rule — the paper keeps one member per within-cluster duplicate
    * set). Output: one row per vector with its cell and keep flag.
    *
    * Scale shape: the cluster assignment is a pure scan (fused cosine
    * kernels against broadcast centroid literals — the s03 coarse
    * quantizer), and the pairwise pass is cell-LOCAL: the self-join
    * shuffles on the cell key only, so the quadratic cost is bounded by
    * the largest cell, never N². That containment is SemDeDup's entire
    * reason to exist — at production scale the quantizer has ~10⁵ cells
    * (k-means over a sample), keeping cells ~1e4 vectors; here the
    * deterministic lowest-id quantizer stands in for the trained one (the
    * s03 convention, which keeps the operator oracle-checkable).
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eps: Double,
      nCentroids: Int = 16,
      trained: Option[Seq[Seq[Float]]] = None): DataFrame = {
    import graft.expressions.VectorExprs
    // lowest-id stand-in quantizer by default (oracle-checkable); pass
    // Similarity.kmeansCentroidVectors for a trained one
    val centroids: Array[(Long, Seq[Float])] = trained match {
      case Some(cs) => cs.zipWithIndex.map { case (v, i) => i.toLong -> v }.toArray
      case None => corpus
        .select(col(idCol).cast("long"), col(vecCol))
        .orderBy(col(idCol).cast("long").asc)
        .limit(nCentroids)
        .collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq)
    }
    // argmax by (cos, cid) struct ordering — no window, no shuffle (s03).
    // r19: literal centroid norms + one per-row norm (bit-identical; the
    // ivfTopK pattern) — the k-way score array pays one dot loop per cell
    val cnorm: Array[Double] = centroids.map { case (_, cv) =>
      math.sqrt(cv.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    }
    def cellScores(v: org.apache.spark.sql.Column, vn: org.apache.spark.sql.Column) =
      array(centroids.zipWithIndex.map {
        case ((_, cv), ci) =>
          struct(Similarity.cosinePre(v, typedlit(cv), vn, lit(cnorm(ci))).as("cos"),
            lit(ci.toLong).as("cid"))
      }: _*)
    val assign = corpus.select(
        col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"),
        Similarity.norm(col(vecCol)).as("_vn"))
      .select(col("vec_id"), col("v"),
        array_max(cellScores(col("v"), col("_vn"))).getField("cid").as("cell"))
    semanticDedupFromAssign(assign, eps)
  }

  /** SemDeDup at the PRODUCTION cell count: k grows with the corpus
    * (k = max(minCells, N/rowsPerCell)) so cells stay ~rowsPerCell vectors
    * and the cell-local quadratic cost scales LINEARLY with N — the IVF
    * sizing rule (s03/s10), applied to the dedup quantizer. The pinned-k
    * variant ([[semanticDedup]], k=32 for oracle stability) has Σ|cell|²
    * growing ~N²/k; this is the configuration a 100 TB corpus actually
    * runs (the ~10⁵-cell note in [[semanticDedup]]'s scaladoc, mechanized).
    *
    * The quantizer changes shape with k: literal-unrolled cosine kernels
    * (one expression per centroid) stop at ~10² centroids — Janino's 64 KB
    * method ceiling and analysis cost both blow up — so the scaled path
    * assigns cells with ONE fused codegen kernel per level
    * ([[graft.expressions.ArgmaxCosStride]]): the centroid matrix rides
    * along as a reference object (the [[graft.expressions.PqSegBest]]
    * idiom) and each row scores its candidates in a generated loop inside
    * its own projection. The broadcast-join + grouped-struct-max form this
    * replaces pushed N·2√k intermediate ROWS (the vector in the group key)
    * through two hash aggregates — 500M rows / 386 s at sf100, a ~2.3×
    * constant over the work model that the kernel deletes outright. The
    * kernel's cosine and its (cos DESC, cid DESC) tie-break are
    * bit-compatible with the struct ordering the literal path uses
    * (spec-pinned against the join form).
    *
    * The assignment is TWO-LEVEL (the IVF coarse/fine quantizer, applied
    * to the quantizer itself): cells 0..k-1 partition into ⌈k/gs⌉
    * contiguous groups of gs = ⌈k/⌈√k⌉⌉, each represented by its
    * lowest-cid member; a vector first argmaxes over the ~√k group
    * leaders, then over the ~√k cells of the chosen group. Flat argmax
    * scores N·k pairs — with k ∝ N that is N²/rowsPerCell cosines, a
    * quadratic decade ratio the sf10 bench measured directly (~100× per
    * decade; 1.6e9 scores per 2M vectors at k=16e3 would make the
    * ASSIGNMENT the new Σ|cell|²). Two-level scores N·2√k: ~row-linear
    * per decade, the same containment trade SemDeDup itself makes —
    * assignment becomes approximate (a vector may land in a neighboring
    * cell when its best group leader loses the coarse vote), which is
    * immaterial for stand-in centroids and standard practice for trained
    * ones (every IVF index searches this way). The rule is deterministic,
    * so the oracle mirrors it exactly.
    *
    * The log-depth next rung was BUILT, MEASURED, AND REJECTED (r14 — a
    * measured negative result, the d08/d09-revert discipline): a 16-ary
    * fixed-branch descent (strides 16^e, N·b·log_b k cosines) made the
    * assignment itself faster (0.21 vs 0.31 s at sf10's k=1600) and was
    * hash-exact against its level-for-level DuckDB mirror through sf10 —
    * and made the whole operator SLOWER at every measured decade
    * (same-day isolated A/B, min of 3: sf1 0.82→0.96 s, sf10 2.03→3.80,
    * sf100 7.40→12.07). Cause: on near-orthogonal stand-in centroids a
    * slightly "magnetic" block leader over-attracts at EVERY level, and
    * depth COMPOUNDS the bias — measured at sf10, Σ|cell|² grew 4.7e8 →
    * 2.2e9 (max cell 9.5k → 44.8k of 200k) — while the cell-local prune
    * this feeds is quadratic in cell size and dominates the operator
    * (assignment is 0.2 of 2.0 s). Two-level is the depth-2 optimum of
    * that trade: flat has zero routing bias but N·k cosines; every extra
    * level buys assignment flops the prune repays with interest. The
    * descent becomes worth revisiting only where assignment genuinely
    * dominates (k ≳ 10⁵, decades past sf100) and then paired with
    * TRAINED balanced centroids (k-means evens the cells, removing the
    * magnet-leader bias that depth amplifies).
    */
  def semanticDedupScaled(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eps: Double,
      rowsPerCell: Int = 125,
      minCells: Int = 16): DataFrame =
    semanticDedupFromAssign(
      scaledAssignment(corpus, idCol, vecCol, rowsPerCell, minCells), eps)

  /** [[semanticDedupScaled]]'s quantizer stage alone — (vec_id, v, cell).
    * Exposed for the regime/containment probes: cell-size statistics
    * (Σ|cell|², max|cell|) are a pure function of this assignment and
    * grading them must not pay the prune. */
  private[graft] def scaledAssignment(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      rowsPerCell: Int = 125,
      minCells: Int = 16): DataFrame = {
    import graft.expressions.VectorExprs
    val n = corpus.count()
    val k = math.max(minCells.toLong, n / rowsPerCell).toInt
    val coarse = math.ceil(math.sqrt(k.toDouble)).toInt
    val gs = (k + coarse - 1) / coarse // cells per group, ceil(k/coarse)
    // lowest-id stand-in centroids as a driver-side MODEL (the s08/s09
    // codebook idiom): a bounded orderBy(id).limit(k) read, row index =
    // cid (0-based rank by id). k·dim floats — 4 MB at sf100's k=16e3,
    // the same scale envelope the broadcast-table form had.
    val matrix: Array[Array[Float]] = corpus
      .select(col(idCol).cast("long").as("cid0"), col(vecCol).as("cv"))
      .orderBy(col("cid0").asc)
      .limit(k)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).toArray)
    // level 1: argmax over the group leaders (cells at cid ≡ 0 mod gs —
    // one strided pass); level 2: argmax over the chosen group's
    // contiguous cells [leader, leader+gs) ∩ [0, k). Both in the row's
    // own projection: no joins, no aggregates, no intermediate rows.
    val vecs = corpus.select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
    vecs
      .withColumn("lr", VectorExprs.argmaxCosStride(
        col("v"), lit(0L), lit(k.toLong), gs, matrix))
      .withColumn("cell", VectorExprs.argmaxCosStride(
        col("v"), col("lr"), least(col("lr") + lit(gs.toLong), lit(k.toLong)), 1, matrix))
      .select(col("vec_id"), col("v"), col("cell"))
  }

  /** THE PRODUCTION SemDeDup-at-k ENTRY POINT (d15): [[semanticDedupScaled]]
    * with a TRAINED quantizer — strided-by-id init refined by `lloydRounds`
    * exact-integer Lloyd rounds (the s11 recipe at k = max(minCells,
    * N/rowsPerCell) instead of k=8) before the final two-level assignment
    * and cell-local prune. [[semanticDedupScaled]] (d14) stays registered
    * as the UNTRAINED baseline — the regime probe's control arm and the
    * oracle lineage's first stage — not as a deployment path: its
    * lowest-id stand-in init leaves a magnet cell at scale (61% of the
    * corpus at sf100) that makes keep-dominated corpora infeasible.
    *
    * Why train at all: the r14 log-depth negative result isolated
    * MAGNET-LEADER ROUTING BIAS — routing concentrated on a slightly
    * "magnetic" leader — as the term that dominates this operator: the
    * cell-local prune is quadratic in cell size, so Σ|cell|² (not
    * assignment flops) is the scale exposure that matters. r15 measured
    * the bias' actual root at sf100: d14's LOWEST-ID stand-ins span only
    * the id-prefix of the corpus, and ONE magnet cell ends up holding 61%
    * of all vectors (max cell 1.23M of 2M; Σ|cell|² 1.55e12). The fix is
    * two-stage, both halves measured (r15, min-of-3 isolated per decade):
    *  - COVERAGE init (strided by id) — the dominant term: sf100 Σ|cell|²
    *    1.55e12 → 3.78e10 (41×), max cell 1.23M → 66k; sf10 4.73e8 →
    *    2.65e8, max cell 9.5k → 5.3k.
    *  - One exact-integer Lloyd round on top re-centers every covered
    *    centroid on its cell mean (a Lloyd round CANNOT rescue the
    *    uncovered init alone: the mean of a 61%-of-corpus cell is ~the
    *    global mean, still a magnet — measured, lowest-id + 1 round left
    *    Σ|cell|² at 1.33e12).
    * Wall-time is regime-dependent and measured in both regimes: on the
    * replica-dense bench corpus (~98% removed — every duplicate
    * short-circuits its left-semi probe at the first match, so quantizer
    * imbalance is almost free) d15 pays its training pass: sf10
    * 1.82 → 2.60 s, sf100 7.13 → 7.87 s vs d14. In the KEEP-dominated
    * regime a 100 TB curation corpus actually runs (most docs survive;
    * kept vectors probe their WHOLE cell, so prune work ≈ Σ_kept |cell|),
    * the containment wins outright: eps=2.0 (everything kept) reads d14
    * 7.25 s vs d15 5.82 s at sf10; at sf100 d15 measures 589 s while
    * d14's probe volume is Σ|cell|²/2 ≈ 7.8e11 pairs — 41× d15's, ~6.6 h
    * at the measured pair rate (see [[graft.DedupRegimeProbe]]; all
    * readings in BENCH_SF100.json `d15_lloyd_quantizer_r15`).
    *
    * Mechanics, all driver-bounded and oracle-mirrorable:
    *  - Lloyd state lives in 1e-6-scaled INTEGER centroids (s11): the
    *    per-round update is Σx6 div n with truncating division — exact on
    *    both engines — and only the derived float matrix (c6/1e6 per
    *    component, float32-narrowed identically in DuckDB via
    *    CAST(... AS REAL)) enters the cosine kernel.
    *  - Each round's assignment uses the SAME two-level strided kernel as
    *    the final pick (N·2√k cosines — flat N·k training would reinstate
    *    the quadratic decade ratio the two-level form exists to avoid),
    *    so the oracle mirrors every round with the proven d14 CTE block.
    *  - Per-round driver traffic is the (cell, dim) aggregate — k·dim
    *    longs, a bounded model read of the same envelope as the s08/s09
    *    codebooks (sf100: 16e3×64 ≈ 1M values).
    *  - Empty cells keep their previous integer centroid (s11's coalesce),
    *    so the trajectory is total and deterministic.
    */
  def semanticDedupLloyd(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      eps: Double,
      rowsPerCell: Int = 125,
      minCells: Int = 16,
      lloydRounds: Int = 1): DataFrame =
    semanticDedupFromAssign(
      lloydAssignment(corpus, idCol, vecCol, rowsPerCell, minCells, lloydRounds), eps)

  /** Cell-size profile of a quantizer assignment: (Σ|cell|², max|cell|,
    * n, cells_used). Σ|cell|² is the cell-local prune's worst-case pair
    * volume — THE scale exposure the d15 training exists to contain — so
    * the number that grades quantizers must come from one shared,
    * spec-pinned implementation (used by [[graft.DedupRegimeProbe]] and
    * QueriesSpec). Computed in decimal(38,0): a product of two counts is
    * the audit's span-growing class (OverflowAudit shape 3) and the
    * instrument itself must not wrap at any N.
    */
  private[graft] def cellStats(assign: DataFrame): (BigDecimal, Long, Long, Long) = {
    val r = assign
      .groupBy(col("cell")).agg(count(lit(1)).as("c"))
      .agg(sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
          .as("sumsq"), max(col("c")).as("mx"),
        sum(col("c")).as("n"), count(lit(1)).as("k_used")).head()
    // ADVICE r16: zero cells (empty assignment) makes every aggregate null
    // — that's a measured zero-exposure profile, not an NPE
    if (r.getLong(3) == 0L) (BigDecimal(0), 0L, 0L, 0L)
    else (BigDecimal(r.getDecimal(0)), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** [[semanticDedupLloyd]]'s trained quantizer stage alone — see
    * [[scaledAssignment]] for why the probes read this directly. */
  private[graft] def lloydAssignment(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      rowsPerCell: Int = 125,
      minCells: Int = 16,
      lloydRounds: Int = 1): DataFrame = {
    import graft.expressions.VectorExprs
    require(lloydRounds >= 1)
    // one corpus scan pinned for: count, init read, every round's
    // assignment+update pass, and the final assignment (the d11/s09 rule)
    val base = corpus
      .select(col(idCol).cast("long").as("vec_id"), col(vecCol).as("v"))
      .localCheckpoint(true)
    val n = base.count()
    val k = math.max(minCells.toLong, n / rowsPerCell).toInt
    val coarse = math.ceil(math.sqrt(k.toDouble)).toInt
    val gs = (k + coarse - 1) / coarse
    // r19: fused array kernel, not the per-element interpreted transform
    // lambda — this expression runs once per corpus row PER LLOYD ROUND
    // (element-identical by the ScaleRoundFL/MoneyRound contract)
    val x6 = VectorExprs.scaleRoundFL(col("v"), 1000000L)
    // init = STRIDED by id (vec_id ≡ 0 mod ⌊N/k⌋, 0-based rank by id =
    // cid; bounded model read): d14's lowest-id stand-ins span only the
    // id-prefix of the corpus, and on replica-dense data that prefix
    // covers a small fraction of the direction space — measured at sf100,
    // lowest-id init leaves ONE magnet cell holding 61% of all vectors
    // (max cell 1.23M of 2M, Σ|cell|² 1.55e12) that a Lloyd round cannot
    // dissolve (the mean of 61% of the corpus IS the global mean, still a
    // magnet). A k-th-id stride samples the whole id range — coverage is
    // a QUALITY heuristic (assumes ids spread across the corpus; with
    // pathological id clustering it degrades to d14's prefix, never
    // breaks correctness) — and is exactly mirrorable (id filter + rank).
    val stride = math.max(1L, n / k)
    val init = base.select(col("vec_id"), col("v"), x6.as("v6"))
      .where(col("vec_id") % lit(stride) === 0L)
      .orderBy(col("vec_id").asc)
      .limit(k)
      .collect()
      .sortBy(_.getLong(0))
    var c6: Array[Array[Long]] = init.map(_.getSeq[Long](2).toArray)
    // round 1 assigns against the RAW stand-in floats (exactly d14's
    // matrix); every later matrix is the float32 image of the integer state
    var matrix: Array[Array[Float]] = init.map(_.getSeq[Float](1).toArray)
    val kEff = matrix.length // corpus smaller than k: windows clamp (d14)

    def assignTo(m: Array[Array[Float]]): DataFrame = base
      .withColumn("lr", VectorExprs.argmaxCosStride(
        col("v"), lit(0L), lit(k.toLong), gs, m))
      .withColumn("cell", VectorExprs.argmaxCosStride(
        col("v"), col("lr"), least(col("lr") + lit(gs.toLong), lit(k.toLong)), 1, m))
      .select(col("vec_id"), col("v"), col("cell"))

    for (_ <- 1 to lloydRounds) {
      val upd = assignTo(matrix)
        .select(col("cell"), posexplode(x6).as(Seq("dim", "x6")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("x6")).as("sum6"), count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      // Σx6 / n with JVM long division — truncation toward zero, the same
      // rule as DuckDB's `//` (s11's proven pairing); empty cells coalesce
      // to the previous integer centroid
      c6 = Array.tabulate(kEff) { ci =>
        Array.tabulate(c6(ci).length) { d =>
          upd.get((ci.toLong, d)) match {
            case Some((s, cnt)) => s / cnt
            case None => c6(ci)(d)
          }
        }
      }
      matrix = c6.map(_.map(l => (l.toDouble / 1e6).toFloat))
    }
    assignTo(matrix)
  }

  /** The SemDeDup prune over a precomputed (vec_id, v, cell) assignment:
    * checkpoint once, cell-local LEFT SEMI probe, vector-free roster.
    * Shared by the literal-kernel quantizer ([[semanticDedup]]) and the
    * broadcast-table quantizer ([[semanticDedupScaled]]).
    *
    * localCheckpoint pins ONE quantizer evaluation for all three consumers
    * (probe, build, roster). The r8 design (repartition(cell) + two-sided
    * ReuseExchange) is DEFEATED by the left-semi probe: Catalyst's
    * PushDownLeftSemiAntiJoin hoists the probe-side RepartitionByExpression
    * above the semi join, leaving the probe to re-derive the 32-cosine
    * argmax straight off the scan (twice — the inferred isnotnull(cell)
    * filter evaluates it too) while the build side keeps its own exchange:
    * no reuse, 3–5 kernel passes, +2 serial query stages (the r9 d11
    * regression, 0.9→1.8 s at sf0.1; the checkpoint shape measures 0.38 s).
    * The materialized footprint equals what the exchange shipped — (id,
    * vec, cell) once — read three times instead of recomputed.
    */
  private[graft] def semanticDedupFromAssign(assign0: DataFrame, eps: Double): DataFrame = {
    // r19: the vector norm is computed ONCE per row into the checkpoint
    // (8 bytes/row) — the probe's per-PAIR work drops from the fused
    // kernel's three accumulator loops to one dot loop (bit-identical by
    // the cosinePre contract). The prune is the family's measured 100 TB
    // bill (BENCH_D15_SPLIT: 700 s prune vs 59 s assign at sf100
    // keep-dominated), and its inner loop is exactly this expression.
    val assign = assign0
      .select(col("vec_id"), col("v"), col("cell"),
        Similarity.norm(col("v")).as("vn"))
      .localCheckpoint(true)
    val peers = assign.select(col("cell").as("pcell"), col("vec_id").as("peer_id"),
      col("v").as("pv"), col("vn").as("pn"))
    // "duplicate" is an EXISTS, so the cell-local pass is a LEFT SEMI
    // join: the probe short-circuits at the FIRST lower-id in-cell match
    // and no matched-pair volume — which grows ~|cell|² per replica
    // cluster — is ever materialized or distinct()-shuffled. Identical
    // output set. Round-9 decade-2 measurement (sf10): d13 (trained
    // quantizer) 132 → 11 s — duplicates find a sibling within a few
    // probes; d11 (stand-in quantizer, duplicates rare at its operating
    // point) is unchanged ~Σ|cell|²: a KEPT vector must probe its whole
    // cell to prove no lower-id match exists — that residual is the
    // documented cell-local cost bound, not a plan defect.
    val removed = assign.join(
        peers,
        col("cell") === col("pcell") && col("peer_id") < col("vec_id") &&
          Similarity.cosinePre(col("v"), col("pv"), col("vn"), col("pn")) >= eps,
        "left_semi")
      .select(col("vec_id"))
    // the roster reads (vec_id, cell) off the same checkpoint — no third
    // quantizer evaluation, and the vectors never ride its join
    assign.select(col("vec_id"), col("cell"))
      .join(removed.withColumn("rm", lit(1L)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("rm").isNull, 1L).otherwise(0L).as("keep"))
  }
}
