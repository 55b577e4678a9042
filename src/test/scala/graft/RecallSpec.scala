package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{BandLsh, Dedup, Similarity}
import graft.expressions.HashExprs

/** Quantifies the hash-inherent ("weak") operators against their exact
  * in-repo counterparts at sf0.01 — the oracle-shaped check DuckDB can't
  * run. Each test prints the measured recall so the numbers land in the
  * build log (and SURVEY.md documents them).
  */
class RecallSpec extends SparkSpec {
  import spark.implicits._

  private val dir01 = "/root/testdata/sf0.01"

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("a").cast("long"), col("b").cast("long"))
      .as[(Long, Long)].collect().toSet

  /** Ground truth: true all-pairs exact n-gram Jaccard >= threshold. */
  private def exactJaccardPairs(minJaccard: Double, shingleK: Int = 3): Set[(Long, Long)] = {
    val sets = Tables.documents(spark, dir01).select(
      col("doc_id").as("id"),
      HashExprs.tokenShingleHashes(col("text"), shingleK).as("sh"))
    val a = sets.select(col("id").as("a"), col("sh").as("sh_a"))
    val b = sets.select(col("id").as("b"), col("sh").as("sh_b"))
    pairSet(
      a.crossJoin(b).where(col("a") < col("b"))
        .where(HashExprs.longSetJaccard(col("sh_a"), col("sh_b")) >= lit(minJaccard)))
  }

  private def recall(found: Set[(Long, Long)], truth: Set[(Long, Long)]): Double =
    if (truth.isEmpty) 1.0 else truth.count(found.contains).toDouble / truth.size

  test("d02 minhash-LSH recall vs exact all-pairs Jaccard@0.5 (sf0.01)") {
    val truth = exactJaccardPairs(0.5)
    // candidate recall: what the LSH banding surfaces at all (est >= 0.2,
    // the d04 operating point) — this is what a candidates+exact pipeline
    // actually depends on
    val candidates = pairSet(
      Dedup.minhashLsh(Tables.documents(spark, dir01), "doc_id", "text", minEstJaccard = 0.2))
    val candRecall = recall(candidates, truth)
    // estimator recall: est >= 0.5 against true >= 0.5 (the d02 threshold;
    // the 64-hash estimator has σ≈0.0625 at j=0.5, so pairs hugging the
    // threshold can fall either side)
    val thresholded = pairSet(
      Dedup.minhashLsh(Tables.documents(spark, dir01), "doc_id", "text", minEstJaccard = 0.5))
    val estRecall = recall(thresholded, truth)
    info(f"d02 truth=${truth.size} candidateRecall=$candRecall%.4f estimatorRecall@0.5=$estRecall%.4f")
    println(f"RECALL d02 truth=${truth.size} candidate=$candRecall%.4f est@0.5=$estRecall%.4f")
    assert(candRecall >= 0.95, f"candidate recall $candRecall%.4f")
    assert(estRecall >= 0.9, f"estimator recall $estRecall%.4f")
  }

  test("d03 simhash banding recall vs all-pairs hamming (sf0.01)") {
    // the implementation check: 4×16-bit banding must surface EVERY pair
    // with hamming(simhash) <= 3 (pigeonhole: 3 flips can't touch all 4
    // chunks — recall must be exactly 1). Ground truth computes hamming on
    // the true all-pairs set, no banding.
    import graft.functions.TextFns
    val sigs = Tables.documents(spark, dir01).select(
      col("doc_id").as("id"),
      HashExprs.simhash64(HashExprs.tokenShingleHashes(col("text"), 1)).as("sim"))
    val truth = pairSet(
      sigs.select(col("id").as("a"), col("sim").as("sim_a"))
        .crossJoin(sigs.select(col("id").as("b"), col("sim").as("sim_b")))
        .where(col("a") < col("b"))
        .where(TextFns.hamming64(col("sim_a"), col("sim_b")) <= lit(3)))
    val found = pairSet(
      Dedup.simhash(Tables.documents(spark, dir01), "doc_id", "text", maxHamming = 3))
    val r = recall(found, truth)
    // cross-sketch agreement (simhash@3 against exact Jaccard@0.5 truth) is
    // a property of the sketch, not the implementation — printed for the
    // record, gated loosely
    val xr = recall(found, exactJaccardPairs(0.5))
    info(f"d03 truth=${truth.size} bandingRecall=$r%.4f jaccardAgreement=$xr%.4f")
    println(f"RECALL d03 truth=${truth.size} banding=$r%.4f vsJaccard@0.5=$xr%.4f")
    assert(r == 1.0, f"banding recall $r%.4f — banding dropped a qualifying pair")
    assert(found == truth, "banded result must equal the all-pairs hamming filter exactly")
    assert(xr >= 0.5, f"cross-sketch agreement $xr%.4f")
  }

  test("d07 bucketed embedding near-dup equals the all-pairs baseline exactly (sf0.01)") {
    def rows(df: DataFrame) =
      df.as[(Long, Long, Double)].collect().toSet
    val exact = rows(Dedup.embeddingNearDup(
      Tables.embeddings(spark, dir01), "vec_id", "embedding", minCosine = 0.35))
    val bucketed = rows(Dedup.embeddingNearDupBucketed(
      Tables.embeddings(spark, dir01), "vec_id", "embedding", minCosine = 0.35, dim = 64))
    println(s"RECALL d07 truth=${exact.size} found=${bucketed.size}")
    assert(bucketed == exact,
      s"missing=${(exact -- bucketed).take(5)} extra=${(bucketed -- exact).take(5)}")
  }

  test("s02 LSH top-k recall@5 vs brute force (sf0.01)") {
    val emb = Tables.embeddings(spark, dir01)
    val queries = emb.where(col("vec_id") < 8)
    def pairs(df: DataFrame) =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    // the registered q's operating point: 32 bands × 2 bits of a 64-bit sig
    val lsh = pairs(Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
      dim = 64, bits = 64, bandBits = 2))
    val r = recall(lsh, truth)
    info(f"s02 recall@5=$r%.4f")
    println(f"RECALL s02 recall@5=$r%.4f")
    assert(r >= 0.9, f"LSH recall@5 $r%.4f")
  }

  test("s03 IVF top-k recall@5 vs brute force (sf0.01)") {
    val emb = Tables.embeddings(spark, dir01)
    val queries = emb.where(col("vec_id") < 8)
    def pairs(df: DataFrame) =
      df.select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf = pairs(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5))
    val r = recall(ivf, truth)
    info(f"s03 recall@5=$r%.4f")
    println(f"RECALL s03 recall@5=$r%.4f")
    assert(r >= 0.9, f"IVF recall@5 $r%.4f")
  }

  test("s11 trained centroids plug into s03 IVF (sf0.01)") {
    val emb = Tables.embeddings(spark, dir01)
    val queries = emb.where(col("vec_id") < 8)
    def pairs(df: DataFrame) =
      df.select(col("q_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    val truth = pairs(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val trained = Similarity.kmeansCentroidVectors(emb, "vec_id", "embedding", k = 16, iters = 3)
    assert(trained.size == 16 && trained.forall(_.size == 64))
    val ivfTrained = pairs(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5,
      trained = Some(trained)))
    val ivfStandin = pairs(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5))
    val rT = recall(ivfTrained, truth)
    val rS = recall(ivfStandin, truth)
    info(f"s11→s03 recall@5 trained=$rT%.4f standin=$rS%.4f")
    println(f"RECALL s11->s03 trained=$rT%.4f standin=$rS%.4f")
    // this corpus has no planted cluster structure, so training moves the
    // cell boundaries without a recall payoff (measured 0.85 vs 0.925
    // stand-in); the gate is that the composition works at a usable
    // operating point — on clustered corpora k-means is what makes
    // nProbe≪nCells viable at all
    assert(rT >= 0.85, f"trained-centroid IVF recall $rT%.4f")
  }

  test("s10 IVF-PQ recall@5: probe loss vs PQ-flat (s09) and vs exact L2 (sf0.01)") {
    import graft.expressions.VectorExprs
    val emb = Tables.embeddings(spark, dir01)
    val queries = emb.where(col("vec_id") < 8)
    def pairs(df: DataFrame) =
      df.select(col("q_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    // exact (uncompressed) L2 top-5 — the true answer set for the ADC family
    val c = emb.select(col("vec_id").cast("long").as("neighbor_id"), col("embedding").as("cv"))
    val qv = queries.select(col("vec_id").cast("long").as("q_id"), col("embedding").as("qv"))
    val l2 = VectorExprs.dotFF(col("qv"), col("qv")) -
      lit(2.0) * VectorExprs.dotFF(col("qv"), col("cv")) +
      VectorExprs.dotFF(col("cv"), col("cv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("d2").asc, col("neighbor_id").asc)
    val truth = pairs(c.crossJoin(broadcast(qv)).where(col("q_id") =!= col("neighbor_id"))
      .select(col("q_id"), col("neighbor_id"), l2.as("d2"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= 5))
    val flat = pairs(Similarity.adcSearch(emb, queries, "vec_id", "embedding", dim = 64, k = 5))
    val ivfpq = pairs(Similarity.ivfPqSearch(emb, queries, "vec_id", "embedding", dim = 64, k = 5))
    // probe recall isolates the IVF pruning loss (both sides share the PQ
    // scoring); exact recall is the end-to-end number (PQ distortion × probe
    // loss) — the codebook is the 16-vector stand-in, so PQ distortion
    // dominates; what this gate protects is the composition, not the model
    val probeRecall = recall(ivfpq, flat)
    val exactRecall = recall(ivfpq, truth)
    val flatRecall = recall(flat, truth)
    info(f"s10 probeRecall=$probeRecall%.4f exactRecall=$exactRecall%.4f (s09 flat=$flatRecall%.4f)")
    println(f"RECALL s10 probe=$probeRecall%.4f exact@5=$exactRecall%.4f s09exact@5=$flatRecall%.4f")
    assert(probeRecall >= 0.5, f"IVF probe recall $probeRecall%.4f")
    assert(exactRecall >= 0.25, f"end-to-end recall $exactRecall%.4f")
  }

  test("d08 delta dedup equals the full run restricted to new-touching pairs (sf0.01)") {
    val docs = Tables.documents(spark, dir01)
    def rows(df: DataFrame): Set[(Long, Long, Double)] =
      df.as[(Long, Long, Double)].collect().toSet
    val full = rows(Dedup.ngramJaccard(docs, "doc_id", "text"))
      .filter { case (a, b, _) => a % 10 == 9 || b % 10 == 9 }
    val delta = rows(Dedup.ngramJaccardDelta(
      docs.where(pmod(col("doc_id"), lit(10)) =!= 9),
      docs.where(pmod(col("doc_id"), lit(10)) === 9),
      "doc_id", "text"))
    println(s"RECALL d08 newTouching=${full.size} delta=${delta.size}")
    assert(delta == full,
      s"missing=${(full -- delta).take(5)} extra=${(delta -- full).take(5)}")
  }

  test("t04 winnowing fingerprint overlap vs exact n-gram containment (sf0.01)") {
    // the registered t04 operating point: char-8-grams, window 4
    import graft.expressions.TextKernels.WinnowFingerprint
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8; val w = 4
    def evalFp(text: String, window: Int): Set[Long] =
      WinnowFingerprint(org.apache.spark.sql.catalyst.expressions.Literal("x"), k, window)
        .nullSafeEval(UTF8String.fromString(text))
        .asInstanceOf[ArrayData].toLongArray().toSet

    val docs = Tables.documents(spark, dir01)
      .select("doc_id", "text").as[(Long, String)].collect()
    // window=1 keeps every (deduped) gram hash — the exact n-gram set from
    // the SAME hash pipeline, so the comparison isolates the winnowing loss
    val exact = docs.map { case (id, t) => id -> evalFp(t, 1) }.toMap
    val winnowed = docs.map { case (id, t) => id -> evalFp(t, w) }.toMap

    def jacc(a: Set[Long], b: Set[Long]): Double =
      if (a.isEmpty && b.isEmpty) 1.0 else a.intersect(b).size.toDouble / a.union(b).size

    val ids = docs.map(_._1)
    val truth = (for {
      i <- ids.indices.iterator; j <- (i + 1) until ids.length
      if jacc(exact(ids(i)), exact(ids(j))) >= 0.5
    } yield (ids(i), ids(j))).toVector
    assert(truth.nonEmpty, "sf0.01 documents must contain near-dup pairs")

    // detection recall: a truth pair must share at least one fingerprint —
    // winnowing guarantees this for any shared run >= k+w-1 = 11 chars,
    // and J>=0.5 documents share many such runs
    val detected = truth.count { case (a, b) =>
      winnowed(a).intersect(winnowed(b)).nonEmpty
    }
    val recall = detected.toDouble / truth.size
    // estimator quality: fingerprint Jaccard vs exact Jaccard on truth pairs
    val mae = truth.map { case (a, b) =>
      math.abs(jacc(winnowed(a), winnowed(b)) - jacc(exact(a), exact(b)))
    }.sum / truth.size
    // density: winnowing keeps ~2/(w+1) of gram positions; after dedup the
    // ratio drifts with repetition, so gate loosely
    val density = docs.map { case (id, _) =>
      winnowed(id).size.toDouble / math.max(exact(id).size, 1) }.sum / docs.length
    info(f"t04 truth=${truth.size} shareRecall=$recall%.4f mae=$mae%.4f density=$density%.3f")
    println(f"RECALL t04 truth=${truth.size} share=$recall%.4f mae=$mae%.4f density=$density%.3f")
    assert(recall >= 0.95, f"winnowing detection recall $recall%.4f")
    assert(mae <= 0.35, f"fingerprint-Jaccard MAE $mae%.4f")
    assert(density > 0.1 && density < 0.9, f"winnowing density $density%.3f out of range")
  }

  test("t04 winnowing guarantee: shared runs >= k+w-1 always share a fingerprint (planted)") {
    import graft.expressions.TextKernels.WinnowFingerprint
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val k = 8; val w = 4
    def fp(text: String): Set[Long] =
      WinnowFingerprint(org.apache.spark.sql.catalyst.expressions.Literal("x"), k, w)
        .nullSafeEval(UTF8String.fromString(text))
        .asInstanceOf[ArrayData].toLongArray().toSet

    val docs = Tables.documents(spark, dir01)
      .select("text").as[String].collect().take(50)
    // perturb both ends: the shared middle still contains runs >= 11 chars
    val hits = docs.count { t => fp("zzz@@ " + t + " ##qqq").intersect(fp(t)).nonEmpty }
    assert(hits == docs.length,
      s"MOSS guarantee violated: only $hits/${docs.length} perturbed pairs share a fingerprint")
    // negative control: disjoint-alphabet strings share nothing
    assert(fp("aaaaaaaaaaaaaaaaaaaaaaaa").intersect(fp("bbbbbbbbbbbbbbbbbbbbbbbb")).isEmpty)
  }

  test("hyperplane candidates prune hard at realistic near-dup thresholds (planted)") {
    // 400 random base vectors + 100 planted near-dups (small noise, cos≈0.99):
    // the regime real dedup corpora live in. Wide bands (2×8 of 16 bits)
    // must surface ≥95% of planted pairs while generating a small fraction
    // of the N²/2 candidate space.
    val rnd = new scala.util.Random(42)
    def vec(): Array[Float] = Array.fill(64)(rnd.nextGaussian().toFloat)
    val base = Seq.tabulate(400)(i => (i.toLong, vec()))
    val dups = Seq.tabulate(100) { i =>
      val (srcId, v) = base(i * 4)
      (1000L + srcId, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val emb = (base ++ dups).toDF("vec_id", "embedding")
    val n = 500L
    val cand = Dedup.hyperplaneCandidates(emb, "vec_id", "embedding", dim = 64, bandBits = 8, nBands = 8)
    val nCand = cand.count()
    val planted = dups.map { case (id, _) => (id - 1000L, id) }.toSet
    val found = pairSet(cand).intersect(planted)
    val allPairs = n * (n - 1) / 2
    val ratio = nCand.toDouble / allPairs
    val r = found.size.toDouble / planted.size
    info(f"planted: candidates=$nCand (${ratio * 100}%.2f%% of all pairs) recall=$r%.3f")
    println(f"RECALL d07-planted candidates=$nCand ratio=$ratio%.4f recall=$r%.3f")
    assert(r >= 0.95, f"planted recall $r%.3f")
    assert(ratio <= 0.15, f"candidate ratio $ratio%.4f — banding isn't pruning")
  }

  test("d07 cost floor at cos >= 0.35: the candidate set IS the pair space (measured)") {
    // The SURVEY §8 negative result, pinned as a measurement: at the loose
    // d07/d06 operating point (t = 0.35, random-geometry corpus — the
    // embedding cosine bulk is a ~N(0, 1/√64) concentration, measured in
    // DuckDB over sf0.1), a random pair survives a 2-bit hyperplane band
    // with p ≈ 0.25, so P(candidate) = 1 − (1 − 0.25)³² ≈ 0.9999: the
    // band join yields essentially ALL pairs, each from ~8 of 32 bands
    // (the first-matching-band filter dedups them statelessly). No
    // recall-1.0 prune exists here: ball/centroid bounds die by distance
    // concentration (cell radius ≈ 1 ≈ inter-centroid distance in
    // normalized space, so every lower bound is ≤ 0), per-segment
    // Cauchy–Schwarz bounds evaluate to ≈ |a||b| (never below t), and
    // under the 64-bit signature packing constraint no (bands × bits)
    // config reaches miss ≤ 1e-6 with less join volume than 32×2 (20×2
    // bands: volume 5/pair but miss 9e-5 — fails the hash gate at sf1's
    // 5·10⁵ true pairs). If this fraction ever drops materially, the
    // operating point changed — revisit the §8 ranking.
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val nCand = Dedup.hyperplaneCandidates(
      emb, "vec_id", "embedding", dim = 64, bandBits = 2, nBands = 32).count()
    // join volume BEFORE the first-matching-band dedup: the ~8× constant
    val banded = BandLsh.banded(emb, "vec_id", "embedding", "id", "sig",
      dim = 64, bandBits = 2, nBands = 32, barrier = false)
    val joinVolume = banded.select(col("id").as("a"), col("band"))
      .join(banded.select(col("id").as("b"), col("band")), Seq("band"))
      .where(col("a") < col("b")).count()
    val frac = nCand.toDouble / allPairs
    val dupFactor = joinVolume.toDouble / allPairs
    info(f"floor: candidates=$nCand/$allPairs (${frac * 100}%.2f%%), join volume $dupFactor%.1f rows/pair")
    println(f"RECALL d07-floor frac=$frac%.4f joinVolumePerPair=$dupFactor%.2f")
    assert(frac > 0.9, f"candidate fraction $frac%.3f — the operating point changed, revisit SURVEY §8")
  }

  test("d03 banding minimality: 4×16 chunks are pigeonhole-tight for hamming <= 3") {
    // The d03 negative result, part 1 (structural): within exact-match
    // banding over PARTITIONS of the 64-bit signature — the only family
    // that guarantees recall 1.0 with equality joins — catching every
    // hamming<=3 pair requires >= 4 blocks (3 flips can hit 3 blocks; a
    // 4th block must survive), and with the block count fixed at the
    // pigeonhole minimum, EQUAL 16-bit blocks maximize per-band
    // specificity (incidental collision odds 2^-16 per band for
    // independent bits; any unequal split has a wider worst band, i.e.
    // p(collide) >= 2^-min(width), dominated by the narrowest block).
    // More blocks would buy nothing: k > 4 blocks means narrower blocks
    // AND more bands — strictly more incidental volume. So the operator's
    // 4×16 geometry is THE minimal-collision recall-1.0 banding; its
    // residual cost is true pairs + the 2^-16 random floor (part 2 below),
    // and no plan change can cut below that without giving up recall.
    val rnd = new scala.util.Random(0xd03)
    def chunks(s: Long): Seq[Long] = (0 until 4).map(j => (s >>> (j * 16)) & 0xFFFFL)
    for (trial <- 1 to 2000) {
      val sig = rnd.nextLong()
      val flips = rnd.nextInt(4) // hamming 0..3 — the operator's contract
      val positions = rnd.shuffle((0 until 64).toList).take(flips)
      val mutated = positions.foldLeft(sig)((s, p) => s ^ (1L << p))
      assert(chunks(sig).zip(chunks(mutated)).exists { case (x, y) => x == y },
        s"trial $trial: hamming-$flips pair shares no 16-bit chunk — pigeonhole broken")
    }
    // tightness: 4 flips placed one per chunk share NO chunk — a partition
    // into k blocks only guarantees hamming <= k-1, so 4 blocks is exactly
    // the minimum for the maxHamming=3 contract (and the reason the
    // contract ceiling is 3, not 4, at this signature width)
    for (_ <- 1 to 200) {
      val sig = rnd.nextLong()
      val mutated = (0 until 4).foldLeft(sig)((s, j) => s ^ (1L << (j * 16 + rnd.nextInt(16))))
      assert(chunks(sig).zip(chunks(mutated)).forall { case (x, y) => x != y })
    }
  }

  test("d03 cost floor on the replica corpus: collision volume = true pairs + bounded random floor") {
    // The d03 negative result, part 2 (measured — VERDICT r11 task 4):
    // d03's 44.8× sf1→sf10 ratio is diagnosed as output volume (the
    // replica corpus densifies: true pairs grow ~replicas² per source).
    // This pins the claim the way RecallSpec pinned d07's floor — on the
    // SAME corpus geometry gen_scale builds (F content-near-dup replicas
    // per source doc, ' rep{r}' suffix), measured at test scale:
    //   (a) recall 1.0: the operator's output IS the all-pairs hamming<=3
    //       truth on this geometry (pigeonhole — part 1);
    //   (b) join volume <= 4 rows per colliding pair, and collision rows
    //       never ride a groupBy exchange (the stateless first-matching-
    //       band filter; ExchangeBudget pins d03 at 1 exchange);
    //   (c) the collision volume decomposes into true-pair collisions
    //       (∝ OUTPUT — irreducible by any recall-1.0 plan) plus an
    //       incidental fraction of the pair space that stays ≪ 1 (the
    //       banding genuinely prunes, unlike d07's 99.97% floor).
    // Together: cost = Θ(output + ε·N²) with measured small ε — the sf10
    // flag is the data's pair growth, not plan overhead.
    import graft.functions.TextFns
    val docs0 = Tables.documents(spark, dir01).select(col("doc_id"), col("text"))
    val nDoc = docs0.agg(max("doc_id")).head().getLong(0) + 1
    def buildRep(f: Int): DataFrame = (0 until f).map { r =>
      if (r == 0) docs0
      else docs0.select((col("doc_id") + lit(r * nDoc)).as("doc_id"),
        concat(col("text"), lit(s" rep$r")).as("text"))
    }.reduce(_ unionByName _)
    def sigsOf(rep: DataFrame): DataFrame = rep.select(col("doc_id").as("id"),
      HashExprs.simhash64(HashExprs.tokenShingleHashes(col("text"), 1)).as("sim"))
      .localCheckpoint(true)
    def truthOf(sigs: DataFrame): Set[(Long, Long)] = {
      val x = sigs.select(col("id").as("a"), col("sim").as("sim_a"))
      val y = sigs.select(col("id").as("b"), col("sim").as("sim_b"))
      pairSet(x.crossJoin(y).where(col("a") < col("b"))
        .where(TextFns.hamming64(col("sim_a"), col("sim_b")) <= lit(3)))
    }
    val F = 4
    val rep = buildRep(F)
    val sigs = sigsOf(rep)
    val n = sigs.count()
    val truth = truthOf(sigs)
    // OUTPUT grows quadratically in replica density BY CONSTRUCTION: every
    // replica pair of one source is a true pair, so doubling density
    // multiplies true pairs ~C(4,2)/C(2,2) = 6× (plus cross terms). This is
    // the sf10 flag's diagnosis pinned: any correct operator must EMIT
    // those pairs — 100×/decade output growth on the densifying corpus
    // (replicas ∝ SF) bounds every recall-1.0 plan from below, and d03's
    // measured 44.8×/decade sits UNDER that output model.
    val truth2 = truthOf(sigsOf(buildRep(2)))
    assert(truth2.nonEmpty)
    val densityGrowth = truth.size.toDouble / truth2.size
    println(f"RECALL d03-density truth(F=2)=${truth2.size} truth(F=4)=${truth.size} growth=$densityGrowth%.2f")
    assert(densityGrowth >= 4.0,
      f"doubling replica density grew true pairs only $densityGrowth%.2f× — the corpus lost its " +
        "quadratic densification and the sf10 flag diagnosis needs re-deriving")
    // (a) operator recall 1.0 on the replica geometry
    val out = pairSet(Dedup.simhash(rep, "doc_id", "text", maxHamming = 3))
    assert(out == truth, s"d03 output != hamming<=3 truth (out=${out.size}, truth=${truth.size})")
    assert(truth.nonEmpty, "replica corpus produced no near-dup pairs — the geometry is wrong")
    // (b,c) decompose the chunk-collision join volume (pre-filter)
    val banded = sigs.withColumn("chunk",
      explode(array((0 until 4).map(j => struct(lit(j).as("j"),
        shiftrightunsigned(col("sim"), j * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)))
    val collisions = banded.select(col("id").as("a"), col("chunk"))
      .join(banded.select(col("id").as("b"), col("chunk")), Seq("chunk"))
      .where(col("a") < col("b")).select(col("a"), col("b"))
    val volume = collisions.count()
    val colliding = pairSet(collisions.distinct())
    val truePairVolume = colliding.count(truth.contains)
    val allPairs = n * (n - 1) / 2.0
    val incidentalPairs = (colliding.size - truePairVolume).toDouble
    val epsilon = incidentalPairs / allPairs
    val rowsPerCollidingPair = volume.toDouble / colliding.size
    println(f"RECALL d03-floor n=$n truth=${truth.size} volume=$volume " +
      f"colliding=${colliding.size} epsilon=$epsilon%.5f rowsPerPair=$rowsPerCollidingPair%.2f")
    assert(rowsPerCollidingPair <= 4.0 + 1e-9, "more than 4 collision rows per pair is impossible (4 chunks)")
    // measured ε ≈ 0.035 on this corpus: ~580× the independent-bits floor
    // (4·2⁻¹⁶ ≈ 6e-5) because the synthetic docs share vocabulary and
    // simhash bits are majority signs over token hashes — correlated
    // across documents. Still a ~28× prune of the pair space, and the ε·N²
    // term grows at the SAME 100×/decade rate as the output term on the
    // densifying corpus (both ∝ F²) — so the decade ratio cannot be
    // improved by attacking ε without also giving up recall (part 1: the
    // banding is already minimal for the contract).
    assert(epsilon < 0.06,
      f"incidental collision fraction $epsilon%.4f of the pair space (measured baseline 0.035) — " +
        "banding stopped pruning; if the corpus changed, re-derive the floor before touching the plan")
    // every true pair is also a colliding pair (the recall-1.0 mechanism)
    assert(truth.forall(colliding.contains))
  }
}
