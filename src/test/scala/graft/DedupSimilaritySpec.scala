package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog and runs far away home"),
    (2L, "the quick brown fox jumps over the lazy dog and runs far away home"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog and runs far away now"),  // near dup of 1
    (4L, "completely unrelated content about database engines and query optimizers"),
    (5L, "completely unrelated content about database engines and query optimizers")  // exact dup of 4
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("canonical_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (3L, 1L), (4L, 2L)))
  }

  test("minhash LSH finds exact and near duplicates") {
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", minEstJaccard = 0.5)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((4L, 5L)))
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).nonEmpty && Set(a, b).intersect(Set(1L, 2L, 3L)).nonEmpty })
  }

  test("simhash finds near duplicates within hamming radius") {
    val pairs = Dedup.simhash(docs, "doc_id", "text", maxHamming = 3)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((4L, 5L)))
  }

  test("simhash rejects maxHamming >= 4, which its 4x16-bit banding cannot complete") {
    // one flip in each 16-bit chunk is hamming 4 with no shared chunk: the
    // band join would never see the pair
    intercept[IllegalArgumentException](Dedup.simhash(docs, "doc_id", "text", maxHamming = 4))
  }

  test("ngram jaccard reports exact similarity on candidates") {
    val out = Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.5)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((4L, 5L)) == 1.0)
    assert(out.contains((1L, 3L)) && out((1L, 3L)) < 1.0 && out((1L, 3L)) > 0.5)
  }

  test("embedding near-dup finds planted duplicate pair") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.99f, 0.01f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(emb, "vec_id", "embedding", 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 2L)))
    assert(out.head._3 > 0.99)
  }

  test("brute-force top-k returns k ranked neighbors per query") {
    val emb = Tables.embeddings(spark, sfDir)
    val out = Similarity.bruteForceTopK(emb, emb.where(col("vec_id") < 3), "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length == 15)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L, 2L))
    byQ.values.foreach { g =>
      val ranked = g.sortBy(_.getLong(3))
      assert(ranked.map(_.getLong(3)).toSeq == Seq(1L, 2L, 3L, 4L, 5L))
      // cosine non-increasing with rank
      assert(ranked.map(_.getDouble(2)).toSeq.sliding(2).forall(s => s.head >= s.last - 1e-9))
    }
  }

  test("LSH top-k neighbors are a subset of brute-force candidates with decent overlap") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 20)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5, dim = 64)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect()
    assert(lsh.nonEmpty)
    // every LSH result is a valid (q, neighbor) pair and recall against the
    // top-20 exact set is nontrivial
    val overlap = lsh.count(brute.contains)
    assert(overlap.toDouble / lsh.length > 0.3, s"overlap $overlap of ${lsh.length}")
  }

  test("IVF top-k: well-formed ranks, scores exact, decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 3)
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", k = 5).collect()
    assert(ivf.nonEmpty)
    val byQ = ivf.groupBy(_.getLong(0))
    byQ.values.foreach { g =>
      val ranks = g.map(_.getLong(3)).sorted.toSeq
      assert(ranks == (1L to ranks.length).toSeq) // dense ranks from 1
      assert(ranks.length <= 5)
    }
    // every reported cosine matches the exact brute-force score for that pair
    val brute = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 1000)
      .select("q_id", "neighbor_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    ivf.foreach { r =>
      val exact = brute((r.getLong(0), r.getLong(1)))
      assert(math.abs(exact - r.getDouble(2)) < 1e-9)
    }
    // recall@5 against exact top-5 is nontrivial for nProbe=4 of 16 cells
    val top5 = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("q_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val hits = ivf.count(r => top5.contains((r.getLong(0), r.getLong(1))))
    assert(hits.toDouble / top5.size > 0.3, s"recall $hits of ${top5.size}")
  }

  test("Lloyd trainers on a corpus smaller than k train min(k, N) centroids") {
    val tiny = Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
    val grid = Similarity.kmeansTrain(tiny, "vec_id", "embedding", k = 8, iters = 3)
    assert(grid.count() == 5L * 64)
    assert(grid.select("cluster_id").distinct().as[Long].collect().sorted.toSeq == (0L until 5L))
    assert(Similarity.kmeansCentroidVectors(tiny, "vec_id", "embedding", k = 8, iters = 3).length == 5)
    val cells = Dedup.lloydAssignment(tiny, "vec_id", "embedding")
      .select(col("vec_id"), col("cell")).as[(Long, Long)].collect()
    assert(cells.map(_._1).sorted.toSeq == (0L until 5L))
    assert(cells.forall { case (_, c) => c >= 0 && c < 5 })
  }

  test("connectedComponents: chains collapse to min id, singletons keep their own") {
    // 1-2, 2-3, 3-4 chain (diameter 3 — needs >1 iteration); 10-11 pair;
    // nodes only ever seen on the right side must still get labels
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("a", "b")
    val out = Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("embedding delta near-dup equals the full run restricted to delta pairs") {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    val emb = Tables.embeddings(spark, sfDir)
    val delta = emb.where(pmod(col("vec_id"), lit(100)) >= 98)
    val existing = emb.where(pmod(col("vec_id"), lit(100)) < 98)
    val deltaIds = delta.select("vec_id").as[Long].collect().toSet
    assert(deltaIds.nonEmpty)
    val full = Dedup.embeddingNearDupBucketed(emb, "vec_id", "embedding", minCosine = 0.35, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
      .filter(p => deltaIds(p._1) || deltaIds(p._2))
    val inc = Dedup.embeddingNearDupDelta(existing, delta, "vec_id", "embedding",
        minCosine = 0.35, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(inc == full, s"delta=${inc.size} fullRestricted=${full.size}")
  }

  test("connectedComponents: reliable-checkpoint mode yields identical labels") {
    // the cluster-prod variant (real checkpoint dir, survives executor
    // loss) must be the SAME algorithm — compare label maps exactly on a
    // graph that needs several pointer-jumping iterations
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val pairs = (1L until 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L), (200L, 201L), (201L, 202L))
    val df = pairs.toDF("a", "b")
    val local = Dedup.connectedComponents(df, "a", "b").as[(Long, Long)].collect().toMap
    val reliable = Dedup.connectedComponents(df, "a", "b", checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(reliable == local)
    assert(local.values.toSet == Set(1L, 100L, 200L))
    // the reliable run actually wrote checkpoint files to the dir
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).exists(_.exists(anyFile))
    assert(anyFile(new java.io.File(dir)), "reliable mode must checkpoint to the real dir")
  }

  test("pageRank/bfsDepths: reliable-checkpoint mode yields identical results") {
    // same IterCkpt contract as connectedComponents: the cluster-prod
    // variant is the SAME algorithm — exact-integer ranks and depths make
    // the comparison bitwise. (The checkpoint dir is session-global and
    // already set by the connectedComponents test when it runs first; the
    // parity assertions are the contract here.)
    import graft.operators.GraphOps
    val dir = java.nio.file.Files.createTempDirectory("graft-graph-ckpt").toString
    val edges = (0L until 60L).map(i => (i % 20, (i * 7) % 20)).toDF("s", "d")
    val prLocal = GraphOps.pageRank(edges, "s", "d", iters = 3)
      .as[(Long, Long)].collect().toMap
    val prReliable = GraphOps.pageRank(edges, "s", "d", iters = 3, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(prReliable == prLocal)
    val seeds = Seq(0L).toDF("node")
    val bfsLocal = GraphOps.bfsDepths(edges, "s", "d", seeds)
      .as[(Long, Long)].collect().toMap
    val bfsReliable = GraphOps.bfsDepths(edges, "s", "d", seeds, checkpointDir = Some(dir))
      .as[(Long, Long)].collect().toMap
    assert(bfsReliable == bfsLocal)
  }

  test("bfsDepths releases superseded frames: pinned RDD count stays bounded across rounds") {
    // every round local-checkpoints `next` and `grown`; without the
    // explicit releases the superseded cumulative depths AND every old
    // frontier stay pinned until app end — O(diameter) dead frames. A
    // 12-hop chain forces 12 rounds; the live set at exit must be O(1)
    // (edge set + final depths + final frontier), not O(rounds).
    import graft.operators.GraphOps
    val sc = spark.sparkContext
    def pinned(): Int = sc.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    val before = pinned()
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("s", "d")
    val depths = GraphOps.bfsDepths(chain, "s", "d", Seq(0L).toDF("node"), maxDepth = 12)
    assert(depths.count() == 13)
    // unpersist is async: poll briefly before judging the watermark
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var after = pinned()
    while (after - before > 5 && System.nanoTime() < deadline) {
      Thread.sleep(200); after = pinned()
    }
    assert(after - before <= 5,
      s"bfsDepths leaked checkpoint frames: $before pinned before, $after after 12 rounds")
  }

  test("mergeNodes keeps the latest property write per (label, key)") {
    import graft.operators.GraphOps
    val nodes = Seq(
      ("user", 1L, "alice", 10L, 100L),
      ("user", 1L, "alice2", 20L, 101L), // newer ts wins
      ("user", 2L, "bob", 20L, 102L),
      ("user", 2L, "bob-tie", 20L, 103L), // ts tie → higher upd_id wins
      ("addr", 1L, "0xabc", 5L, 104L)     // same key, different label
    ).toDF("label", "node_key", "name", "updated_ts", "upd_id")
    val out = GraphOps.mergeNodes(nodes, "label", "node_key", Seq("updated_ts", "upd_id"))
      .select("label", "node_key", "name", "n_updates")
      .as[(String, Long, String, Long)].collect().toSet
    assert(out == Set(
      ("user", 1L, "alice2", 2L),
      ("user", 2L, "bob-tie", 2L),
      ("addr", 1L, "0xabc", 1L)))
  }

  test("suggestFollows: 2-hop candidates minus self and already-followed, ranked") {
    import graft.operators.GraphOps
    val edges = Seq(
      (1L, 2L), (1L, 3L),           // a follows b, c
      (2L, 4L), (3L, 4L), (3L, 1L), // b→d, c→d, c→a
      (4L, 1L),                     // d→a
      (2L, 4L)                      // duplicate edge: must not double-count
    ).toDF("src", "dst")
    val out = GraphOps.suggestFollows(edges, "src", "dst", k = 5)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 4L, 2L, 1L), // both of a's followees follow d
      (2L, 1L, 1L, 1L),
      (3L, 2L, 1L, 1L), // via a; d→a is excluded (c already follows a)
      (4L, 2L, 1L, 1L), (4L, 3L, 1L, 2L)))
  }

  test("mutualEdges finds exactly the reciprocal pairs, once each") {
    import graft.operators.GraphOps
    val edges = Seq(
      (1L, 2L), (2L, 1L), // mutual
      (3L, 4L),           // one-way
      (5L, 6L), (6L, 5L), (5L, 6L), // mutual with duplicate edge
      (7L, 7L)            // self-loop ignored
    ).toDF("src", "dst")
    val out = GraphOps.mutualEdges(edges, "src", "dst")
      .as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (5L, 6L)))
  }

  test("connectedComponents equals a union-find reference on random graphs") {
    // seeded random graphs, cross-checked against a min-root union-find:
    // min-root union preserves "root = component minimum" by induction,
    // which is exactly the operator's label contract
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 40 + rnd.nextInt(40)
      val edges = Seq.fill(30 + rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val cc = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct
      assert(cc.keySet == present.toSet, s"trial $trial node set")
      present.groupBy(v => find(v.toInt)).values.foreach { comp =>
        val mn = comp.min
        comp.foreach(v => assert(cc(v) == mn, s"trial $trial: node $v got ${cc(v)}, want $mn"))
      }
    }
  }

  test("paired-iteration CC equals the sequential r18 loop, converged AND maxIter-cut") {
    // the r19 paired loop's contract: label trajectory (jump∘hop)^2k is
    // the sequential form composed — labels must match bit-for-bit not
    // just at convergence but at ANY hop-count cutoff. A 64-node chain
    // with maxIter = 4 exercises the cutoff (4 hops are far from
    // convergence); the mixed graph exercises the convergence exit. An odd
    // maxIter ends on a single trailing hop, which must stop at the same
    // labels as the sequential loop's odd cutoff.
    def run(f: (org.apache.spark.sql.DataFrame, String, String, Int,
        Option[String]) => org.apache.spark.sql.DataFrame,
        pairs: Seq[(Long, Long)], maxIter: Int): Map[Long, Long] =
      f(pairs.toDF("a", "b"), "a", "b", maxIter, None)
        .as[(Long, Long)].collect().toMap
    val chain = (0L until 63L).map(i => (i, i + 1))
    val mixed = ((0L until 20L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (101L, 102L), (200L, 201L))).toSeq
    for ((g, mi) <- Seq((chain, 4), (chain, 20), (mixed, 20), (mixed, 2),
        (chain, 3), (chain, 5), (mixed, 1))) {
      val seq = run(Reference.connectedComponentsSeq, g, mi)
      val par = run(Dedup.connectedComponents, g, mi)
      assert(par == seq, s"graph=${g.take(2)}... maxIter=$mi")
    }
  }

  test("ArgmaxCosStride matches the struct-max form it replaced; ties, strides, zero norms") {
    import graft.expressions.VectorExprs
    val rnd = new scala.util.Random(1106)
    val dim = 8
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val matrix: Array[Array[Float]] = Array.fill(7)(vec())
    matrix(5) = matrix(2).clone() // an exact-cosine tie pair (2, 5)
    val rows = (0L until 40L).map(i => (i, vec())) :+
      (40L, matrix(2).map(_ * 2f)) :+            // cos 1.0 with BOTH 2 and 5
      (41L, Array.fill(dim)(0f))                 // zero norm: cos 0.0 everywhere
    val df = rows.toDF("id", "v")
    // a null vector: every struct-max cosine is null, so the tie on j
    // breaks high (the oracles' ORDER BY cos DESC, ci DESC)
    val withNull = df.union(Seq((42L, null.asInstanceOf[Array[Float]])).toDF("id", "v"))
    def picks(in: org.apache.spark.sql.DataFrame, pick: org.apache.spark.sql.Column) =
      in.select(col("id"), pick.as("pick"))
        .collect().map(r => r.getLong(0) -> r.getAs[java.lang.Long](1)).toMap
    // the replaced form: cosineFF against each centroid + max(struct(cos, j))
    val structMax = picks(withNull, array_max(array(matrix.zipWithIndex.map {
        case (c, j) => struct(VectorExprs.cosineFF(col("v"), typedlit(c.toSeq)).as("cos"),
          lit(j.toLong).as("j"))
      }: _*)).getField("j"))
    val kernel = picks(df, VectorExprs.argmaxCosStride(
        col("v"), lit(0L), lit(matrix.length.toLong), 1, matrix))
    assert(kernel == structMax - 42L)
    assert(kernel(40L) == 5L, "cosine tie must break to the HIGHEST index (struct-max order)")
    assert(kernel(41L) == matrix.length - 1L, "all-zero vector cosines are 0.0 everywhere; highest index wins")
    // the corpus-side helper: the same kernel, plus the null-vector row
    // coalesced to cell k-1 exactly where the struct-max form puts it
    val cells = withNull.select(col("id"), Similarity.assignCell(col("v"), matrix).as("cell"))
    assert(!cells.schema("cell").nullable,
      "a nullable cell lets an inferred isnotnull(cell) pull the kernel under a Filter")
    val helper = picks(cells, col("cell"))
    assert(helper == structMax)
    assert(helper(42L) == matrix.length - 1L, "null vector lands in cell k-1")
    assert(helper(40L) == 5L && helper(41L) == matrix.length - 1L)
    // strided scan visits only lo, lo+stride, …: stride 3 from 0 over 7 rows = {0, 3, 6}
    val strided = df.select(col("id"), VectorExprs.argmaxCosStride(
        col("v"), lit(0L), lit(matrix.length.toLong), 3, matrix).as("pick"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(strided.values.toSet.subsetOf(Set(0L, 3L, 6L)))
    // dynamic per-row [lo, hi): a window around each row's full-scan pick
    val windowed = df.select(col("id"), VectorExprs.argmaxCosStride(
        col("v"), lit(2L), lit(5L), 1, matrix).as("pick"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    windowed.values.foreach(p => assert(p >= 2L && p < 5L))
    rows.foreach { case (id, v) =>
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < dim) {
          dot += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      }
      val want = (2 until 5).map(j => (cos(v, matrix(j)), j.toLong)).max._2
      assert(windowed(id) == want, s"row $id windowed pick")
    }
  }

  test("ArgmaxCosStride fuzz: random dims/matrices/strides/windows match a driver mirror") {
    import graft.expressions.VectorExprs
    val rnd = new scala.util.Random(0xd14)
    def mirrorCos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    for (trial <- 1 to 8) {
      val dim = 1 + rnd.nextInt(17)
      val m = 1 + rnd.nextInt(23)
      val matrix = Array.fill(m)(Array.fill(dim)(
        if (rnd.nextInt(10) == 0) 0f else rnd.nextFloat() * 2f - 1f))
      if (rnd.nextBoolean() && m > 2) matrix(m - 1) = matrix(m / 2).clone() // force ties
      val stride = 1 + rnd.nextInt(4)
      val lo = rnd.nextInt(m)
      val hi = lo + 1 + rnd.nextInt(m - lo)
      val vecs = (0L until 25L).map { i =>
        (i, if (rnd.nextInt(8) == 0) Array.fill(dim)(0f)
            else Array.fill(dim)(rnd.nextFloat() * 2f - 1f))
      }
      val got = vecs.toDF("id", "v")
        .select(col("id"), VectorExprs.argmaxCosStride(
          col("v"), lit(lo.toLong), lit(hi.toLong), stride, matrix).as("pick"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      vecs.foreach { case (id, v) =>
        val want = (lo until hi by stride)
          .map(j => (mirrorCos(v, matrix(j)), j.toLong)).max._2
        assert(got(id) == want,
          s"trial $trial (dim=$dim m=$m lo=$lo hi=$hi stride=$stride) row $id: got ${got(id)}, want $want")
      }
    }
  }

  test("ArgmaxCosStride empty window returns NULL, never a fabricated index") {
    import graft.expressions.VectorExprs
    // ADVICE r11: the old kernel returned `lo` (possibly out of range) when
    // the scan window was empty. Contract now: [max(lo,0), min(hi,|matrix|))
    // empty ⇒ NULL — a caller bug surfaces as null, not as a wrong cell id.
    val matrix: Array[Array[Float]] = Array.fill(4)(Array.fill(3)(1f))
    val df = Seq((1L, Array(1f, 2f, 3f))).toDF("id", "v")
    def pick(lo: Long, hi: Long): Option[Long] = {
      val r = df.select(VectorExprs.argmaxCosStride(
        col("v"), lit(lo), lit(hi), 1, matrix).as("pick")).head()
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(pick(2L, 2L).isEmpty, "lo == hi")
    assert(pick(3L, 1L).isEmpty, "lo > hi")
    assert(pick(9L, 99L).isEmpty, "lo past the matrix (hi clamps below lo)")
    assert(pick(-5L, 0L).isEmpty, "hi <= 0 (lo clamps to 0, window empty)")
    // negative lo with a real window clamps to 0 and still answers
    assert(pick(-3L, 4L).contains(3L), "clamped window [0,4): ties to highest index")
    assert(pick(0L, 4L).contains(3L))
  }
}
