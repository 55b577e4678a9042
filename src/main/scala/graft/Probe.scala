package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.plans.BroadcastAudit

/** The one measurement main, in four modes. Every mode runs in the
  * [[GraftSession]] that Bench and Verify use.
  *
  * Usage:
  *   runMain graft.Probe ab <sfDir> <variant>...
  *     — interleaved A/B over noop-sink runs; a variant is `query` or
  *       `query@key=value[,key=value]` (a session-conf delta). One
  *       variant times a single query.
  *   runMain graft.Probe explain <query> <sfDir>     — print one plan
  *   runMain graft.Probe explain ALL <sfDir> <outDir> [suffix]
  *     — write every headline query's formatted plan to
  *       <outDir>/<query>_<suffix>.txt (e.g. plans/r18, suffix "before")
  *   runMain graft.Probe broadcast <sfDir> [queriesCsv]
  *     — built bytes of every broadcast the banded plans execute
  *   runMain graft.Probe regime <sfDir> [eps] [passes] [variantsCsv]
  *     — the SemDeDup quantizers in the keep-dominated regime
  *
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE_PARTITIONS (the session);
  *      SPARK_GRAFT_PROBE_PASSES (ab: timed rounds, and the cap on
  *      untimed warm-up rounds; default 10);
  *      GRAFT_BROADCAST_ALARM_BYTES (broadcast).
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe ab|explain|broadcast|regime <args> (see the Probe scaladoc)"
    require(args.length >= 2, usage)
    args.head match {
      case "ab" => ab(args.tail)
      case "explain" => explain(args.tail)
      case "broadcast" => broadcast(args.tail)
      case "regime" => regime(args.tail)
      case other => sys.error(s"unknown mode '$other' — $usage")
    }
  }

  // ---------------------------------------------------------------- ab

  /** One A/B arm: a declared query and the session-conf delta it runs under. */
  final case class Variant(spec: String, query: String, delta: Seq[(String, String)])

  def parseVariant(spec: String): Variant = spec.split("@", 2) match {
    case Array(q) => Variant(spec, q, Nil)
    case Array(q, kvs) => Variant(spec, q, kvs.split(',').toSeq.map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => throw new IllegalArgumentException(s"variant '$spec': '$kv' is not key=value")
      }
    })
  }

  /** Run `body` with `delta` set on the session, restoring the prior values after. */
  def withConf[T](spark: SparkSession, delta: Seq[(String, String)])(body: => T): T = {
    val saved = delta.map { case (k, _) => k -> spark.conf.getOption(k) }
    delta.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Reject a delta on a key `SparkEntry.prep` sets: prep runs on every
    * query build and would silently reset it, timing the wrong plan.
    */
  def checkDelta(spark: SparkSession, v: Variant): Unit =
    withConf(spark, v.delta) {
      SparkEntry.prep(spark)
      v.delta.foreach { case (k, x) =>
        require(spark.conf.get(k) == x,
          s"variant '${v.spec}': $k is set by SparkEntry.prep on every query, " +
            "so the delta would be silently reset")
      }
    }

  /** Untimed warm-up rounds ([[warmUp]], at most `passes`), then `passes`
    * interleaved timed rounds over the noop sink. Every round alternates
    * the variant order so a slow host window cannot favour one arm.
    * Returns the result line ([[abLine]]).
    */
  def runAb(spark: SparkSession, sfDir: String, variants: Seq[Variant], passes: Int): String = {
    require(variants.nonEmpty, "ab needs at least one variant")
    variants.foreach { v =>
      require(SparkEntry.queries.contains(v.query), s"variant '${v.spec}': unknown query '${v.query}'")
      checkDelta(spark, v)
    }
    def once(v: Variant): Double = withConf(spark, v.delta) {
      Bench.timedNoop(e => throw e)(SparkEntry.queries(v.query)(spark, sfDir))
    }
    // one round: every variant once, in alternating order; times in variant order
    def round(r: Int, label: String): Seq[Double] = {
      val order = if (r % 2 == 0) variants.indices else variants.indices.reverse
      val t = order.map { i =>
        val dt = once(variants(i))
        System.err.println(f"[probe] $label${r + 1} ${variants(i).spec} $dt%.3fs")
        i -> dt
      }.toMap
      variants.indices.map(t)
    }
    val warmup = warmUp(passes)(round(_, "warmup"))
    val rounds = (0 until passes).map(round(_, "pass"))
    abLine(sfDir, variants.map(_.spec).zip(rounds.transpose), warmup)
  }

  /** Relative spread under which two consecutive warm-up times count as settled. */
  val WarmupTolerance = 0.10

  /** The warm-up stop rule: in the last two rounds (each a per-variant time
    * vector) every variant's times lie within [[WarmupTolerance]] of each
    * other, relative to the slower. One untimed run is not enough: q12 at
    * sf1 read 2.1 s on its first pass and 0.6 s on its tenth.
    */
  def warmedUp(rounds: Seq[Seq[Double]]): Boolean =
    rounds.length >= 2 && rounds(rounds.length - 2).zip(rounds.last).forall { case (a, b) =>
      math.abs(a - b) <= WarmupTolerance * math.max(a, b)
    }

  /** Run `round(r)` for r = 0, 1, … until [[warmedUp]] holds or `cap`
    * rounds have run; returns the number of rounds. */
  def warmUp(cap: Int)(round: Int => Seq[Double]): Int = {
    var rounds = Vector.empty[Seq[Double]]
    while (rounds.length < cap && !warmedUp(rounds)) rounds :+= round(rounds.length)
    rounds.length
  }

  /** One JSON line: the warm-up round count, each variant's quartiles and
    * median, and with two or more variants the second's round-by-round win
    * count against the first.
    */
  def abLine(sfDir: String, samples: Seq[(String, Seq[Double])], warmup: Int): String = {
    val vs = samples.map { case (spec, xs) =>
      val q = (p: Double) => Bench.quantile(xs, p)
      s"""{"variant":"${spec.replace("\"", "'")}",""" +
        f""""q1":${q(0.25)}%.3f,"med":${q(0.5)}%.3f,"q3":${q(0.75)}%.3f}"""
    }
    val wins =
      if (samples.length < 2) ""
      else s""","second_wins":${samples(1)._2.zip(samples(0)._2).count { case (b, a) => b < a }}"""
    s"""{"metric":"probe_ab","sf":"$sfDir","warmup":$warmup,"passes":${samples.head._2.length},""" +
      s""""variants":${vs.mkString("[", ",", "]")}$wins}"""
  }

  private def ab(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe ab <sfDir> <variant>...")
    val variants = args.tail.toSeq.map(parseVariant)
    val passes = sys.env.getOrElse("SPARK_GRAFT_PROBE_PASSES", "10").toInt
    val spark = GraftSession()
    try println(runAb(spark, args.head, variants, passes))
    finally spark.stop()
  }

  // ----------------------------------------------------------- explain

  private def explain(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe explain <query|ALL> <sfDir> [outDir] [suffix]")
    val name = args(0)
    val sfDir = args(1)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    if (name == "ALL") {
      val outDir = java.nio.file.Paths.get(args(2))
      java.nio.file.Files.createDirectories(outDir)
      val suffix = if (args.length > 3) args(3) else "before"
      Bench.headline.filter(SparkEntry.queries.contains).foreach { n =>
        try {
          val df = SparkEntry.queries(n)(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
          System.err.println(s"[explain] wrote $n")
        } catch { case e: Throwable => System.err.println(s"[explain] $n FAILED: $e") }
      }
    } else {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.explain("formatted")
    }
  }

  // --------------------------------------------------------- broadcast

  /** The banded family PlanSpec guards — the plans whose shape puts an
    * array column next to a broadcast decision. */
  val banded: Seq[String] = Seq(
    "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d08_dedup_incremental", "d09_embed_delta", "m07_frame_neardup",
    "s02_ann_lsh", "s05_range_search")

  /** Decade-2 spot probe for the static-broadcast built-size bound
    * (VERDICT r12/r13 task 3): PlanSpec's 64 MB dataSize assertion runs at
    * spec SF only, where an inflation regression in the static file
    * estimate is invisible (<~8× inflation hides inside the threshold).
    * This mode runs the banded-plan family at a REAL scale directory (the
    * bench chain wires it at sf10), reads the executed BroadcastExchange
    * dataSize of every broadcast each plan actually built, and prints ONE
    * JSON line for the sf10 artifact. Exit 3 if ANY static-estimate
    * broadcast crosses the alarm bytes — array-carrying or not, since a
    * broadcast planned above an explode outputs the scalar exploded
    * elements — or if an ARRAY-CARRYING static broadcast sits over an
    * unmaterialized explode (the decade-2 hard-fail class PlanSpec pins;
    * the scalar static-over-explode sides, like s02/s05's
    * contract-bounded query vectors, are by-design and bounded by the
    * bytes alarm instead). Runtime/AQE-sized broadcasts are sized from
    * real bytes and cannot misestimate — reported but never alarmed ON
    * SIZE. One probe invariant outranks that scoping (ADVICE r14,
    * fail-closed): a MISSING dataSize metric breaches on EVERY reading,
    * runtime-sized included — a probe that cannot read the built bytes
    * cannot bound anything, and a Spark upgrade silently dropping the
    * metric must fail the chain loudly, not degrade the guard to
    * reported-only.
    *
    * GRAFT_BROADCAST_ALARM_BYTES defaults to 1280 MiB, the design's own
    * envelope with 25% headroom: a static-estimate broadcast is only
    * POSSIBLE while the file estimate sits under the 64 MB threshold, and
    * the documented worst inflation of these plans is the ~15×
    * tokenShingleHashes expansion, so the accepted window tops out near
    * 16 × 64 MB ≈ 1 GiB no matter the SF (measured instance: d08's
    * corpus-sets side builds ~260 MB at sf10 under a 59 MB file estimate,
    * then the estimate crosses the threshold and the planner shuffles —
    * BENCH_SF10_BROADCAST.json). A breach therefore means the inflation
    * factor itself regressed or a hint landed on a side that grows with
    * the corpus (the r12 d09 class) — not the window. The probe grades
    * the plans the BENCH artifacts ship, so it runs in Bench's session:
    * with the default 10 MB threshold every banded plan degrades to
    * fact-side sort-merge joins.
    */
  private def broadcast(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names =
      if (args.length > 1) args(1).split(',').toSeq.filter(_.nonEmpty) else banded
    val alarmBytes = sys.env.getOrElse("GRAFT_BROADCAST_ALARM_BYTES",
      (1280L * 1024 * 1024).toString).toLong
    val spark = GraftSession()

    var breaches = List.empty[String]
    val perQuery = names.map { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      BroadcastAudit.execute(df) // the df's OWN execution: AQE settles, metrics fill
      val rs = BroadcastAudit.readings(df)
      rs.foreach { r =>
        // the BUILT-size alarm applies to EVERY static-estimate broadcast,
        // array-carrying or not — a broadcast planned ABOVE an explode
        // outputs the scalar exploded elements (the array is consumed), so
        // an array-only scope would exempt exactly the inflated class the
        // probe exists to bound. The built bytes are the ground truth
        // regardless of column shape.
        if (!r.runtimeSized && r.builtBytes >= alarmBytes)
          breaches ::= s"$name: static-estimate broadcast built ${r.builtBytes} bytes >= alarm $alarmBytes"
        if (r.builtBytes < 0L)
          breaches ::= s"$name: broadcast dataSize metric missing — cannot bound the built side"
        // the explode-below hard-fail keeps PlanSpec's array-carrying scope:
        // the banded designs' CONTRACT-BOUNDED sides (s02/s05's query-vector
        // explode, ~67 MB at sf10) are static-over-explode BY DESIGN and
        // bounded by the bytes alarm above; an array-carrying one has no
        // such contract and fails outright at any size.
        if (!r.runtimeSized && r.carriesArray && r.inflatedBelow)
          breaches ::= s"$name: static-estimate broadcast over an unmaterialized explode"
      }
      val rows = rs.map(r =>
        s"""{"built_bytes":${r.builtBytes},"runtime_sized":${r.runtimeSized},""" +
          s""""inflated_below":${r.inflatedBelow},"carries_array":${r.carriesArray}}""")
        .mkString("[", ",", "]")
      // per-query partial line the moment the plan's metrics are read: at
      // big SF a later query in the list can exceed the host (the gen_scale
      // replica geometry makes pair outputs quadratic in density), and an
      // all-or-nothing final line would lose every completed reading with it
      println(s"""{"metric":"broadcast_built_bytes_partial","sf":"$sfDir","query":"$name","readings":$rows}""")
      s""""$name":$rows"""
    }
    spark.stop()
    val breachJson = breaches.map(b => "\"" + b.replace("\"", "'") + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"broadcast_built_bytes","sf":"$sfDir","alarm_bytes":$alarmBytes,""" +
      s""""queries":{${perQuery.mkString(",")}},"breaches":$breachJson}""")
    if (breaches.nonEmpty) {
      breaches.foreach(b => System.err.println(s"[broadcast-probe] BREACH $b"))
      sys.exit(3)
    }
  }

  // ------------------------------------------------------------ regime

  /** Keep-dominated-regime probe for the production-k SemDeDup pair
    * (d14 stand-in quantizer vs d15 Lloyd-trained): the cell-local prune's
    * cost model is two-sided — REMOVED vectors short-circuit at their first
    * lower-id match (the left-semi rewrite), KEPT vectors must probe their
    * whole cell to prove no match exists, so prune work ≈ Σ_kept |cell| and
    * its worst case is Σ|cell|². The bench corpus is replica-dense (~98%
    * removed at eps 0.35 by sf10+), which hides quantizer imbalance almost
    * entirely: d14's sf100 magnet cell (1.23M of 2M vectors under lowest-id
    * init) costs nearly nothing there because its members are duplicates
    * that exit at probe one. A 100 TB curation corpus is the OPPOSITE
    * regime — most documents survive — so this probe grades the quantizers
    * where kept vectors dominate: eps above any attainable cosine (2.0)
    * makes EVERY vector a kept vector and the prune cost exactly the
    * cell-size profile the quantizer produced.
    *
    * Prints one JSON line with per-variant wall seconds (min over passes).
    * Exit 0 always — this is an instrument, not a gate; readings land in
    * the round's BENCH notes.
    *
    * Variants: `d14` / `d15` / `d15r2` (lloydRounds = 2 — the VERDICT r15
    * item-5 knee question) time the full operator; `cells_d14` /
    * `cells_d15` / `cells_d15r2` grade the QUANTIZER alone — Σ|cell|²
    * (the prune's worst-case pair volume), max|cell| and n off the
    * assignment stage, never paying the prune — and land in a separate
    * `cells` map in the JSON line.
    *
    * `split_d14` / `split_d15` / `split_d15r2` (r17, VERDICT r16 item 5)
    * time the two phases SEPARATELY — assignment wall (quantizer train +
    * assign, materialized via eager localCheckpoint) vs prune wall
    * (cell-local left-semi over the materialized assignment) — and land in
    * a `split` map. This is the instrument for d15's parked Θ(N^1.5)
    * residual: its N·2√k assignment only deserves the log-depth descent
    * (the r14 negative result) if a decade measurement shows
    * assign_wall, not prune_wall, dominating at production k — a number
    * in the artifact, not a judgment call. The recorded (assign_wall,
    * prune_wall) come from ONE pass (the tA+tP minimizer), so their sum is
    * a real observed wall; assign_min/prune_min carry the per-phase minima
    * separately (ADVICE r17).
    */
  private def regime(args: Array[String]): Unit = {
    val sfDir = args(0)
    val eps = if (args.length > 1) args(1).toDouble else 2.0
    val passes = if (args.length > 2) args(2).toInt else 3
    val variants =
      if (args.length > 3) args(3).split(',').toSeq else Seq("d14", "d15")
    val spark = GraftSession()
    val emb = Tables.embeddings(spark, sfDir)
    def operator(variant: String) = variant match {
      case "d14" => operators.Dedup.semanticDedupScaled(emb, "vec_id", "embedding", eps = eps)
      case "d15" => operators.Dedup.semanticDedupLloyd(emb, "vec_id", "embedding", eps = eps)
      case "d15r2" =>
        operators.Dedup.semanticDedupLloyd(emb, "vec_id", "embedding", eps = eps, lloydRounds = 2)
      case other => sys.error(s"unknown variant '$other' (d14|d15|d15r2|cells_*)")
    }
    def timed(mk: => DataFrame): Double = Bench.timedNoop(e => throw e)(mk)
    def assignment(variant: String) = variant.split('_').drop(1).mkString("_") match {
      case "d14" => operators.Dedup.scaledAssignment(emb, "vec_id", "embedding")
      case "d15" => operators.Dedup.lloydAssignment(emb, "vec_id", "embedding")
      case "d15r2" =>
        operators.Dedup.lloydAssignment(emb, "vec_id", "embedding", lloydRounds = 2)
      case other => sys.error(s"unknown assignment variant '$variant'")
    }
    val (cellVariants, rest) = variants.partition(_.startsWith("cells_"))
    val (splitVariants, wallVariants) = rest.partition(_.startsWith("split_"))
    val mins = wallVariants.map { v =>
      val ts = (1 to passes).map { p =>
        val dt = timed(operator(v))
        System.err.println(f"[regime-probe] pass$p $v $dt%.2fs")
        dt
      }
      v -> ts.min
    }
    val cells = cellVariants.map { v =>
      // the shared, spec-pinned stats kernel (Dedup.cellStats): Σ|cell|²
      // in decimal(38,0) — the instrument must not wrap at any N
      val (sumsq, mx, n, kUsed) = operators.Dedup.cellStats(assignment(v))
      System.err.println(s"[regime-probe] $v sumsq=$sumsq max=$mx n=$n cells_used=$kUsed")
      v -> ((sumsq, mx, n, kUsed))
    }
    // the two-phase wall split (VERDICT r16 item 5): assignment is
    // materialized by the SAME eager localCheckpoint the operator itself
    // uses (semanticDedupFromAssign re-checkpoints a checkpointed plan for
    // one cheap cached pass), so assign_wall + prune_wall decomposes the
    // full-operator wall, it doesn't re-model it. The RECORDED pair is the
    // single pass minimizing tA+tP (ADVICE r17: independent per-phase
    // minima can mix passes, breaking the decomposition claim when phase
    // noise is anti-correlated); the per-phase minima ride along as
    // assign_min/prune_min for dispersion reading.
    val splits = splitVariants.map { v =>
      val ts = (1 to passes).map { p =>
        val t0 = System.nanoTime()
        val assign = assignment(v).localCheckpoint(true)
        val tA = (System.nanoTime() - t0) / 1e9
        val tP = timed(operators.Dedup.semanticDedupFromAssign(assign, eps))
        System.err.println(f"[regime-probe] pass$p $v assign=$tA%.2fs prune=$tP%.2fs")
        // ADVICE r17: semanticDedupFromAssign re-checkpoints internally and
        // that inner checkpoint outlives the pass — unpersist EVERYTHING
        // this pass cached (not just our outer handle), or later passes at
        // sf100 time under inflated memory pressure
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        (tA, tP)
      }
      val best = ts.minBy { case (a, pr) => a + pr }
      v -> ((best, ts.map(_._1).min, ts.map(_._2).min))
    }
    spark.stop()
    val qs = mins.map { case (v, t) => f""""$v":$t%.3f""" }.mkString(",")
    val cs = cells.map { case (v, (sq, mx, n, ku)) =>
      s""""$v":{"sumsq":$sq,"max_cell":$mx,"n":$n,"cells_used":$ku}"""
    }.mkString(",")
    val ss = splits.map { case (v, ((a, pr), aMin, pMin)) =>
      f""""$v":{"assign_wall":$a%.3f,"prune_wall":$pr%.3f,""" +
        f""""assign_min":$aMin%.3f,"prune_min":$pMin%.3f}"""
    }.mkString(",")
    println(s"""{"metric":"dedup_regime_probe","sf":"$sfDir","eps":$eps,""" +
      s""""passes":$passes,"queries":{$qs},"cells":{$cs},"split":{$ss}}""")
  }
}
