package graft

import org.apache.spark.sql.DataFrame

/** Benchmark main: runs the headline queries against SPARK_GRAFT_SF_DIR and
  * prints one JSON line. Forces full materialization through the noop sink
  * (count() alone would let column pruning skip most of the work).
  */
object Bench {
  /** Representative subset: one per operator family (full list in SURVEY §2). */
  val headline: Seq[String] = Seq(
    // the ETL/sync family IS the reference's actual workload — benched in
    // full so a regression on the import path is visible round-over-round
    "q01_latest_wins", "q02_snapshot_merge", "q03_rowfilter",
    "q04_backfill_range", "q05_pk_dedup", "q06_json_extract", "q07_tracking",
    "q08_profiles_view", "q09_graph_degree", "q10_edge_merge", "q11_salted_agg",
    "q17_priority_counts", "q19_registry_sync", "q20_json_struct",
    "q23_tumbling_daily", "q31_profile", "q33_node_merge", "q39_typed_sync",
    "q12_pricing_summary", "q13_region_revenue", "q14_top_customers", "q15_event_sessions",
    "q16_brand_volume", "q18_nation_rollup", "q21_asof_join", "q22_range_join",
    "q24_scd2_intervals", "q25_mutual_edges", "q26_price_percentiles", "q27_age_metrics",
    "q28_asof_native", "q29_salted_join", "q30_incremental_agg", "q32_ship_priority",
    "q34_nation_trade", "q35_returned_items", "q36_cheapest_supplier", "q37_follow_suggest",
    "q38_cu_accounting", "q57_sync_checksum",
    "q40_market_share", "q41_product_profit", "q42_cust_order_dist",
    "q43_idle_customers", "q44_rolling_metrics", "q45_funnel", "q46_retention_cohorts",
    "q47_gap_fill", "q48_revenue_forecast", "q49_promo_share", "q50_rolling_active",
    "q51_triangles", "q52_pagerank", "q53_small_order_revenue", "q54_large_orders",
    "q55_disjunctive_revenue", "q56_top_supplier", "q58_event_pivot", "q59_cube_volume",
    "q60_sole_shipper", "q61_part_variety", "q62_shipmode_priority", "q63_kmv_distinct",
    "q64_kmv_mergeable", "q65_sketch_quantiles", "q66_bfs_depths", "q67_excess_shippers",
    "q68_nation_value", "q69_kmv_intersection", "q70_decile_bins", "q71_sketch_bins",
    "q72_nation_value_wide",
    // aliases of q12/q16/q48/q49 since exact sums became the only path;
    // still benched so the total stays comparable round over round
    "q73_pricing_summary_wide", "q74_brand_volume_wide",
    "q75_revenue_forecast_wide", "q76_promo_share_wide",
    // the integer-cents cast-fidelity escapes (r16/r17): same scan classes
    // as q73 (q77) and q13/q16 (q78/q79)
    "q77_pricing_summary_cents", "q78_region_revenue_cents",
    "q79_brand_volume_cents",
    // r18 cents escapes: q48's scan class (q80) and q23's (q81)
    "q80_revenue_forecast_cents", "q81_tumbling_daily_cents",
    // s04 re-runs d06's whole candidate+closure pipeline (already benched
    // via d06); m04/m05 are constant-size generators, not SF-scaled —
    // benching them would measure nothing about the data path
    // d05 (all-pairs cartesian) is deliberately NOT a headliner: it exists
    // as the correctness baseline / d07 oracle mirror only — benching a
    // cartesian would grade the one plan shape the engine never ships
    "d01_dedup_exact", "d02_dedup_minhash", "d03_dedup_simhash", "d04_ngram_jaccard",
    "d06_dedup_clusters", "d07_embed_neardup_lsh", "d08_dedup_incremental", "d09_embed_delta",
    "d10_passage_dedup", "d11_semantic_dedup", "d12_dedup_pipeline",
    "d13_semantic_dedup_trained", "d14_semantic_dedup_scaled", "d15_semantic_dedup_lloyd",
    "s01_ann_brute", "s02_ann_lsh", "s03_ann_ivf", "s05_range_search", "s06_quantize",
    "s07_mmr_diversify", "s08_pq_encode", "s09_adc_search", "s10_ivfpq", "s11_kmeans_train",
    "s12_ann_ivf_trained",
    "m01_multimodal", "m02_frame_sample", "m03_resize_plan", "m06_frame_phash",
    "m07_frame_neardup",
    "t01_langid", "t02_quality", "t03_tokens", "t04_fingerprint", "t05_normalize",
    "t06_stratified_sample", "t07_cap_per_source", "t08_contamination", "t09_repetition",
    "t10_pii_redact", "t11_curation", "t12_sequence_pack", "t13_url_domains",
    "t14_mixture_sample", "t15_chunk_plan", "t16_vocab_top", "t17_bloom_contamination",
    "t18_gopher_rules")

  /** Wall seconds to build `mk` and drain it through the noop sink — the
    * one timed unit of Bench and `Probe ab`. Plan construction is inside
    * the window: eager-checkpoint operators (pageRank,
    * connectedComponents) do their work while the plan is built. A
    * failure goes to `onFail`; the time spent up to it is still returned.
    */
  def timedNoop(onFail: Throwable => Unit)(mk: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try mk.write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => onFail(e) }
    (System.nanoTime() - t0) / 1e9
  }

  /** Linear-interpolated quantile of a non-empty sample; p = 0.5 is the
    * usual median (mean of the middle pair for even counts).
    */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val pos = p * (s.length - 1)
    val i = pos.toInt
    val f = pos - i
    if (i + 1 >= s.length) s(i) else s(i) * (1 - f) + s(i + 1) * f
  }

  /** Tail-window budget of the compact line: the bench runner keeps only the
    * last 2,000 characters of output, and ~100 go to sbt's closing line.
    */
  val compactLimit = 1900

  /** The compact line printed LAST, so it always lands whole in the
    * runner's tail window: total, query count, the artifact holding the
    * full line, the climate geomean, and `qmed` — per-query medians at 2
    * decimals keyed by each name's prefix before the first underscore
    * (the 129 full names alone are ~2.4 KB). It degrades instead of
    * overflowing: on a short-key collision, or when the line would pass
    * [[compactLimit]] chars, `qmed` gives way to a `qmed_overflow` marker
    * naming the artifact file.
    */
  def compactLine(total: Double, sfDir: String, artifact: String,
      climateGeomean: Option[Double], medians: Seq[(String, Double)]): String = {
    val head = f"""{"metric":"total","value":$total%.3f,"unit":"sec","sf":"$sfDir",""" +
      s""""n_queries":${medians.length},"queries_artifact":"$artifact"""" +
      climateGeomean.map(g => f""","climate":{"geomean":$g%.3f}""").getOrElse("")
    val keys = medians.map(_._1.takeWhile(_ != '_'))
    val qmed = keys.zip(medians.map(_._2))
      .map { case (k, m) => "\"" + k + f"""\":$m%.2f""" }.mkString("{", ",", "}")
    val line = s"""$head,"qmed":$qmed}"""
    if (keys.distinct.length == keys.length && line.length <= compactLimit) line
    else s"""$head,"qmed_overflow":"$artifact"}"""
  }

  /** The queries a run times, in `defined` order: all of them, or those
    * named in `filter` (comma-separated). A listed name that is not in
    * `defined` throws `IllegalArgumentException` naming every such name: a
    * run that quietly timed fewer queries than it was asked for would read
    * as a complete one.
    */
  def select(defined: Seq[String], filter: Option[String]): Seq[String] = filter match {
    case None => defined
    case Some(list) =>
      val asked = list.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = asked.filterNot(defined.contains)
      require(asked.nonEmpty, s"query filter '$list' names no query")
      require(unknown.isEmpty,
        s"query filter names queries outside Bench.headline: ${unknown.mkString(", ")}")
      defined.filter(asked.contains)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.defaultCpus
    val spark = GraftSession(cpus)

    val qs = SparkEntry.queries
    def once(name: String, pass: Int): Double = {
      val dt = timedNoop(e => System.err.println(s"[bench] $name failed: $e")) {
        qs(name)(spark, sfDir)
      }
      System.err.println(f"[bench] pass$pass $name $dt%.2fs")
      dt
    }
    // optional first arg: comma-separated query names — isolated runs for
    // variance triage (the driver always runs the full headline list)
    val names = select(headline.filter(qs.contains), args.headOption)
    // untimed warmup at the smallest SF: pays Janino codegen + C2 JIT for
    // every query's generated classes outside the measured window (the
    // plans and generated code are data-size independent)
    val warmDir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (warmDir.isDirectory) {
      val t0 = System.nanoTime()
      names.foreach { n =>
        timedNoop(e => System.err.println(s"[bench] warmup $n failed: $e")) {
          qs(n)(spark, warmDir.toString)
        }
      }
      System.err.println(f"[bench] warmup pass ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }
    // three full timed passes, per-query min: interleaving means a transient
    // host slow window can't poison every sample of the same query, and the
    // third pass covers the 1-2.5s band where two samples proved too few
    // (r3: q08 recorded 2.32s vs a true ~1s). EVERY sample is retained so
    // the artifact self-describes the dispersion (VERDICT r8: quote
    // reproducible medians/spread, not just the favorable min).
    // sf1-scale runs dial the protocol down via env (fewer passes, higher
    // outlier threshold — at sf1 every query is >1s and the adaptive loop
    // would multiply an already-long suite) and redirect the artifact
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    val outlierSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUTLIER_SEC", "1.0").toDouble
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val samples = scala.collection.mutable.LinkedHashMap(
      names.map(n => n -> scala.collection.mutable.ArrayBuffer.empty[Double]): _*)
    for (pass <- 1 to passes; n <- names) samples(n) += once(n, pass)
    // the host occasionally throttles for tens of seconds (CPU steal /
    // disk-burst windows, sometimes spanning several back-to-back samples);
    // an outlier keeps re-sampling until its min stops improving — two
    // consecutive samples within 10% of the best — or the budget runs out,
    // so a bad window can't masquerade as a slow operator in the artifact.
    // best is the unconditional min of all samples; the 10% rule only
    // drives the staleness counter (r3 discarded an observed 7.88s min).
    names.foreach { n =>
      var best = samples(n).min
      var extra = 0
      var stale = 0
      while (best > outlierSec && extra < 6 && stale < 2) {
        extra += 1
        val t = once(n, passes + extra)
        samples(n) += t
        if (t < best * 0.9) stale = 0 else stale += 1
        best = math.min(best, t)
      }
    }
    def med(xs: Seq[Double]): Double = quantile(xs, 0.5)
    val results = names.map(n => n -> samples(n).min)
    val qJson = results.map { case (k, v) => "\"" + k + f"""\":$v%.3f""" }
      .mkString("{", ",", "}")
    // per-query dispersion record: sample count, min, median, max — the
    // protocol's full observability lands in the artifact itself
    val sJson = names.map { n =>
      val xs = samples(n).toSeq
      "\"" + n + f"""\":{"n":${xs.length},"min":${xs.min}%.3f,"med":${med(xs)}%.3f,"max":${xs.max}%.3f}"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Host-climate stamp (r16): the rig's multi-minute throttle windows
    // have twice produced committed artifacts 1.1-1.3x over the previous
    // round on plan-identical queries (r15's 1.29x, diagnosed climate by
    // the interleaved A/B in BENCH_AB_R14R15.json). Make the diagnosis
    // machine-readable IN the artifact: ratio each plan-stable control
    // query's run min against its committed quiet-window minimum
    // (BENCH_CONTROLS.json) and emit the per-control ratios + geomean. A
    // uniform geomean >> 1.1 marks the SESSION slow; per-query regressions
    // only mean something against a near-1.0 climate. sf-dependent: the
    // controls are sf0.1 minima, so the stamp only emits on sf0.1 runs.
    val resultMap = results.toMap
    val climate: Option[(Double, String)] =
      if (!sfDir.endsWith("sf0.1")) None
      else try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get("BENCH_CONTROLS.json"))
        // parse as real JSON and keep only TOP-LEVEL numeric fields (the
        // minima): a text regex re-matched control names inside the nested
        // _confirmations log (r17) and produced duplicate bogus ratios
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val root = mapper.readTree(txt)
        val names = root.fieldNames()
        val minima = Iterator.continually(names)
          .takeWhile(_.hasNext).map(_.next())
          .filter(k => !k.startsWith("_") && root.get(k).isNumber)
          .map(k => k -> root.get(k).asDouble()).toSeq
        val ratios = minima.flatMap { case (k, base) =>
          resultMap.get(k).map(v => k -> v / base)
        }.sortBy(_._1)
        if (ratios.isEmpty) None
        else {
          val geo = math.exp(ratios.map(r => math.log(r._2)).sum / ratios.size)
          val per = ratios.map { case (k, r) => "\"" + k + f"""\":$r%.2f""" }.mkString("{", ",", "}")
          Some(geo -> f"""{"geomean":$geo%.3f,"controls":$per,"baseline":"BENCH_CONTROLS.json"}""")
        }
      } catch { case _: Exception => None }
    // the run's ACTUAL knobs, in-artifact (ADVICE r11: the sf100 probe ran
    // shuffle.partitions=256 / outlier=10000s while the derived report's
    // hardcoded config string claimed 32 — the artifact must self-describe
    // so cross-config ratios are visible as such)
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val config = s"""{"master":"local[$cpus]","shuffle_partitions":$shufflePartitions,""" +
      s""""passes":$passes,"outlier_sec":$outlierSec,""" +
      s""""max_partition_bytes":"${spark.conf.get("spark.sql.files.maxPartitionBytes")}"}"""
    val protocol = s"local[$cpus], shuffle.partitions=$shufflePartitions; " +
      s"untimed sf0.001 warmup; $passes interleaved full passes; " +
      s">${outlierSec}s outliers re-sampled until 2 consecutive samples within 10% of best (max +6); " +
      "queries=per-query min over all samples; stats=per-query n/min/med/max"
    val climateField = climate.map(c => s""","climate":${c._2}""").getOrElse("")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":"$protocol","config":$config$climateField,"queries":$qJson,"stats":$sJson,"sf":"$sfDir"}"""
    println(line)
    // The driver's BENCH_r{N}.json keeps only the last 2,000 chars of
    // output — the first ~40 query timings fall off every round. Persist
    // the COMPLETE line (full runs only — a filtered dev run must not
    // overwrite the round artifact — UNLESS the run redirected the
    // artifact via SPARK_GRAFT_BENCH_OUT, as the curated scale subsets
    // do) so round-over-round comparison covers every entry; committed
    // as BENCH_LOCAL.json.
    if (args.isEmpty || sys.env.contains("SPARK_GRAFT_BENCH_OUT")) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), line + "\n")
      catch { case e: Exception => System.err.println(s"[bench] $outPath write failed: $e") }
    }
    // The full line above is ~6 KB — longer than the driver's 2,000-char
    // tail window, so its `parsed` field came up null every round (the
    // window holds only the line's end). Print a SECOND, compact line
    // LAST (see compactLine): it fits whole in the tail, and its per-query
    // medians let PERF_r{N} compare queries round over round.
    println(compactLine(total, sfDir, outPath, climate.map(_._1),
      names.map(n => n -> med(samples(n).toSeq))))
    spark.stop()
  }
}
