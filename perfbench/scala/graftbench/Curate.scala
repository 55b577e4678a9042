package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFns
import graft.operators.{Dedup, Sampling}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Training-data curation over a seeded corpus. Each stage calls graft's
  * operators the way the named SparkEntry query composes them, so the
  * query's DuckDB oracle checks the stage's output. The pair stages are
  * materialized once and feed the connected-components stages, as a
  * pipeline would. One operation is one stage; a pipeline is all of them,
  * and its wall time is the workload's latency.
  */
final class Curate extends Workload {
  private var dir: String = _
  private var items = 0L
  private val firstDigest = mutable.HashMap.empty[String, String]
  private val ops = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val bad = mutable.Set.empty[String]
  private var outDir: Path = _

  import Curate.StageLayer

  def setup(ctx: Ctx): Unit = {
    dir = ctx.inputs.resolve("corpus").toString
    outDir = ctx.work.resolve("out")
    // open the corpus: row counts of both tables, from their footers
    items = Seq("documents", "embeddings").map(t => Main.parquetRows(ctx.spark, s"$dir/$t.parquet")).sum
  }

  private final class Run(val traced: Boolean) {
    val stageMs = ArrayBuffer.empty[(String, Double)]
    var pairs = 0L
    var bandPairs = 0L
    var wallS = 0.0
  }

  /** Every stage in pipeline order, grouped into chains: a stage gets the
    * materialized output of the stage before it in its chain (the pair
    * stages feed the connected-components stages, as a pipeline would).
    */
  private def chains(docs: DataFrame, embs: DataFrame): Seq[Seq[(String, DataFrame => DataFrame)]] = Seq(
    Seq(
      "t05_normalize" -> (_ => docs.select(col("doc_id"),
        TextFns.normalize(col("text")).as("norm_text"),
        TextFns.noiseCount(col("text")).as("n_noise"),
        length(TextFns.normalize(col("text"))).cast("long").as("n_chars_norm"))),
      "t03_tokens" -> (_ => docs.select(col("doc_id"),
        size(TextFns.tokens(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long").as("subword_tokens"))),
      "d01_dedup_exact" -> (_ => Dedup.exact(docs, "doc_id", "text"))),
    Seq(
      "d04_ngram_jaccard" -> (_ => Dedup.ngramJaccard(docs, "doc_id", "text", minJaccard = 0.5).localCheckpoint(true)),
      "d12_dedup_pipeline" -> { pairs =>
        val clusters = Dedup.connectedComponents(pairs, "a", "b")
        docs.select(col("doc_id"))
          .join(clusters, col("doc_id") === col("node_id"), "left")
          .select(col("doc_id"),
            coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
            when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"), 1L)
              .otherwise(0L).as("keep"))
      }),
    Seq(
      "t06_stratified_sample" -> (_ => Sampling.stratifiedSample(docs, col("lang"), col("doc_id"),
          ratePercent = Map("en" -> 30), defaultPercent = 100)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))),
      "t07_cap_per_source" -> (_ => Sampling.capPerGroup(
          docs.select(col("doc_id"), col("source"), col("lang"), col("n_chars")),
          Seq(col("source"), col("lang")), Seq(col("doc_id").asc), k = 25)
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_kept"), max(col("doc_id")).as("max_kept_id")))),
    Seq(
      "d07_embed_neardup_lsh" -> (_ => Dedup.embeddingNearDupBucketed(
        embs, "vec_id", "embedding", minCosine = 0.35, dim = 64).localCheckpoint(true)),
      "d06_dedup_clusters" -> (bandPairs => Dedup.connectedComponents(bandPairs, "a", "b")
        .select(col("node_id").as("vec_id"), col("cluster_id")))),
    Seq(
      "d11_semantic_dedup" -> (_ => Dedup.semanticDedup(embs, "vec_id", "embedding", eps = 0.35, nCentroids = 32))))

  /** Run one chain's stages in order, each collected to the driver. */
  private def chain(ctx: Ctx, run: Run, stages: Seq[(String, DataFrame => DataFrame)]): Unit =
    stages.foldLeft(null: DataFrame) { case (prev, (name, build)) =>
      val (layer, stem) = StageLayer(name)
      val t0 = System.nanoTime()
      val (df, rows) = ctx.tracer.span("op", name) {
        ctx.tracer.span(layer, stem) {
          val df = build(prev)
          (df, df.collect())
        }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      check(ctx, name, df, rows)
      run.stageMs += name -> ms
      if (name == "d04_ngram_jaccard") run.pairs = rows.length
      if (name == "d07_embed_neardup_lsh") run.bandPairs = rows.length
      df
    }

  /** One pass of every stage over the corpus, chain after chain. */
  private def pipeline(ctx: Ctx, traced: Boolean): Run = {
    val run = new Run(traced)
    val t0 = System.nanoTime()
    chains(Tables.documents(ctx.spark, dir), Tables.embeddings(ctx.spark, dir)).foreach(chain(ctx, run, _))
    run.wallS = (System.nanoTime() - t0 - checkNs) / 1e9
    checkNs = 0L
    run
  }

  private var checkNs = 0L

  /** The first output of a stage is saved for the oracle comparison; every
    * later output must hash the same. Checking time is left out of the
    * pipeline's wall time.
    */
  private def check(ctx: Ctx, name: String, df: DataFrame, rows: Array[Row]): Unit = {
    val t0 = System.nanoTime()
    ops(name) += 1
    val d = Main.resultDigest(rows)
    firstDigest.get(name) match {
      case None =>
        firstDigest(name) = d
        Main.saveRows(ctx.spark, df, rows, outDir.resolve(name))
      case Some(f) if f != d =>
        System.err.println(s"[curate] $name output changed between runs")
        bad += name
      case _ =>
    }
    checkNs += System.nanoTime() - t0
  }

  /** Two untimed pipelines: the first pays for code generation and the
    * JIT and takes about three times as long; the second still runs a
    * quarter slower than later ones. The first one's outputs are the ones
    * saved for the oracle comparison.
    */
  def warmup(ctx: Ctx): Unit = (1 to 2).foreach(_ => pipeline(ctx, traced = false))

  def measure(ctx: Ctx, seconds: Double): Phase = {
    val p = new Phase
    val all = Main.repeat(seconds, 2)(pipeline(ctx, ctx.beginUnit()))
    ctx.tracer.disable()
    p.unitMs ++= all.map(_.wallS * 1e3)
    val stages = all.flatMap(_.stageMs)
    p.attempted = stages.size
    p.failed = stages.count { case (n, _) => bad.contains(n) }
    // latency is a pipeline's: the p90 of 20 stage times from ten unlike
    // stages is just the third-slowest stage and swung by 40% between seeds
    p.endToEnd(all, (r: Run) => r.traced) { rs =>
      val walls = rs.map(_.wallS)
      Seq("rows_per_s" -> Stats.median(walls.map(items / _)),
        "latency_p50_s" -> Stats.quantile(walls, 0.5),
        "latency_p90_s" -> Stats.quantile(walls, 0.9))
    }
    val runs = all.filter(_.traced)
    if (runs.nonEmpty) {
      val l = p.layers
      // per pipeline: the stem's stage times summed within a run, median over runs
      def stemMs(stem: String): Double = Stats.median(runs.map(r =>
        r.stageMs.collect { case (n, ms) if StageLayer(n)._2 == stem => ms }.sum).toSeq)
      l("functions.text_gate_ms") = stemMs("text_gate")
      l("operators.exact_dedup_ms") = stemMs("exact_dedup")
      l("operators.minhash_pairs_ms") = stemMs("minhash_pairs")
      l("operators.minhash_pairs") = Stats.median(runs.map(_.pairs.toDouble).toSeq)
      l("operators.band_pairs_ms") = stemMs("band_pairs")
      l("operators.band_pairs") = Stats.median(runs.map(_.bandPairs.toDouble).toSeq)
      l("operators.cc_ms") = stemMs("cc")
      l("operators.semantic_ms") = stemMs("semantic")
      l("operators.sample_ms") = stemMs("sample")
      val byGroup = ctx.tracer.counters()
      val spans = ctx.tracer.all
      val cc = spans.filter(s => s.layer == "operators" && s.name == "cc")
      l("operators.cc_jobs") = cc.map(s => ctx.tracer.inclusive(s, byGroup).jobs).sum.toDouble / runs.size
      val band = spans.filter(s => s.layer == "operators" && s.name == "band_pairs")
        .map(s => ctx.tracer.inclusive(s, byGroup).heaviestStage)
      l("operators.band_tasks") = Stats.median(band.map(_._1.toDouble))
      l("operators.band_skew") = Stats.median(band.map(_._2))
    }
    p
  }

  override def outputs: Map[String, (Path, Long)] =
    firstDigest.keys.map(k => k -> (outDir.resolve(k), ops(k))).toMap

  def headline: (String, Boolean) = ("rows_per_s", true)
}

object Curate {
  /** stage -> (layer, per-layer metric stem) */
  val StageLayer: Map[String, (String, String)] = Map(
    "t05_normalize" -> ("functions", "text_gate"),
    "t03_tokens" -> ("functions", "text_gate"),
    "d01_dedup_exact" -> ("operators", "exact_dedup"),
    "d04_ngram_jaccard" -> ("operators", "minhash_pairs"),
    "d12_dedup_pipeline" -> ("operators", "cc"),
    "t06_stratified_sample" -> ("operators", "sample"),
    "t07_cap_per_source" -> ("operators", "sample"),
    "d07_embed_neardup_lsh" -> ("operators", "band_pairs"),
    "d06_dedup_clusters" -> ("operators", "cc"),
    "d11_semantic_dedup" -> ("operators", "semantic"))

  val Stages: Seq[String] = StageLayer.keys.toSeq.sorted
}
