package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.VectorExprs
import graft.operators.{IterCkpt, Similarity}

/** Reference-only implementations: the forms a shipped operator replaced,
  * kept as the specs' equality references. No query plans them.
  */
object Reference {

  /** The r18 sequential (one hop per materialization) connected-components
    * loop — the reference for `Dedup.connectedComponents`' paired form.
    * Identical sym construction; per iteration: neighbor-min + pointer
    * jump, eager checkpoint, convergence action.
    */
  def connectedComponentsSeq(
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

  /** The unrolled expression tree `Similarity.hyperplaneSig` replaced:
    * one `dotFF` CASE-WHEN per bit, summed.
    */
  def hyperplaneSigUnrolled(v: Column, bits: Int, dim: Int): Column = {
    val planes = Similarity.hyperplanes(bits, dim)
    (0 until bits)
      .map(j => when(VectorExprs.dotFF(v, typedlit(planes(j))) >= lit(0.0), lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
  }
}
