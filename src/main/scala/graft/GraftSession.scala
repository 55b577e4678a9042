package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: Bench, Verify, Probe and the specs all build
  * their session here, so the plan that is verified is the plan that is
  * benched. Static confs (the codegen cache) can only be set on the
  * builder. `SparkEntry.prep` comes last, and runs again on every query
  * build, so a key it sets cannot be changed per session.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, else 4. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Shuffle partitions default to the thread count; decade-3+ runs (sf100,
    * ~16 GB input) override upward via `SPARK_GRAFT_SHUFFLE_PARTITIONS` so
    * AQE has headroom to coalesce from — AQE can merge small partitions
    * but never split an initial one except at skew joins, so the initial
    * count is the scale ceiling.
    */
  def shufflePartitions(cpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString)

  def apply(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // split sizing lives in SparkEntry.prep (compute-proportional — see
      // the scaladoc there); prep's conf.set overrides builder values.
      // At bench scale the mid-size dims (orders, customer, part) are tens
      // of MB — hash-joining them scan-side beats a shuffle; on a real
      // cluster AQE makes the same call from runtime sizes. With the 10 MB
      // default the banded plans degrade to fact-side sort-merge joins
      // (the sf10 broadcast probe OOM-killed the host on shuffle volume
      // the bench never writes).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // default 100-entry codegen cache evicts across a multi-pass suite,
      // recompiling every generated class each pass
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.prep(spark)
  }
}
