package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** One session for every caller: the specs, Bench and Verify must plan
  * under the same join-relevant confs, or the verified plan is not the
  * benched plan. The factory is the only way to get one.
  */
class GraftSessionSpec extends SparkSpec {

  private def sources(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repository root: $dir not found")
    val s = Files.walk(root)
    try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq finally s.close()
  }

  test("spec session carries the factory's join-relevant confs") {
    val conf = spark.sessionState.conf
    assert(conf.autoBroadcastJoinThreshold == 64L * 1024 * 1024)
    assert(spark.sparkContext.getConf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(conf.sessionLocalTimeZone == "UTC")
    assert(spark.sparkContext.master == s"local[${TestSession.cpus}]")
    // the specs' plan budgets assume cpus shuffle partitions; a leaked
    // SPARK_GRAFT_SHUFFLE_PARTITIONS must fail here, not shift a budget
    assert(spark.conf.get("spark.sql.shuffle.partitions") == TestSession.cpus.toString,
      "SPARK_GRAFT_SHUFFLE_PARTITIONS is set in the test environment — unset it")
  }

  test("GraftSession holds the only session builder under src/") {
    val needle = "SparkSession" + ".builder("
    val hits = sources("src")
      .map(p => p.getFileName.toString -> java.util.regex.Pattern.quote(needle).r.findAllIn(Files.readString(p)).size)
      .filter(_._2 > 0)
    assert(hits == Seq("GraftSession.scala" -> 1),
      s"session builders outside the factory: $hits — build sessions with GraftSession")
  }
}
