package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** `Probe ab`: variant parsing, the prep-key guard, conf restoration, and
  * the result line's shape on a real interleaved run.
  */
class ProbeSpec extends SparkSpec {

  test("variants parse as query or query@key=value[,key=value]") {
    assert(Probe.parseVariant("q61_part_variety") == Probe.Variant("q61_part_variety", "q61_part_variety", Nil))
    val v = Probe.parseVariant("q12_pricing_summary@spark.sql.autoBroadcastJoinThreshold=-1,a.b=x=y")
    assert(v.query == "q12_pricing_summary")
    assert(v.delta == Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1", "a.b" -> "x=y"))
    intercept[IllegalArgumentException](Probe.parseVariant("q61_part_variety@novalue"))
  }

  test("a delta on a key SparkEntry.prep sets is rejected; other deltas pass and are restored") {
    val prepKey = "spark.sql.files.maxPartitionBytes"
    val before = spark.conf.get(prepKey)
    val e = intercept[IllegalArgumentException](
      Probe.checkDelta(spark, Probe.parseVariant(s"q61_part_variety@$prepKey=1048576")))
    assert(e.getMessage.contains(prepKey))
    assert(spark.conf.get(prepKey) == before)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    Probe.checkDelta(spark, Probe.parseVariant(s"q61_part_variety@$key=-1"))
    Probe.withConf(spark, Seq(key -> "-1"))(assert(spark.conf.get(key) == "-1"))
    assert(spark.conf.get(key) == saved)
    Probe.withConf(spark, Seq("spark.graft.unsetBefore" -> "1"))(())
    assert(spark.conf.getOption("spark.graft.unsetBefore").isEmpty)
  }

  test("ab prints each variant's quartiles and the second variant's win count") {
    val variants = Seq("q61_part_variety", "q61_part_variety@spark.sql.autoBroadcastJoinThreshold=-1")
      .map(Probe.parseVariant)
    val j = new ObjectMapper().readTree(Probe.runAb(spark, sfDir, variants, passes = 2))
    assert(j.get("metric").asText == "probe_ab")
    assert(j.get("passes").asInt == 2)
    assert(j.get("warmup").asInt == 2)
    val vs = j.get("variants")
    assert(vs.size == 2 && vs.get(1).get("variant").asText == variants(1).spec)
    for (i <- 0 until 2) {
      val v = vs.get(i)
      assert(v.get("q1").asDouble <= v.get("med").asDouble && v.get("med").asDouble <= v.get("q3").asDouble)
    }
    val wins = j.get("second_wins").asInt
    assert(wins >= 0 && wins <= 2)
    assert(!new ObjectMapper().readTree(Probe.abLine(sfDir, Seq("a" -> Seq(1.0)), 1)).has("second_wins"))
  }

  test("warm-up stops once every variant's last two times agree within 10%, or at the cap") {
    assert(!Probe.warmedUp(Nil))
    assert(!Probe.warmedUp(Seq(Seq(1.0))))
    assert(Probe.warmedUp(Seq(Seq(2.1, 1.0), Seq(0.7, 1.05), Seq(0.65, 0.96))))
    assert(!Probe.warmedUp(Seq(Seq(0.7, 1.0), Seq(0.6, 1.0)))) // 14% apart
    assert(Probe.warmedUp(Seq(Seq(1.0), Seq(0.9))))            // exactly 10%
    // synthetic per-round time vectors: the JIT-settling curve q12 showed at sf1
    val settling = Seq(Seq(2.1, 1.9), Seq(1.2, 1.1), Seq(0.8, 0.7), Seq(0.62, 0.66), Seq(0.6, 0.64))
    assert(Probe.warmUp(10)(settling) == 5)
    assert(Probe.warmUp(3)(settling) == 3)
    assert(Probe.warmUp(10)(_ => Seq(1.0)) == 2)
    assert(Probe.warmUp(1)(_ => Seq(1.0)) == 1)
  }

  test("quantile interpolates like the median it replaced") {
    assert(Bench.quantile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Bench.quantile(Seq(4.0, 1.0, 2.0, 3.0), 0.5) == 2.5)
    assert(Bench.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.25) == 2.0)
    assert(Bench.quantile(Seq(7.0), 0.75) == 7.0)
  }
}
