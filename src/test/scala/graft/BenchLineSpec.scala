package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** The compact final Bench line's tail-window contract: the bench runner
  * captures only the LAST 2,000 characters of output, and PERF_r{N}'s
  * per-query comparison needs a complete JSON object with per-query data
  * inside that window. These pins run `Bench.compactLine` itself: short
  * keys must stay unique (else the mapping to query names is ambiguous),
  * and the line must stay within `Bench.compactLimit` — with `qmed` when
  * it fits, with the overflow marker when it does not. The last test pins
  * `Bench.select`, which picks the queries of a filtered run.
  */
class BenchLineSpec extends org.scalatest.funsuite.AnyFunSuite {

  // Bench's default sf0.1 directory, the length the line carries
  private val sf = TestSession.sfDir.replace("sf0.001", "sf0.1")
  private val artifact = "BENCH_LOCAL.json"

  private def line(medians: Seq[(String, Double)]): String =
    Bench.compactLine(999.999, sf, artifact, Some(1.543), medians)

  private def parse(s: String) = new ObjectMapper().readTree(s)

  test("headline short keys (prefix before first underscore) are unique") {
    val pref = Bench.headline.map(_.takeWhile(_ != '_'))
    val dup = pref.groupBy(identity).filter(_._2.length > 1).keys.toSeq
    assert(dup.isEmpty, s"colliding short keys: $dup — qmed would give way to the overflow marker")
  }

  test("simulated compact line fits the 2,000-char driver tail with margin") {
    // worst realistic sf0.1 shape: every median printed as two digits
    // before the point (99.99) — far above any observed per-query median;
    // the line must leave >= 150 chars of headroom for sbt's trailing line
    val l = line(Bench.headline.map(_ -> 99.99))
    assert(l.length <= 1850, s"compact line ${l.length} chars — tail window overflow risk")
    val j = parse(l)
    assert(j.get("qmed").size == Bench.headline.length)
    assert(j.get("climate").get("geomean").asDouble == 1.543)
    assert(j.get("n_queries").asInt == Bench.headline.length)
  }

  test("every headline query at a 3-digit median still keeps qmed") {
    val l = line(Bench.headline.map(_ -> 999.99))
    val j = parse(l)
    assert(j.has("qmed"), s"compact line ${l.length} chars lost qmed")
    assert(j.get("qmed").size == Bench.headline.length)
  }

  test("a short-key collision degrades qmed to the overflow marker") {
    val l = line(Seq("q01_latest_wins" -> 1.0, "q01_other" -> 2.0, "d01_dedup_exact" -> 3.0))
    val j = parse(l)
    assert(!j.has("qmed"), l)
    assert(j.get("qmed_overflow").asText == artifact)
    assert(j.get("queries_artifact").asText == artifact)
    assert(j.get("n_queries").asInt == 3)
  }

  test("a line past the limit degrades qmed to the overflow marker") {
    val many = (1 to 400).map(i => f"x$i%03d_q" -> 12345.67)
    val l = line(many)
    assert(l.length <= Bench.compactLimit)
    assert(parse(l).get("qmed_overflow").asText == artifact)
    val fits = line(many.take(3))
    assert(parse(fits).get("qmed").get("x001").asDouble == 12345.67)
  }

  test("a filtered run takes its queries in headline order and rejects every unknown name") {
    val defined = Seq("q01_latest_wins", "q08_profiles_view", "s11_kmeans_train")
    assert(Bench.select(defined, None) == defined)
    assert(Bench.select(defined, Some("s11_kmeans_train, q01_latest_wins")) ==
      Seq("q01_latest_wins", "s11_kmeans_train"))
    val e = intercept[IllegalArgumentException](
      Bench.select(defined, Some("s04_cluster_centroids,q08_profiles_view,q99_nothing")))
    assert(e.getMessage.contains("s04_cluster_centroids") && e.getMessage.contains("q99_nothing"), e.getMessage)
    assert(!e.getMessage.contains("q08_profiles_view"), e.getMessage)
    intercept[IllegalArgumentException](Bench.select(defined, Some(" , ")))
  }
}
