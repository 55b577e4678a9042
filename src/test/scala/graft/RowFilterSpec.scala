package graft

import graft.operators.RowFilter

class RowFilterSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(
    (1L, "purchase", 10.0),
    (2L, "click", 200.0),
    (3L, "error", 300.0),
    (4L, "signup", 150.0),
    (5L, "view", 150.0)
  ).toDF("id", "event_type", "value")

  private def ids(json: String): Seq[Long] =
    df.where(RowFilter.compile(json)).select("id").as[Long].collect().sorted.toSeq

  test("$in / $nin") {
    assert(ids("""{"data.event_type": {"$in": ["purchase", "click"]}}""") == Seq(1L, 2L))
    assert(ids("""{"data.event_type": {"$nin": ["purchase", "click"]}}""") == Seq(3L, 4L, 5L))
  }

  test("comparison operators") {
    assert(ids("""{"data.value": {"$gt": 150}}""") == Seq(2L, 3L))
    assert(ids("""{"data.value": {"$gte": 150}}""") == Seq(2L, 3L, 4L, 5L))
    assert(ids("""{"data.value": {"$lt": 150}}""") == Seq(1L))
    assert(ids("""{"data.value": {"$lte": 150}}""") == Seq(1L, 4L, 5L))
    assert(ids("""{"data.value": {"$eq": 150}}""") == Seq(4L, 5L))
    assert(ids("""{"data.value": {"$ne": 150}}""") == Seq(1L, 2L, 3L))
  }

  test("multiple ops on one column AND together; multiple keys AND together") {
    assert(ids("""{"data.value": {"$gte": 150, "$lt": 300}}""") == Seq(2L, 4L, 5L))
    assert(ids("""{"data.value": {"$gte": 150}, "data.event_type": {"$ne": "error"}}""") == Seq(2L, 4L, 5L))
  }

  test("NULL columns follow the reference's Python semantics, not SQL 3VL") {
    // row_filters.py evaluates in Python: None != v → True, None not in [..] → True
    val nullable = Seq((1L, Some("click")), (2L, None), (3L, Some("error")))
      .toDF("id", "event_type")
    def keep(json: String): Seq[Long] =
      nullable.where(RowFilter.compile(json)).select("id").as[Long].collect().sorted.toSeq
    assert(keep("""{"data.event_type": {"$ne": "error"}}""") == Seq(1L, 2L))
    assert(keep("""{"data.event_type": {"$nin": ["error", "signup"]}}""") == Seq(1L, 2L))
    assert(keep("""{"data.event_type": {"$in": ["click"]}}""") == Seq(1L))
    assert(keep("""{"data.event_type": {"$eq": null}}""") == Seq(2L))
    assert(keep("""{"data.event_type": {"$ne": null}}""") == Seq(1L, 3L))
    assert(keep("""{"data.event_type": {"$in": ["click", null]}}""") == Seq(1L, 2L))
  }

  test("$and / $or compose") {
    val j =
      """{"$or": [
        |  {"data.event_type": {"$eq": "purchase"}},
        |  {"$and": [{"data.value": {"$gte": 150}}, {"data.event_type": {"$ne": "error"}}]}
        |]}""".stripMargin
    assert(ids(j) == Seq(1L, 2L, 4L, 5L))
    // empty lists follow the reference evaluator's all()/any(): an empty
    // $and keeps every row, an empty $or keeps none, and an empty operator
    // object keeps every row like the empty document
    assert(ids("""{"$and": []}""") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids("""{"$or": []}""").isEmpty)
    assert(ids("""{"data.value": {}}""") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids("""{"$or": [{"$and": []}, {"$or": []}]}""") == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ids("""{"$and": [{"$or": []}, {"data.value": {"$gt": 0}}]}""").isEmpty)
  }

  test("empty filter keeps everything; unknown keys throw") {
    assert(ids("""{}""") == Seq(1L, 2L, 3L, 4L, 5L))
    intercept[IllegalArgumentException](RowFilter.compile("""{"bogus": 1}"""))
    intercept[IllegalArgumentException](RowFilter.compile("""{"data.value": {"$bogus": 1}}"""))
    // integers past the 64-bit range are rejected, never wrapped onto a real id
    intercept[IllegalArgumentException](
      RowFilter.compile("""{"data.id": {"$eq": 18446744073709551617}}"""))
    intercept[IllegalArgumentException](
      RowFilter.compile("""{"data.id": {"$in": [18446744073709551616]}}"""))
    assert(ids("""{"data.id": {"$eq": 9223372036854775807}}""").isEmpty)
  }

  test("filter example from the reference ships verbatim semantics") {
    // filters.example.json shape: {"nindexer.profiles": {"data.fid": {"$in": [191, 194]}}}
    val fidDf = Seq((191L, "a"), (192L, "b"), (194L, "c")).toDF("fid", "x")
    val kept = fidDf.where(RowFilter.compile("""{"data.fid": {"$in": [191, 194]}}"""))
      .select("fid").as[Long].collect().sorted.toSeq
    assert(kept == Seq(191L, 194L))
  }

  test("predicate pushes down to the parquet scan") {
    val ev = Tables.events(spark, sfDir)
      .where(RowFilter.compile("""{"data.value": {"$gte": 150.0}}"""))
    val physical = ev.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters") && physical.contains("GreaterThanOrEqual(value,150.0)"),
      s"expected pushdown in plan:\n$physical")
  }
}
