package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Mongo-style row-filter DSL → Catalyst predicate compiler.
  *
  * The reference evaluates filters row-by-row in Python
  * (row_filters.py:1-85): `$in $nin $lt $lte $gt $gte $eq $ne` against
  * `data.<column>` keys, composable with `$and` / `$or`. Compiling the same
  * JSON documents to a Spark `Column` instead means Catalyst can push the
  * predicate into the parquet scan (row-group statistics skip entire
  * row groups at 100 TB scale) and whole-stage-codegen the residual — the
  * filter costs ~zero instead of a Python loop over every row.
  *
  * Example (filters.example.json):
  * {{{
  * {"data.fid": {"$in": [191, 194]}}
  * }}}
  */
object RowFilter {

  /** Compile a filter document (JSON text) to a boolean Column. */
  def compile(json: String): Column = compileDoc(JsonMethods.parse(json))

  /** The reference evaluator's `all`/`any` over a possibly empty list: an
    * empty conjunction keeps every row, an empty disjunction none. */
  private def all(cs: Seq[Column]): Column = cs.reduceOption(_ && _).getOrElse(lit(true))
  private def any(cs: Seq[Column]): Column = cs.reduceOption(_ || _).getOrElse(lit(false))

  private def compileDoc(doc: JValue): Column = doc match {
    case JObject(fields) =>
      all(fields.map {
        case ("$and", JArray(subs)) => all(subs.map(compileDoc))
        case ("$or", JArray(subs))  => any(subs.map(compileDoc))
        case (key, ops) if key.startsWith("data.") =>
          compileColumnOps(col(key.stripPrefix("data.")), ops)
        case (key, _) =>
          throw new IllegalArgumentException(s"Unknown filter key: $key")
      })
    case other =>
      throw new IllegalArgumentException(s"Filter document must be an object, got $other")
  }

  /** The reference evaluates in Python, where `x in vals` / `x != v` never
    * yield SQL's "unknown": a NULL x passes $ne/$nin and fails $eq/$in.
    * Each case compiles to a combination of IsNull/IsNotNull/In/EqualTo —
    * deliberately NOT coalesce()/<=> wrappers, because these predicate
    * shapes all translate to parquet source filters (row-group pruning at
    * scale) while function-wrapped ones don't.
    */
  private def inList(c: Column, vals: Seq[Any]): Column = {
    val nonNull = vals.filterNot(_ == null)
    val base = if (nonNull.isEmpty) lit(false) else c.isin(nonNull: _*)
    if (vals.contains(null)) c.isNull || base else base
  }

  private def notInList(c: Column, vals: Seq[Any]): Column = {
    val nonNull = vals.filterNot(_ == null)
    val notIn = if (nonNull.isEmpty) lit(true) else !c.isin(nonNull: _*)
    if (vals.contains(null)) c.isNotNull && notIn else c.isNull || notIn
  }

  private def eqTo(c: Column, v: Any): Column =
    if (v == null) c.isNull else c === lit(v)

  private def neTo(c: Column, v: Any): Column =
    if (v == null) c.isNotNull else c.isNull || c =!= lit(v)

  private def compileColumnOps(c: Column, ops: JValue): Column = ops match {
    case JObject(fields) =>
      all(fields.map {
        case ("$in", JArray(vs))  => inList(c, vs.map(toLiteral))
        case ("$nin", JArray(vs)) => notInList(c, vs.map(toLiteral))
        case ("$lt", v)           => c < toLiteral(v)
        case ("$lte", v)          => c <= toLiteral(v)
        case ("$gt", v)           => c > toLiteral(v)
        case ("$gte", v)          => c >= toLiteral(v)
        case ("$eq", v)           => eqTo(c, toLiteral(v))
        case ("$ne", v)           => neTo(c, toLiteral(v))
        case (op, _) =>
          throw new IllegalArgumentException(s"Unknown filter operator: $op")
      })
    case v => eqTo(c, toLiteral(v)) // bare value = equality, mongo-style
  }

  private def toLiteral(v: JValue): Any = v match {
    case JString(s)  => s
    case JInt(i) if i.isValidLong => i.toLong
    case JInt(i) =>
      throw new IllegalArgumentException(s"Integer literal $i is outside the 64-bit range")
    case JLong(l)    => l
    case JDouble(d)  => d
    case JDecimal(d) => d.toDouble
    case JBool(b)    => b
    case JNull       => null
    case other =>
      throw new IllegalArgumentException(s"Unsupported literal: $other")
  }
}
