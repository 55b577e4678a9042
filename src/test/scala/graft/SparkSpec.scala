package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs. */
object TestSession {
  val cpus = 4
  lazy val spark: SparkSession = {
    // Bench's and Verify's session, pinned to 4 threads
    val s = GraftSession(cpus)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
  // one SF up — for pins that are vacuous on a query that selects no rows
  // at spec SF (q34's nation-pair filter)
  val sfDir01 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  def sfDir: String = TestSession.sfDir
}
