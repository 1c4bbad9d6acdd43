package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all specs. */
object TestSession {
  // Bench's engine at a fixed 4 cores / 4 partitions, whatever the env says
  lazy val spark: SparkSession = {
    val s = SparkEntry.session(4, 4)
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
