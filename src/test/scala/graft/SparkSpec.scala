package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session). */
object TestSession {
  lazy val spark: SparkSession = Tables.configure(
    SparkSession.builder().master("local[8]")
      // fresh warehouse per JVM: saveAsTable locations must not
      // survive into the next test run (LOCATION_ALREADY_EXISTS)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      // exercises the library's session-build-time registration path;
      // driver-contract queries must NOT depend on it (the driver's
      // session is raw — Joins injects the strategy at runtime)
      .withExtensions(new graft.plans.GraftExtensions),
    "8").getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` and asserts it left no RDD persisted behind. */
  def leavesNothingPersisted[T](body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = body
    val left = spark.sparkContext.getPersistentRDDs.keySet.toSet.diff(before)
    assert(left.isEmpty, s"left ${left.size} persisted RDDs behind")
    out
  }
  val RefCsv = "/root/reference/home_energy_consumption_data.csv"
}
