package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one local session per suite (lazy), built by the
  * same factory as every main, on four lanes whatever the machine. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.build(cpus = 4)

  def d(s: String): java.sql.Date = java.sql.Date.valueOf(s)
}
