package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4)

  def ts(s: String): java.sql.Timestamp = java.sql.Timestamp.valueOf(s)
}
