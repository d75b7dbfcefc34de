package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (lazy — one session per JVM, reused). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder(4).getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"
}
