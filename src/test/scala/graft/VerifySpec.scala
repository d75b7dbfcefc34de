package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

class VerifySpec extends SparkSuite {

  test("a throwing query is reported and the others are still written") {
    val out = java.nio.file.Files.createTempDirectory("verify-dump").toString
    val fns = Map[String, (SparkSession, String) => DataFrame](
      "boom" -> ((_, _) => throw new IllegalStateException("boom")),
      "ok" -> ((s, _) => s.range(3).toDF("id")))
    assert(Verify.dump(spark, "unused", out, Seq("boom", "ok"), fns) === Seq("boom"))
    assert(spark.read.parquet(s"$out/ok").count() === 3L)
    assert(!new java.io.File(s"$out/boom").exists())
  }
}
