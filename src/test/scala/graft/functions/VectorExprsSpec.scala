package graft.functions

import graft.SparkSuite
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

class VectorExprsSpec extends SparkSuite {
  import org.apache.spark.sql.{functions => F}

  private def floats(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray

  test("dot matches the sequential HOF fold bit-for-bit") {
    import spark.implicits._
    val df = Seq((floats(1, 2, 3), floats(4, 5, 6)),
      (floats(0.1, -0.2, 0.3), floats(-0.4, 0.5, 0.6))).toDF("a", "b")
    val hof = F.aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val rows = df.select(VectorExprs.dot(col("a"), col("b")).as("fast"), hof.as("slow"))
      .collect()
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1))))
  }

  test("maxAbs is exact and NaN-propagating") {
    import spark.implicits._
    val df = Seq(
      (1L, floats(1, -7, 3)),
      (2L, Array(2.0f, Float.NaN, -1.0f))).toDF("id", "v")
    val out = df.select(col("id"), VectorExprs.maxAbs(col("v")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out(1L) == 7.0)
    assert(out(2L).isNaN) // a poisoned vector must surface, not be dropped
  }

  test("array<int> input is an analysis error, not garbage doubles") {
    import spark.implicits._
    val df = Seq((Array(1, 2, 3), Array(4, 5, 6))).toDF("a", "b")
    val e = intercept[AnalysisException] {
      df.select(VectorExprs.dot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("array<float>"))
    val e2 = intercept[AnalysisException] {
      df.select(VectorExprs.maxAbs(col("a"))).collect()
    }
    assert(e2.getMessage.contains("array<float>"))
  }

  test("jlProject matches an independent reimplementation of the fold") {
    import spark.implicits._
    val v = floats(0.5, -1.25, 2.0, 3.5)
    val df = Seq(Tuple1(v)).toDF("v")
    val out = df.select(VectorExprs.jlProject(col("v"), 3).as("p"))
      .collect().head.getSeq[Double](0)
    // re-derive sign(i, j) from the documented LCG-bit-16 formula
    def expected(j: Int): Double =
      v.indices.foldLeft(0.0) { (acc, i) =>
        val h = 1103515245L * (i.toLong * 3 + j) + 12345L
        val s = if (((h >> 16) & 1L) == 0L) 1.0 else -1.0
        acc + v(i).toDouble * s
      }
    assert(out.length === 3)
    (0 until 3).foreach(j => assert(
      java.lang.Double.doubleToLongBits(out(j)) ==
        java.lang.Double.doubleToLongBits(expected(j))))
  }

  test("jlProject signs are not a parity pattern across i for fixed j") {
    // bit 16 of the LCG must break the low-bit alternation: across the
    // first 64 flat indices for j=0 both signs occur
    val signs = (0 until 64).map { i =>
      val h = 1103515245L * (i.toLong * 8) + 12345L
      (h >> 16) & 1L
    }
    assert(signs.toSet.size === 2)
  }

  test("jlProject rejects bad inputs at analysis") {
    import spark.implicits._
    val ints = Seq(Tuple1(Array(1, 2, 3))).toDF("v")
    val e = intercept[AnalysisException] {
      ints.select(VectorExprs.jlProject(col("v"), 4)).collect()
    }
    assert(e.getMessage.contains("array<float>"))
    val fl = Seq(Tuple1(floats(1, 2, 3))).toDF("v")
    val e2 = intercept[AnalysisException] {
      fl.select(VectorExprs.jlProject(col("v"), 0)).collect()
    }
    assert(e2.getMessage.contains("positive"))
  }
}
