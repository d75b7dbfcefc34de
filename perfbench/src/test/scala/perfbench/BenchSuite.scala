package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

trait BenchSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("perfbench-test")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tempDir(): Path = Files.createTempDirectory("perfbench-test")

  /** Two monthly series, one daily series and two BLS series. */
  val tinyShape: EtlShape = EtlShape(fredMonthly = 2, fredDaily = 1, fredYears = 2,
    blsSeries = 2, blsYears = 3, revised = 1)
}
