package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (sbt runs tests in one forked JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    // A warehouse per JVM: saveAsTable leaves table directories behind,
    // and the next JVM's empty catalog cannot drop them, so its write
    // would fail with LOCATION_ALREADY_EXISTS.
    val warehouse = java.nio.file.Files.createTempDirectory("graft-warehouse").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.warehouse.dir", warehouse.getAbsolutePath)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
