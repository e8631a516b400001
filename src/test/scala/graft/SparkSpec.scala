package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM test session (reference harness keeps one context for
  * the whole suite too — SparkEnvironment.scala:6-19). */
object SparkSpec {
  lazy val spark: SparkSession = {
    // Hive-enabled like the reference harness (SparkEnvironment.scala:6-19),
    // but via the public builder on a temp warehouse + Derby metastore
    // instead of Spark-internal TestHiveContext (SURVEY.md §7.5).
    val tmp = java.nio.file.Files.createTempDirectory("graft-test").toFile
    System.setProperty("derby.system.home", tmp.getAbsolutePath)
    // match the Verify/Bench sessions: the extension-injected
    // functions and optimizer rules are part of what the suite tests
    val s = GraftExtensions.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$tmp/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
