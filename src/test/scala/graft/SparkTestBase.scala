package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.sharedSession
  def sf(name: String): String = s"/root/testdata/$name"

  /** Runs `body` with whole-stage codegen on or off, then restores the
    * session's setting. */
  def withWholeStageCodegen[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkTestBase {
  lazy val sharedSession: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
