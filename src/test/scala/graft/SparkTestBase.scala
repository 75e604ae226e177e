package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for operator specs. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.sharedSession
  def sf(name: String): String = s"/root/testdata/$name"

  /** Runs `body` on a fresh temp directory whose name starts with
    * `prefix`; the directory and everything in it are deleted when `body`
    * returns or throws. */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString) finally graft.operators.ResumableWrite.deleteRecursively(dir)
  }

  /** Runs `body` with whole-stage codegen on or off, then restores the
    * session's setting. */
  def withWholeStageCodegen[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.codegen.wholeStage"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, on)
    try body
    finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Runs `body`; returns its value and the rows the `stage` bucket cap
    * reported dropped (`Dedup.droppedRows`), one entry per query `body`
    * ran through a capped banded join of that stage, in completion order. */
  def droppedRows[T](stage: String)(body: => T): (T, Seq[Long]) = {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        graft.operators.Dedup.droppedRows(qe).get(stage).foreach(n => rows.add(n))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBridge.drain(spark)
      (out, rows.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
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
