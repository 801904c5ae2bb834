package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.{Args, Status}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session keeps
  * the test run fast). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf

  private val tempDirs = ArrayBuffer.empty[File]

  /** A new temp directory named `prefix...`, deleted with everything
    * below it when the suite's run ends, whether its tests passed or
    * not; a lazy fixture may share one across the suite's tests. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    tempDirs.synchronized(tempDirs += dir)
    dir.toString
  }

  /** Runs the suite (synchronously: no spec runs its tests in
    * parallel), then deletes its [[tempDir]]s in a `finally`; quietly,
    * so a failed delete never hides a test's outcome. */
  override def run(testName: Option[String], args: Args): Status =
    try super.run(testName, args)
    finally tempDirs.synchronized {
      tempDirs.foreach(FileUtils.deleteQuietly)
      tempDirs.clear()
    }

  /** Runs `f` on the RocksDB state store, which every stateful
    * streaming operator needs, then restores the previous provider. */
  def withRocksDb[T](f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
