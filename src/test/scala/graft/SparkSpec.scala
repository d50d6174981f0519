package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, lazy singleton). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  private val ownedDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory owned by this suite: deleted, recursively,
    * after the suite's last test.
    */
  def tempDir(prefix: String): String = ownedDirs.synchronized {
    val dir = Files.createTempDirectory(prefix)
    ownedDirs += dir
    dir.toString
  }

  override protected def afterAll(): Unit =
    try ownedDirs.synchronized {
      ownedDirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
      ownedDirs.clear()
    } finally super.afterAll()
}
