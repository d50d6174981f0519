package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Encoder, Row, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
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

  /** `rows` (columns named `columns`) run live: a MemoryStream drained
    * with Trigger.AvailableNow, each micro-batch handed to `op` through
    * `writeStream.foreachBatch` inside its own [[graft.operators.Materialize.scope]].
    * Returns every row `op` produced.
    */
  def liveRun[T: Encoder](rows: Seq[T], columns: String*)(
      op: DataFrame => DataFrame): Seq[Row] = {
    implicit val ctx: SQLContext = spark.sqlContext
    val input = MemoryStream[T]
    input.addData(rows)
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q = input.toDF().toDF(columns: _*).writeStream
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Materialize.scope { out ++= op(batch).collect(); () }
      }
      .start()
    try q.awaitTermination() finally q.stop()
    out.toSeq
  }

  /** `q` built and collected twice: first interpreted (no whole-stage
    * codegen, `NO_CODEGEN` expression factory), then with codegen. Returns
    * both row sets and the codegen run's executed plan. Build `q` over a
    * shuffle (e.g. `repartition(1)`): a projection straight over a local
    * relation is folded interpreted at planning time in both runs.
    */
  def interpretedAndCodegen(q: => DataFrame): (Seq[Row], Seq[Row], String) = {
    val interpreted = try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      q.collect().toSeq
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
    val codegen = q
    (interpreted, codegen.collect().toSeq, codegen.queryExecution.executedPlan.toString)
  }

  override protected def afterAll(): Unit =
    try ownedDirs.synchronized {
      ownedDirs.foreach(d => org.apache.commons.io.FileUtils.deleteDirectory(d.toFile))
      ownedDirs.clear()
    } finally super.afterAll()
}
