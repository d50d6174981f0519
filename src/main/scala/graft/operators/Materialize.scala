package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import scala.collection.mutable

/** The one way the operators materialize a frame, and the one way they
  * release it.
  *
  * `Materialize(df)` runs `df` once into an eager local checkpoint
  * (MEMORY_AND_DISK blocks, lineage truncated). Every consumer then reads
  * the blocks with the AQE-coalesced layout and exact size statistics,
  * instead of re-running the subtree once per broadcast branch or racing
  * to build an unmaterialized cache.
  *
  * Each block set has exactly one owner:
  *  - the innermost [[scope]] open on the calling thread, which releases it
  *    (blocking) when the scope closes;
  *  - a [[SessionMemo]] entry, when it was materialized inside the entry's
  *    compute and the memoized value reads it;
  *  - nobody, when no scope is open: the blocks live until [[release]] or
  *    the end of the session.
  *
  * A checkpoint's blocks are its only substance: release only frames that
  * no later action reads.
  */
object Materialize {
  private val open = ThreadLocal.withInitial[List[mutable.Set[RDD[_]]]](() => Nil)

  def apply(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    open.get.headOption.foreach(_ ++= rdds(out))
    out
  }

  /** Release the blocks behind a superseded snapshot. Walks every
    * `LogicalRDD` leaf of `df`, so call it on the materialized frame
    * itself, not on a frame built over another live snapshot.
    */
  def release(df: DataFrame): Unit = rdds(df).foreach { r =>
    open.get.foreach(_ -= r)
    r.unpersist(blocking = false)
  }

  /** Run `body`; at close, release (blocking) every block materialized
    * inside it that was neither released nor handed to a [[SessionMemo]].
    */
  def scope[T](body: => T): T = {
    val (value, left) = owning(body)
    left.foreach(_.unpersist(blocking = true))
    value
  }

  /** Run `body` as the owner of the blocks it materializes: returns its
    * value and the blocks still held. If `body` throws, they are released.
    */
  private[operators] def owning[T](body: => T): (T, Seq[RDD[_]]) = {
    val owned = mutable.LinkedHashSet.empty[RDD[_]]
    open.set(owned :: open.get)
    val value =
      try body
      catch { case e: Throwable => owned.foreach(_.unpersist(blocking = true)); throw e }
      finally open.set(open.get.tail)
    (value, owned.toSeq)
  }

  /** The persisted RDDs a value reads: a frame's `LogicalRDD` leaves; none
    * for anything else.
    */
  private[operators] def rdds(value: Any): Seq[RDD[_]] = value match {
    case ds: Dataset[_] =>
      ds.queryExecution.analyzed.collectWithSubqueries { case l: LogicalRDD => l.rdd }
    case _ => Nil
  }
}
