package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** The session's one memo for build-once/serve-many artifacts: converged
  * cluster labels (d10 and the queries that reuse them), ANN index frames
  * (n10, n11, n14's kNN graph) and in-memory training results (k-means
  * centroids, the seeded coarse quantizer, PQ codebooks).
  *
  * A hit can only return what the caller's own inputs would produce: [[key]]
  * hashes each input's canonicalized analyzed plan (exprId-normalized, so
  * structurally identical reads collide) and the (path, length, mtime) of
  * every file a file relation lists, so re-reading a grown table directory
  * misses. Take keys over inputs that are NOT materialized: a checkpoint's
  * `LogicalRDD` hashes by RDD identity and never hits again.
  *
  * Blocks materialized inside `compute` that the memoized value reads belong
  * to the entry and are released when it is evicted or [[clear]]ed; the
  * rest are released when `compute` returns. A hit whose blocks something
  * else released is recomputed, never served.
  */
private[graft] object SessionMemo {
  private final case class Entry(value: AnyRef, blocks: Seq[RDD[_]])

  /** LRU bound: a streaming session keys a fresh closure per micro-batch
    * (checkpointed inputs), so eviction keeps only the last 32 entries'
    * blocks alive.
    */
  private val MaxEntries = 32
  private val memo =
    new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Entry]): Boolean = {
        val evict = this.size() > MaxEntries
        if (evict) release(e.getValue)
        evict
      }
    }

  /** Number of computes that actually ran: specs pin reuse by asserting it
    * does not advance on a structurally identical call.
    */
  @volatile var computeCount: Long = 0L

  /** The key of an artifact built from `inputs` under `tag` (which must name
    * every parameter that can change the result).
    */
  def key(tag: String, inputs: DataFrame*): String = {
    val app = inputs.head.sparkSession.sparkContext.applicationId
    val parts = inputs.map { df =>
      val plan = df.queryExecution.analyzed
      val files = plan.collect { case l: LogicalRelation => l.relation }.flatMap {
        case fs: HadoopFsRelation =>
          fs.location.listFiles(Nil, Nil).flatMap(_.files)
            .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        case _ => Nil
      }.sorted
      s"${plan.canonicalized.semanticHash()}:${files.hashCode}"
    }
    s"$app:$tag:${parts.mkString(":")}"
  }

  // All access serializes on `memo`: access-order bookkeeping is not
  // thread-safe, and two concurrent misses on one key would pay twice.
  def getOrCompute[T <: AnyRef](key: String)(compute: => T): T =
    memo.synchronized {
      val hit = memo.get(key)
      if (hit != null && live(hit)) hit.value.asInstanceOf[T]
      else {
        if (hit != null) release(hit)
        val (value, made) = Materialize.owning(compute)
        val (kept, dead) = made.partition(Materialize.rdds(value).toSet)
        dead.foreach(_.unpersist(blocking = false))
        computeCount += 1
        memo.put(key, Entry(value, kept))
        value
      }
    }

  /** Live while every block the value reads is still persisted (and its
    * context alive); in-memory values read none.
    */
  private def live(e: Entry): Boolean =
    try Materialize.rdds(e.value).forall(_.getStorageLevel != StorageLevel.NONE)
    catch { case _: Throwable => false }

  private def release(e: Entry): Unit =
    try e.blocks.foreach(_.unpersist(blocking = false))
    catch { case _: Throwable => () }

  /** Drop every entry and release its blocks. */
  def clear(): Unit = memo.synchronized {
    memo.values.asScala.foreach(release)
    memo.clear()
  }

  def size: Int = memo.synchronized(memo.size())

  /** Ids of the blocks the live entries own. */
  private[graft] def blockIds: Set[Int] =
    memo.synchronized(memo.values.asScala.flatMap(_.blocks.map(_.id)).toSet)
}
