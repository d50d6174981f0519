package org.apache.spark.sql.execution.streaming.state

import java.util.UUID
import scala.collection.mutable

/** Bridge into the state-store registry of this JVM (same pattern as
  * `sql.GraftSqlInternals`): `StateStore.loadedProviders`, the table of
  * providers an executor keeps loaded between micro-batches, is
  * object-private, so it is read reflectively and only ever under the lock
  * Spark itself takes on it. Only executors in this JVM are seen
  * (`local[N]`); a cluster executor's table is out of reach.
  */
object GraftStateInternals {
  private lazy val loaded: mutable.HashMap[StateStoreProviderId, StateStoreProvider] = {
    val f = StateStore.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(StateStore).asInstanceOf[mutable.HashMap[StateStoreProviderId, StateStoreProvider]]
  }

  /** The providers of query run `runId` loaded in this JVM. */
  def loadedProviders(runId: UUID): Seq[StateStoreProviderId] =
    loaded.synchronized(loaded.keys.filter(_.queryRunId == runId).toList)

  /** Drop every provider of query run `runId` from the loaded table and
    * close it; returns how many were dropped. Removal is one step under the
    * table's lock, so a provider is closed once even if Spark's maintenance
    * unloads the same run concurrently. Closing writes nothing: no snapshot,
    * no maintenance; every committed version is already in the checkpoint.
    */
  def unloadRun(runId: UUID): Int = {
    val removed = loaded.synchronized {
      loaded.keys.filter(_.queryRunId == runId).toList.flatMap(loaded.remove)
    }
    removed.foreach(_.close())
    removed.size
  }
}
