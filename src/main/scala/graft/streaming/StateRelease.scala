package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.GraftStateInternals
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent,
  QueryStartedEvent, QueryTerminatedEvent}

/** A stateful query's in-memory state belongs to its run. When the run
  * terminates (stopped, drained under `Trigger.AvailableNow`, or failed),
  * the state-store providers of that run, and only of that run, are closed
  * and dropped from the executor's loaded-provider table instead of
  * waiting for the state-store maintenance task. Every committed state
  * version is already in the checkpoint, so a restart reloads it from
  * there.
  *
  * Scope: executors in the application's own JVM (`local[N]`). On a
  * cluster, an executor's stores are released by Spark's maintenance task,
  * as before.
  */
object StateRelease {
  private object Listener extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      GraftStateInternals.unloadRun(e.runId)
  }

  /** Idempotently register the release listener on this session's query
    * manager; every builder that plans state calls it, so the release needs
    * no session config.
    */
  def install(spark: SparkSession): Unit = synchronized {
    if (!spark.streams.listListeners().contains(Listener)) spark.streams.addListener(Listener)
  }
}
