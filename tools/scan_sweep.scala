// Roster-wide duplicate-corpus-pass detector: run EVERY declared query once
// (warm, pass 2 semantics like the bench) and dump, per query, the EXECUTED
// scan/Generate nodes of its final adaptive plan with their runtime
// "number of output rows" -- a node that printed in the plan but never ran
// reports no metric (rows=?), so this counts executions, not plan-text appearances
// (the distinction that exposed the t13/t15/s10/g3/a12 re-explodes that the
// optimizer's aggregate-collapse hid from the static plan).
//   /opt/spark/bin/spark-shell --master local[32] \
//     --driver-class-path target/scala-2.13/classes -i tools/scan_sweep.scala
// Output: SCAN <query> | <node name> | rows=<n>   (one line per scan node;
// rows=? where the node reported no row metric)
val dir = sys.env.getOrElse("PROF_SF_DIR", "/root/testdata/sf0.1")
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
val store = spark.sharedState.statusStore
val only = sys.env.get("SWEEP_QUERIES").map(_.split(',').map(_.trim).toSet)
val roster = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  .filter { case (n, _) => only.forall(_.contains(n)) }
// Poll the status store until the executions since `before` have all
// completed, at most 30 s; false if some are still open.
def settled(before: Long): Boolean = {
  org.apache.spark.GraftSparkInternals.waitUntilListenerBusEmpty(spark.sparkContext, 30000L)
  val deadline = System.nanoTime() + 30L * 1000000000L
  def open = store.executionsCount() <= before ||
    store.executionsList().exists(e => e.executionId >= before && e.completionTime.isEmpty)
  while (open && System.nanoTime() < deadline) Thread.sleep(50)
  !open
}
for ((name, fn) <- roster) {
  try {
    // warm pass (memo/train effects settle exactly as in the bench's pass 1);
    // each pass releases its blocks on scope close, as the bench does
    graft.operators.Materialize.scope { fn(spark, dir).count() }
    val before = store.executionsCount()
    graft.operators.Materialize.scope { fn(spark, dir).count() }
    if (!settled(before)) println(s"SCAN $name | WARN | executions still open after 30 s")
    val execs = store.executionsList().filter(_.executionId >= before)
    for (e <- execs; n <- store.planGraph(e.executionId).allNodes) {
      val isScan = n.name.startsWith("Scan") || n.name.startsWith("Generate") ||
        n.name.contains("InMemoryTableScan")
      if (isScan) {
        val vals = store.executionMetrics(e.executionId)
        val rows = n.metrics.find(_.name == "number of output rows")
          .flatMap(m => vals.get(m.accumulatorId))
          .map(_.replace(",", "").replace("\n", " "))
          .getOrElse("?") // metric missing: printed, not dropped
        val clean = n.desc.linesIterator.toSeq.headOption.getOrElse(n.name)
          .take(160).replace('|', '/')
        println(s"SCAN $name | ${n.name.takeWhile(_ != '\n').take(60)} | rows=$rows | $clean")
      }
    }
  } catch { case t: Throwable => println(s"SCAN $name | ERROR | ${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(120)}") }
}
println("SWEEP-DONE")
sys.exit(0)
