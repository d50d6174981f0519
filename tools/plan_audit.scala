// Per-query physical-plan feature table (broadcast hash joins, sort-merge
// joins, net shuffles, reused exchanges, nested-loop joins, first pushed
// filter), read from each query's FINAL adaptive plan, written on demand to
// $PLAN_OUT_DIR/PLANS.md (a fresh temp dir by default, printed at the end).
// Plan claims are pinned by PlanContractSpec; the table is not committed.
// Run via:
//   SPARK_GRAFT_SF_DIR=<testdata dir> spark-shell --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path target/scala-2.13/classes -i tools/plan_audit.scala
import java.nio.file.{Files, Paths}
val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
  sys.error("set SPARK_GRAFT_SF_DIR to the testdata directory to audit"))
val outDir = sys.env.getOrElse("PLAN_OUT_DIR",
  Files.createTempDirectory("graft_plan_audit").toString)
Files.createDirectories(Paths.get(outDir))
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
val sb = new StringBuilder
sb ++= s"# Physical plan audit at $dir\n\n"
sb ++= "| query | BHJ | SMJ | shuffles | reused | BNLJ | pushed filters (first scan) |\n|---|---|---|---|---|---|---|\n"
val names = graft.SparkEntry.queries.keys.toSeq.sorted // audit EVERY declared query
for (n <- names) {
  try {
    val df = graft.SparkEntry.queries(n)(spark, dir)
    // collect() the frame ITSELF so the audit reads the FINAL adaptive plan:
    // count() executes a DIFFERENT QueryExecution and leaves this one
    // isFinalPlan=false -- initial plans hide runtime exchange reuse and
    // AQE join conversions (the t13 contract caught this)
    df.collect()
    // the finalized plan prints Final + Initial sections: keep the final
    // one or every node double-counts
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val bhj = "BroadcastHashJoin".r.findAllIn(p).size
    val smj = "SortMergeJoin".r.findAllIn(p).size
    val reused = "ReusedExchange".r.findAllIn(p).size
    // ReusedExchange lines repeat the referenced exchange's text -- the raw
    // pattern count includes them, so net shuffles = raw - reused
    val sh = "Exchange hashpartitioning".r.findAllIn(p).size - reused
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).size
    val pf = "PushedFilters: \\[[^\\]]*\\]".r.findFirstIn(p).getOrElse("-").take(70)
    sb ++= s"| $n | $bhj | $smj | $sh | $reused | $bnlj | `$pf` |\n"
  } catch {
    // contract gates FAIL LOUDLY past their bound -- record the refusal,
    // don't hide it (and don't let a null/empty message kill the audit)
    case e: Throwable =>
      val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
        .linesIterator.toSeq.headOption.getOrElse("").take(60)
      sb ++= s"| $n | - | - | - | - | - | `raises at this SF: $msg` |\n"
  }
}
val out = Paths.get(outDir, "PLANS.md")
Files.writeString(out, sb.toString)
println(s"PLAN_AUDIT_DONE $out")
sys.exit(0)
