// Dump .explain("formatted") for every declared query (or $PLAN_QUERIES
// subset) into $PLAN_OUT_DIR/<query>_$PLAN_SUFFIX.txt, on demand (plan
// claims are pinned by PlanContractSpec; dumps are not committed).
// PLAN_OUT_DIR defaults to a fresh temp dir, printed at the end. Run via:
//   /opt/spark/bin/spark-shell --master local[32] --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC \
//     --driver-class-path target/scala-2.13/classes -i tools/dump_plans.scala
import java.nio.file.{Files, Paths}
val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
val outDir = sys.env.getOrElse("PLAN_OUT_DIR",
  Files.createTempDirectory("graft_plans").toString)
val suffix = sys.env.getOrElse("PLAN_SUFFIX", "before")
val only = sys.env.get("PLAN_QUERIES").map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
Files.createDirectories(Paths.get(outDir))
spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
val names = graft.SparkEntry.queries.keys.toSeq.sorted
  .filter(n => only.forall(_.contains(n)))
for (n <- names) {
  val txt = try {
    val df = graft.SparkEntry.queries(n)(spark, dir)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  } catch { case e: Throwable => s"ERROR: ${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}" }
  Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
    txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  println(s"PLAN_DUMPED $n")
}
println(s"PLAN_DUMP_DONE ${names.size} $outDir")
sys.exit(0)
