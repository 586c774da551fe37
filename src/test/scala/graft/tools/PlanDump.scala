package graft.tools

/** Writes `.explain("formatted")` for named queries to files — the
  * before/after plan evidence an optimization round commits under
  * `plans/<round>/`. Building a fixture query's DataFrame executes its
  * lifecycle (the ingest fixtures run their batches at construction), so
  * dump only what the round touched.
  *
  * Run: `sbt "Test/runMain graft.tools.PlanDump <outDir> <suffix> <q1,q2,...>"`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes("UTF-8"))
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
