package graft.tools
import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for headline queries to files:
  * `runMain graft.tools.PlanDump <outDir> <suffix> [query...]`
  * (defaults to every Queries.headline entry; suffix is e.g. "before").
  * Runs in `Bench`'s session, so the dumped plan is the planned shape the
  * bench actually runs (shuffle partitions aside — plan shape, join
  * strategy, PushedFilters do not depend on the partition count). */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = if (args.length > 2) args.drop(2).toSeq
      else graft.Queries.headline.filter(graft.SparkEntry.queries.contains)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.Bench.session(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (q <- names) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
      System.err.println(s"dumped $q")
    }
    spark.stop()
  }
}
