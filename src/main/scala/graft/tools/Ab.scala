package graft.tools

import java.nio.file.{Files, Paths}

/** Interleaved A/B runner over `SparkEntry.queries`, in `Bench`'s session:
  * `runMain graft.tools.Ab <passes> <q>[,<q>...] [<confKey> <valueA> <valueB>]`
  * with SPARK_GRAFT_SF_DIR and SPARK_GRAFT_CPUS.
  *
  * Per query, each arm gets one warm pass, then `passes` timed runs of the
  * query's own physical plan, counting the rows it returns.
  * Without a conf there is one arm, A. With a conf, arm A sets `confKey` to
  * `valueA` and arm B to `valueB`; the arms alternate pass by pass and the
  * arm that goes first swaps on every pass, so host drift between passes
  * hits both arms equally. Prints one line per timed pass, then each arm's
  * median, and writes the final adaptive plan of each arm's last timed
  * pass to `target/ab/<q>.<arm>.txt`, where runtime exchange reuse and
  * AQE's join and partition choices are visible. */
object Ab {
  /** `conf` is set before each of the arm's passes. */
  private final case class Arm(name: String, conf: Option[(String, String)]) {
    def label: String = conf.fold(name) { case (k, v) => s"$name($k=$v)" }
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 5,
      "usage: Ab <passes> <q>[,<q>...] [<confKey> <valueA> <valueB>]")
    val passes = args(0).toInt
    require(passes > 0, s"passes must be positive: $passes")
    val queries = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = queries.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(",")}")
    val arms =
      if (args.length == 2) Seq(Arm("A", None))
      else Seq(Arm("A", Some(args(2) -> args(3))), Arm("B", Some(args(2) -> args(4))))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = Paths.get("target/ab")
    Files.createDirectories(outDir)
    // `df.count()` (or a count over df) plans a new aggregate, and column
    // pruning then drops every column the query reads only to return: a
    // format query would time a different read. Executing df's own plan
    // and counting its rows times the read the query does.
    def run(q: String, arm: Arm) = {
      arm.conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val n = df.queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, n, df)
    }
    for (q <- queries) {
      arms.foreach(run(q, _)) // warm
      val secs = arms.map(_ -> Seq.newBuilder[Double]).toMap
      val last = scala.collection.mutable.Map.empty[Arm, org.apache.spark.sql.DataFrame]
      for (i <- 1 to passes; arm <- if (i % 2 == 1) arms else arms.reverse) {
        val (sec, n, df) = run(q, arm)
        println(f"$q ${arm.label} pass$i $sec%8.2f s rows=$n")
        secs(arm) += sec
        last(arm) = df
      }
      for (arm <- arms) {
        val xs = secs(arm).result().sorted
        val median = (xs((xs.size - 1) / 2) + xs(xs.size / 2)) / 2
        println(f"$q ${arm.label} median $median%8.2f s over ${xs.size} passes")
        Files.writeString(outDir.resolve(s"$q.${arm.name}.txt"),
          last(arm).queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
