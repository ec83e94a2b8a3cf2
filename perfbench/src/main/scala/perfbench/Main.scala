package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One workload of the closed loop. The loop has one client: op i+1 is
  * sent only after op i returned. Every input comes from the seed. */
trait Workload {
  /** Writes the run's generated inputs under `dir`, once per run, before
    * set-up and outside its time. */
  def makeInputs(dir: String): Unit = ()
  /** Builds every table, store and piece of metadata the loop reads under
    * `dir`. Called several times per run, each into a fresh directory; the
    * last build is the one the loop uses. */
  def setup(dir: String): Unit
  /** Ops per cycle. Each cycle holds the same mix of op kinds (the seed
    * orders them and picks their inputs), and a run measures whole cycles,
    * so every seed and every run measures the same mix. */
  def cycle: Int
  /** Cycles run before timing starts: JIT, codegen and caches settle. */
  def warmupCycles: Int = 1
  /** The kind of op `i`: a query shape, a DML statement, a maintenance step. */
  def kindOf(i: Int): String
  /** Prepares op `i` of the seeded stream before its clock starts: makes
    * the op's inputs and its expected answer. Returns the op itself, which
    * runs under the clock and returns the check to apply to its result.
    * The check runs after the clock stopped; it returns None when the
    * result is right and a reason otherwise. */
  def op(i: Int): Clock => (() => Option[String])
  /** Benchmark bookkeeping after op `i` and its check, outside the clock
    * and outside the measured window: storage accounting, resets. */
  def afterOp(i: Int): Unit = ()
  /** Op kinds kept out of the latency percentiles (periodic maintenance). */
  def untimedKinds: Set[String] = Set.empty
  /** Workload-specific end-to-end metrics, computed after the loop. */
  def extraMetrics(samples: Seq[Sample], windowSecs: Double): Seq[Metric] = Nil
  /** Per-layer counters that are sampled from the tables after each op
    * (not timed; traced runs, measured window only). */
  def sampleLayers(): Unit = ()
}

/** The sample of one op: its kind, wall time and named phase times. */
final case class Sample(kind: String, ms: Double, phases: Map[String, Double], ok: Boolean)

object Sample {
  /** Linear-interpolated quantile (the R-7 / numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

final case class Metric(name: String, value: Double, unit: String)

/** Phase clock of one op: `lap(name)` adds the body's wall time to the
  * phase, in both traced and untraced runs. */
final class Clock(val tracer: Tracer) {
  private[perfbench] val phases = mutable.LinkedHashMap.empty[String, Double]
  def lap[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
  }
  /** A layer call: a phase-free span in traced runs. */
  def span[A](name: String)(body: => A): A = tracer.span(name)(body)
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String, cores: Int)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"),
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  /** Set-up is repeated this many times per run; setup_s is the median. */
  val SetupReps = 3

  private val t0 = System.nanoTime()
  private def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val work = new File(args.work).getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.extensions", "graft.connector.GraftSparkExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.datetime.java8API.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      // the status store keeps one job, stage, task and SQL execution: the
      // retained heap must not depend on the number of ops a faster build
      // completes, nor on which op kinds ran last
      .config("spark.ui.retainedJobs", "1")
      .config("spark.ui.retainedStages", "1")
      .config("spark.ui.retainedTasks", "1")
      .config("spark.sql.ui.retainedExecutions", "1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    log(s"spark up, local[${args.cores}]")
    val tracer = new Tracer(spark, args.trace)
    val rec = try run(spark, tracer, args, work)
      finally tracer.close()
    val json = Report.json(args, rec, tracer)
    Files.write(Paths.get(args.out), json.getBytes(UTF_8))
    spark.stop()
  }

  final case class RunRecord(setupSecs: Seq[Double], samples: Seq[Sample],
      windowSecs: Double, heapMb: Double, gcMs: Double, gcCount: Double,
      extra: Seq[Metric], untimed: Set[String])

  private def run(spark: SparkSession, tracer: Tracer, args: Args, work: String): RunRecord = {
    val w: Workload = args.workload match {
      case "scan" => new ScanWorkload(spark, args.seed, tracer)
      case "upsert" => new UpsertWorkload(spark, args.seed, tracer)
      case "plan_large" => new PlanLargeWorkload(spark, args.seed, tracer)
      case "dedup" => new DedupWorkload(spark, args.seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val i0 = System.nanoTime()
    w.makeInputs(s"$work/inputs")
    log(f"inputs: ${(System.nanoTime() - i0) / 1e9}%.3f s")
    val setupSecs = (0 until SetupReps).map { r =>
      val dir = s"$work/wh/setup-$r"
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) Common.deleteRecursive(s"$work/wh/setup-${r - 1}")
      log(f"setup $r: $s%.3f s")
      s
    }

    /** Runs op `i`. Only the op itself is timed: its preparation, its
      * check and the bookkeeping after it are not. */
    def runOp(i: Int, measured: Boolean): Sample = {
      val clock = new Clock(tracer)
      val kind = w.kindOf(i)
      val ready = scala.util.Try(w.op(i))
      tracer.measuring = measured
      val t0 = System.nanoTime()
      val ran = ready.flatMap(body => scala.util.Try(tracer.op(kind)(body(clock))))
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.measuring = false
      def reason(e: Throwable) = s"${e.getClass.getName}: ${e.getMessage}"
      val checked = ran.flatMap(check => scala.util.Try(check())).fold(e => Some(reason(e)), identity)
      val after = scala.util.Try(w.afterOp(i)).failed.toOption.map(e => s"after the op: ${reason(e)}")
      val verdict = checked.orElse(after)
      verdict.foreach(v => System.err.println(s"perfbench: op $i ($kind) wrong: ${v.take(500)}"))
      Sample(kind, ms, clock.phases.toMap, verdict.isEmpty)
    }

    val warmup = w.warmupCycles * w.cycle
    val warm = (0 until warmup).map(runOp(_, measured = false))
    System.gc()
    log(s"warm-up: $warmup ops, ms: ${warm.map(_.ms.round).mkString(" ")}")

    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    def gc(): (Double, Double) = {
      var ms = 0.0; var n = 0.0
      gcBeans.forEach { b => ms += math.max(0L, b.getCollectionTime); n += math.max(0L, b.getCollectionCount) }
      (ms, n)
    }
    // The measured window is the sum of the ops' own wall times, so checks
    // and bookkeeping between ops never count. It closes at the end of the
    // cycle in which it reaches --seconds, or in which the loop has run for
    // four times that long (ops that fail at once take no time).
    val samples = mutable.ArrayBuffer.empty[Sample]
    val (gcMs0, gcN0) = gc()
    var measuredMs = 0.0
    var i = warmup
    val wallLimit = System.nanoTime() + 4L * args.seconds * 1000000000L
    tracer.window = true
    while ((measuredMs < args.seconds * 1000.0 && System.nanoTime() < wallLimit) || i % w.cycle != 0) {
      val s = runOp(i, measured = true)
      samples += s
      measuredMs += s.ms
      i += 1
      if (tracer.on) w.sampleLayers()
    }
    tracer.window = false
    val windowSecs = measuredMs / 1000.0
    log(f"measured ${samples.size} ops in $windowSecs%.2f s")
    val (gcMs1, gcN1) = gc()
    val extra = w.extraMetrics(samples.toSeq, windowSecs)
    // Spark's ContextCleaner frees blocks of collected RDDs only after a GC
    // has found them: collect, let it run, collect again
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    RunRecord(setupSecs, samples.toSeq, windowSecs, heap / 1048576.0,
      gcMs1 - gcMs0, gcN1 - gcN0, extra, w.untimedKinds)
  }
}
