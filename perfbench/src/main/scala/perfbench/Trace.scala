package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One timed interval on the benchmark's own timeline (microseconds since
  * the epoch). `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long)

/** Call timers and spans, recorded from outside graft at every layer
  * boundary the benchmark crosses.
  *
  * With `on = false` a span only runs its body: no clock reads, no
  * listeners, no local properties, so the untraced run measures the
  * program alone. With `on = true`:
  *  - every span is kept in memory with its parent and op id;
  *  - every Spark job becomes an `exec.job` span, parented to the span that
  *    was open when the job was submitted (carried as a job-local
  *    property) and tagged with its op through the job group;
  *  - task metrics and graft's scan/commit events are summed per op into
  *    counters.
  * Everything is written out once, after the run. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val sc = spark.sparkContext
  private val baseNanos = System.nanoTime()
  private val baseMicros = System.currentTimeMillis() * 1000L
  private def nowMicros: Long = baseMicros + (System.nanoTime() - baseNanos) / 1000L

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  private var opId = -1
  /** Counters and spans are kept only while measuring; set-up, warm-up and
    * the benchmark's own bookkeeping reads run with this off. */
  var measuring = false

  /** True from the first to the last op of the measured window. */
  var window = false

  private val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit =
    if (on && measuring) counters(name) = counters.getOrElse(name, 0.0) + v
  /** Adds to a counter from the bookkeeping between two measured ops,
    * such as the files an op left in a table directory. */
  def addBetweenOps(name: String, v: Double): Unit =
    if (on && window) counters(name) = counters.getOrElse(name, 0.0) + v
  def counter(name: String): Double = counters.getOrElse(name, 0.0)

  /** Level readings taken between ops (not timed); reported as means. */
  private val gauges = mutable.LinkedHashMap.empty[String, (Double, Int)]
  def gauge(name: String, v: Double): Unit = if (on) {
    val (s, n) = gauges.getOrElse(name, (0.0, 0))
    gauges(name) = (s + v, n + 1)
  }
  def gaugeMean(name: String): Double =
    gauges.get(name).map { case (s, n) => s / n }.getOrElse(0.0)

  /** Runs one op of the closed loop under a fresh op id. Spark jobs of the
    * op carry the id as their job group in both modes, so traced and
    * untraced runs submit identical work. */
  def op[A](kind: String)(body: => A): A = {
    opId += 1
    sc.setJobGroup(s"op-$opId", kind, interruptOnCancel = false)
    try span(s"op.$kind")(body)
    finally sc.clearJobGroup()
  }

  def span[A](name: String)(body: => A): A =
    if (!on || !measuring) body
    else {
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) -1 else stack.top
      val start = nowMicros
      stack.push(id)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp,
          if (stack.isEmpty) null else stack.top.toString)
        spans += Span(id, parent, opId, name, start, nowMicros)
      }
    }

  // ---- Spark jobs and task metrics (traced runs only) ----

  private val jobStarts = mutable.HashMap.empty[Int, (Long, Int, Int)]
  private val jobSpans = mutable.ArrayBuffer.empty[Span]
  private val stageOp = mutable.HashMap.empty[Int, Int]
  private var jobsOpen = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)
      val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toInt).getOrElse(-1)
      if (parent >= 0) {
        jobStarts(e.jobId) = (e.time * 1000L, parent, op)
        e.stageIds.foreach(s => stageOp(s) = op)
        jobsOpen += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, parent, op) =>
        jobSpans += Span(-1, parent, op, "exec.job", start, math.max(start, e.time * 1000L))
        jobsOpen -= 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null && stageOp.contains(e.stageId)) {
        def inc(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
        inc("exec.tasks", 1)
        inc("exec.run_ms", m.executorRunTime.toDouble)
        inc("exec.cpu_ms", m.executorCpuTime / 1e6)
        inc("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        inc("exec.input_rows", m.inputMetrics.recordsRead.toDouble)
        inc("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        inc("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        inc("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
  }

  private val scanListener: graft.format.ScanEvent => Unit = e => synchronized {
    add("format.plan.manifests_total", e.manifestsTotal)
    add("format.plan.manifests_scanned", e.manifestsScanned)
    add("format.plan.files_total", e.filesTotal.toDouble)
    add("format.plan.files_scanned", e.filesScanned)
  }
  private val commitListener: graft.format.CommitEvent => Unit =
    _ => synchronized(add("format.commit.snapshots", 1))

  if (on) {
    sc.addSparkListener(listener)
    graft.format.Listeners.register(scanListener)
    graft.format.Listeners.registerCommit(commitListener)
  }

  /** Waits until the listener bus has delivered the end of every job it
    * saw start, then detaches. */
  def close(): Unit = if (on) {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    while (synchronized(jobsOpen) > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    graft.format.Listeners.unregister(scanListener)
    graft.format.Listeners.unregisterCommit(commitListener)
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq ++ jobSpans.toSeq)
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Self time per span name. Each instant of an op is charged to the
    * innermost span open at that instant (the latest-started one among
    * overlapping siblings, such as concurrent Spark jobs), so the self
    * times of one op sum exactly to the op's wall time. The root span's
    * own share is time spent outside every layer span: `untraced`. */
  def selfTimes(spans: Seq[Span]): (Map[String, Long], Seq[(Int, Long, Long)]) = {
    val total = mutable.HashMap.empty[String, Long]
    val perOp = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    spans.filter(_.op >= 0).groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ss) =>
      ss.find(_.parent == -1).foreach { root =>
        val byId = ss.filter(_.id >= 0).map(s => s.id -> s).toMap
        def depth(s: Span): Int = {
          var d = 0; var p = s.parent
          while (p >= 0) { d += 1; p = byId.get(p).map(_.parent).getOrElse(-1) }
          d
        }
        // clip every span to its op's root interval
        val clipped = ss.map(s => s.copy(start = math.max(s.start, root.start),
          end = math.min(math.max(s.end, s.start), root.end))).filter(s => s.end > s.start)
        val depths = clipped.map(s => s -> depth(s)).toMap
        val cuts = clipped.flatMap(s => Seq(s.start, s.end)).distinct.sorted
        var accounted = 0L
        cuts.sliding(2).foreach {
          case Seq(a, b) =>
            val open = clipped.filter(s => s.start <= a && s.end >= b)
            if (open.nonEmpty) {
              val owner = open.maxBy(s => (depths(s), s.start))
              val name = if (owner.parent == -1) "untraced" else owner.name
              total(name) = total.getOrElse(name, 0L) + (b - a)
              accounted += b - a
            }
          case _ =>
        }
        perOp += ((op, root.end - root.start, accounted))
      }
    }
    (total.toMap, perOp.toSeq)
  }
}
