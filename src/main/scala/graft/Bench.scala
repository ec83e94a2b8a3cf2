package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs the headline queries at SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json). */
object Bench {
  /** The session every graft main runs in (`Bench`, `Verify`, the
    * `graft.tools` runners), so a tool's timings and plans are those of
    * the session `Bench` measures: graft's SQL extensions, AQE, UTC
    * rendering, and event timestamps read as nanos, on `cpus` local
    * cores with as many shuffle partitions. */
  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.extensions", "graft.connector.GraftSparkExtensions")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    // The driver machine-parses stdout as a single JSON line; anything the
    // JVM or Spark prints to System.out during startup would break that.
    // Divert stdout to stderr for the whole run and keep the real stream
    // for the one JSON line at the end.
    val realOut = System.out
    System.setOut(new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.err), true))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val names = Queries.headline.filter(SparkEntry.queries.contains)
    // full warmup pass (JVM/codegen/file-footer caches AND one-time graft
    // table builds for the format queries), then measure steady-state
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, sfDir).count()
      catch { case _: Throwable => }
    }
    // Measured passes must NOT swallow exceptions: a query that starts
    // throwing would otherwise bench as a near-zero time and read as a
    // speedup across rounds. A failure is recorded per query (err field)
    // and fails the whole run (nonzero exit). Warmup above still swallows.
    def timeSec(body: => Unit): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { body; Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    // pinned HOST-calibration workload, independent of the library and the
    // data: 768M rows hashed and shuffled into 1k groups (~2-3 s/run, sized
    // so JIT/startup jitter amortizes — at the old 64M the run medians
    // moved more round-to-round than the queries they were meant to
    // normalize)
    def calSample(): Either[String, Double] = timeSec {
      spark.range(0L, 768000000L, 1L, cpus.toInt)
        .selectExpr("xxhash64(id) % 1024 AS b", "id")
        .groupBy("b").count().count()
    }
    calSample() // calibration warmup (JIT for the calibration plan itself)
    // median-of-5 measured passes per query, with the min/max spread
    // recorded alongside: same-tree variance at sf0.1 is ±15% run to run,
    // larger than most code-level deltas. Calibration is INTERLEAVED: one
    // sample before each measured pass and one after the last, so every
    // pass is bracketed by two host-speed readings taken at most one pass
    // away. Two rounds running, a single end-of-run calibration median
    // normalized a whole run measured at a DIFFERENT host moment (load
    // here documented swinging 2→16 across minutes), producing ±15%
    // phantom cross-round drifts (r17 sf0.1 1.30x, r18 sf1 1.07x — both
    // argued away from side evidence, neither provable from the artifact).
    // Per-pass normalization makes the artifact itself noise-immune:
    // queries_cal[q] = median over passes of t_{q,i} / mean(cal_i,
    // cal_{i+1}) is dimensionless host-relative time, stable under load
    // that drifts BETWEEN passes (the dominant mode on a shared host).
    val Runs = 5
    val passCalsE = Array.fill[Either[String, Double]](Runs + 1)(Left("not run"))
    passCalsE(0) = calSample()
    val samples: Seq[Seq[(String, Either[String, Double])]] = (0 until Runs).map { i =>
      val pass = names.map(n => n -> timeSec(SparkEntry.queries(n)(spark, sfDir).count()))
      passCalsE(i + 1) = calSample()
      pass
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val perQuery: Seq[(String, Seq[Either[String, Double]])] = names.zipWithIndex.map {
      case (n, i) => n -> samples.map(_(i)._2)
    }
    // a query is failed if ANY measured pass threw; its entry carries err
    // instead of a time and the run exits nonzero
    val errors: Seq[(String, String)] = perQuery.collect {
      case (n, xs) if xs.exists(_.isLeft) => n -> xs.collectFirst { case Left(e) => e }.get
    }
    val results: Seq[(String, Double)] = perQuery.collect {
      case (n, xs) if xs.forall(_.isRight) => n -> median(xs.map(_.toOption.get))
    }
    val calErrors = passCalsE.collect { case Left(e) => "calibration" -> e }
    val calRuns = passCalsE.collect { case Right(t) => t }.toSeq
    val calibration: Option[Double] =
      if (calRuns.isEmpty) None else Some(median(calRuns))
    // bracket normalizer for pass i: mean of the calibration samples taken
    // immediately before and after it (the two nearest host readings)
    val passNorm: Option[Seq[Double]] =
      if (passCalsE.forall(_.isRight)) Some((0 until Runs).map { i =>
        (passCalsE(i).toOption.get + passCalsE(i + 1).toOption.get) / 2.0
      }) else None
    // per-query HOST-RELATIVE time: median over passes of raw/bracket.
    // Comparable across hosts whose speed differs PERSISTENTLY (cpu
    // generation, frequency caps) — but it over-corrects transient load:
    // the calibration saturates every core while sub-second queries
    // under-subscribe them, so background load inflates cal more than the
    // queries it normalizes (measured in the r19 loaded-host A/B). Raw
    // seconds stay published for absolute context.
    val resultsCal: Seq[(String, Double)] = passNorm match {
      case Some(norms) => perQuery.collect {
        case (n, xs) if xs.forall(_.isRight) =>
          n -> median(xs.map(_.toOption.get).zip(norms).map { case (t, c) => t / c })
      }
      case None => Seq.empty
    }
    // QUIET-WINDOW estimator — the primary cross-round comparable. Uses
    // the bracketing calibration as a load DETECTOR, not a scaler (no
    // proportional-slowdown assumption, which the loaded-host A/B showed
    // failing: calibration saturates every core, short queries don't, so
    // ratio-normalization over-corrects ~17%): take each query's median
    // over the THREE passes with the quietest brackets. Fixed count, so
    // it never collapses to a single noisy sample; on a quiet host it
    // converges to the plain median; under between-pass load drift it
    // reports the seconds the quiet windows saw.
    val QuietPasses = 3
    val resultsQuiet: Seq[(String, Double)] = passNorm match {
      case Some(norms) =>
        val quietIdx = (0 until Runs).sortBy(norms).take(QuietPasses)
        perQuery.collect {
          case (n, xs) if xs.forall(_.isRight) =>
            n -> median(quietIdx.map(i => xs(i).toOption.get))
        }
      case None => Seq.empty
    }
    val allErrors = errors ++ calErrors.headOption
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsCal = resultsCal.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsQuiet = resultsQuiet.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val valQuiet = if (resultsQuiet.nonEmpty)
      resultsQuiet.map(_._2).sum.toString else "null"
    val lflQuiet = if (resultsQuiet.nonEmpty)
      resultsQuiet.filter(r => Queries.likeForLike11.contains(r._1))
        .map(_._2).sum.toString
    else "null"
    val total = results.map(_._2).sum
    // SELF-CORRECTING headline: sum of the per-query PER-PASS-normalized
    // medians — cross-round comparisons read THIS (raw seconds from
    // whatever host moment the driver sampled drift ±30%; each pass here
    // is normalized by its own bracketing calibration samples, so drift
    // between passes cancels instead of contaminating a run-global median)
    val totalCal = if (resultsCal.nonEmpty) Some(resultsCal.map(_._2).sum) else None
    // the stable cross-round signal: same 11 queries since round 1
    // (per-query noise is ±20%; new queries only widen `total`)
    val lfl11 = results.filter(r => Queries.likeForLike11.contains(r._1))
      .map(_._2).sum
    val lfl11Cal = if (resultsCal.nonEmpty)
      Some(resultsCal.filter(r => Queries.likeForLike11.contains(r._1)).map(_._2).sum)
    else None
    spark.stop()
    val calJson = calRuns.mkString("[", ",", "]")
    val spreadJson = perQuery.collect { case (n, xs) if xs.forall(_.isRight) =>
      val ts = xs.map(_.toOption.get)
      "\"" + n + "\":[" + ts.min + "," + ts.max + "]"
    }.mkString("{", ",", "}")
    // FULL raw data: every pass's sample per query plus each pass's
    // bracket normalizer — any estimator (median, quietest-k, trimmed
    // mean, per-pass ratio) is recomputable offline. Round 21: the
    // per-pass arrays moved OUT of the driver-facing stdout line into a
    // side artifact (target/bench_passes.json, also echoed to stderr) —
    // the one-line JSON had grown past 4 KB and the r19 line was
    // TRUNCATED in the driver's tail capture, which blinded PERF_r20's
    // whole round-over-round table (prev parsed: null). The stdout line
    // keeps every published estimator (medians, quiet, calibrated,
    // spreads, pass_brackets, calibration_runs) unchanged.
    val passesJson = perQuery.collect { case (n, xs) if xs.forall(_.isRight) =>
      "\"" + n + "\":" + xs.map(_.toOption.get).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val bracketsJson = passNorm.map(_.mkString("[", ",", "]")).getOrElse("null")
    val errJson = allErrors.map { case (n, e) =>
      "\"" + n + "\":\"" + e.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    }.mkString("{", ",", "}")
    val calStr = calibration.map(_.toString).getOrElse("null")
    val valCalStr = totalCal.map(_.toString).getOrElse("null")
    val lflCalStr = lfl11Cal.map(_.toString).getOrElse("null")
    val passesLine =
      s"""{"queries_passes":$passesJson,"pass_brackets":$bracketsJson,"sf":"$sfDir"}"""
    try {
      val out = java.nio.file.Paths.get("target", "bench_passes.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out,
        passesLine.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case _: Throwable => () } // best effort; stderr echo below
    System.err.println(s"BENCH_PASSES $passesLine")
    realOut.println(s"""{"metric":"total","value":$total,"value_quiet":$valQuiet,"value_cal":$valCalStr,"unit":"sec","lfl11":$lfl11,"lfl11_quiet":$lflQuiet,"lfl11_cal":$lflCalStr,"runs":$Runs,"calibration":$calStr,"calibration_runs":$calJson,"queries":$qs,"queries_quiet":$qsQuiet,"queries_cal":$qsCal,"queries_spread":$spreadJson,"pass_brackets":$bracketsJson,"errors":$errJson,"sf":"$sfDir"}""")
    realOut.flush()
    if (allErrors.nonEmpty) {
      System.err.println(s"BENCH FAILED: ${allErrors.map(_._1).mkString(", ")}")
      sys.exit(1)
    }
  }
}
