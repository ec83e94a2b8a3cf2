package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Multimodal, Similarity, TextOps}

class OpsSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("text analysis produces full per-doc profile") {
    val out = TextOps.analyze(docs).collect()
    assert(out.length === docs.count())
    assert(out.forall(r => r.getAs[Int]("n_tokens") > 0))
    assert(out.forall { r =>
      val q = r.getAs[Double]("quality"); q >= 0.0 && q <= 1.0
    })
  }

  test("bounded-collect hot-gram guard: exact when cold, drops hot grams") {
    import spark.implicits._
    // no gram is hot at corpus scale -> guarded path must equal exact path
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val exact = Dedup.jaccardPairsFast(docs, 3, 0.5, maxDf = 0)
      .collect().map(key).toSet
    val guarded = Dedup.jaccardPairsFast(docs, 3, 0.5, maxDf = 2000)
      .collect().map(key).toSet
    assert(exact.nonEmpty && guarded == exact)
    // d1=d2 share 4 grams, d3 shares only "p q r" with them; "p q r" has
    // df=3 > maxDf=2 and is dropped by the guard: d3's pairs vanish, d1-d2
    // survive on their remaining 3 grams (sz stays the FULL set size 4)
    val synth = Seq((1L, "p q r s t u"), (2L, "p q r s t u"),
      (3L, "p q r zz zz2 zz3")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairsFast(synth, 3, 0.5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 3.0 / 5.0)))
  }

  test("incremental jaccard = full jaccard restricted to fresh-touching pairs") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val full = Dedup.jaccardPairsFast(docs, 3, 0.5, maxDf = 0)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .collect().map(key).toSet
    val incr = Dedup.incrementalJaccardPairs(corpus, fresh, 3, 0.5, maxDf = 0)
      .collect().map(key).toSet
    assert(incr === full)
    // old×old pairs must be absent even when highly similar: two corpus
    // twins plus one fresh doc sharing nothing with them
    val synth = Seq((1L, "p q r s t u"), (3L, "p q r s t u"),
      (10L, "zz zz2 zz3 zz4 zz5")).toDF("doc_id", "text")
    val out = Dedup.incrementalJaccardPairs(
      synth.filter(col("doc_id") =!= 10L), synth.filter(col("doc_id") === 10L),
      3, 0.1, maxDf = 0).collect()
    assert(out.isEmpty, "old×old pair leaked into the incremental output")
    // bounded (default-maxDf) path agrees with the exact path at cold scale
    val guarded = Dedup.incrementalJaccardPairs(corpus, fresh, 3, 0.5)
      .collect().map(key).toSet
    assert(guarded === full)
  }

  test("incremental minhash-LSH = full LSH restricted to fresh-touching pairs") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    // identical banding (deterministic minhash + murmur3) means the
    // touching-pair candidate sets coincide exactly, and both verify with
    // the same exact Jaccard — so this is equality, not recall-overlap
    val full = Dedup.minhashLshPairs(docs, n = 3, bands = 32, rows = 2,
        threshold = 0.5)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .collect().map(key).toSet
    val incr = Dedup.minhashLshPairsIncremental(corpus, fresh,
        n = 3, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(key).toSet
    assert(incr === full && full.nonEmpty)
    // old×old pairs never surface, however similar
    import spark.implicits._
    val synth = Seq((1L, "p q r s t u"), (3L, "p q r s t u"),
      (10L, "zz zz2 zz3 zz4 zz5")).toDF("doc_id", "text")
    val out = Dedup.minhashLshPairsIncremental(
      synth.filter(col("doc_id") =!= 10L), synth.filter(col("doc_id") === 10L),
      n = 3, bands = 32, rows = 2, threshold = 0.1).collect()
    assert(out.isEmpty, "old×old pair leaked into the incremental output")
  }

  test("incremental simhash = full simhash pairs restricted to fresh-touching") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2))
    val full = Dedup.simhashPairs(docs, maxHamming = 3)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .collect().map(key).toSet
    val incr = Dedup.simhashPairsIncremental(corpus, fresh, maxHamming = 3)
      .collect().map(key).toSet
    assert(incr === full && full.nonEmpty)
    import spark.implicits._
    val synth = Seq((1L, "p q r s t u"), (3L, "p q r s t u"),
      (10L, "zz zz2 zz3 zz4 zz5")).toDF("doc_id", "text")
    val out = Dedup.simhashPairsIncremental(
      synth.filter(col("doc_id") =!= 10L), synth.filter(col("doc_id") === 10L),
      maxHamming = 64).collect()
    assert(out.isEmpty, "old×old pair leaked into the incremental output")
  }

  test("freshPrepped of the old (doc_id, grams, sig) shape fails loudly, naming the shape") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    val old = Dedup.minhashPrep(fresh).select(col("doc_id"),
      transform(col("gh"), h => h.cast("string")).as("grams"), col("sig"))
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashLshPairsIncremental(corpus, fresh, freshPrepped = Some(old))
    }
    assert(e.getMessage.contains("(doc_id, gh: array<bigint>, sig: array<int>)"),
      e.getMessage)
    assert(e.getMessage.contains("grams"), e.getMessage)
  }

  test("freshPrepped / freshFps hooks: fresh evaluated exactly once") {
    // same contract (and same accumulator-counted proof) as the
    // embeddings freshBanded hook: the incremental minhash and simhash
    // paths re-evaluate an un-persisted fresh plan per consumer; handing
    // in a persisted prep makes it exactly once, with identical results
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val freshRaw = docs.filter(col("doc_id") % 10 === 0)
    val nFresh = freshRaw.count()
    val acc = spark.sparkContext.longAccumulator("freshTextEvals")
    // nondeterministic so the optimizer can neither collapse it into the
    // builtin n-gram expressions (which would duplicate it per gram) nor
    // push it around — it evaluates exactly once per row per PLAN PASS,
    // which is the thing this test counts
    val counted = udf((t: String) => { acc.add(1); t }).asNondeterministic()
    val fresh = freshRaw.withColumn("text", counted(col("text")))
    def mkey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    // --- minhash ---
    val mhBaseline = Dedup.minhashLshPairsIncremental(corpus, fresh,
      n = 3, bands = 32, rows = 2, threshold = 0.5).collect().map(mkey).toSet
    assert(acc.value >= 2 * nFresh,
      s"un-persisted minhash fresh should evaluate >1x, got ${acc.value}")
    acc.reset()
    val fp = Dedup.minhashPrep(fresh, n = 3, bands = 32, rows = 2).persist()
    fp.count() // materialize: every fresh row evaluated here, once
    val mhHooked = Dedup.minhashLshPairsIncremental(corpus, fresh,
      n = 3, bands = 32, rows = 2, threshold = 0.5,
      freshPrepped = Some(fp)).collect().map(mkey).toSet
    fp.unpersist()
    assert(acc.value === nFresh,
      s"freshPrepped path must evaluate fresh once, got ${acc.value}")
    assert(mhHooked === mhBaseline && mhHooked.nonEmpty)
    // --- simhash ---
    def skey(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getInt(2))
    acc.reset()
    val shBaseline = Dedup.simhashPairsIncremental(corpus, fresh,
      maxHamming = 3).collect().map(skey).toSet
    assert(acc.value >= 2 * nFresh,
      s"un-persisted simhash fresh should evaluate >1x, got ${acc.value}")
    acc.reset()
    val ff = Dedup.simhashFingerprints(fresh).persist()
    ff.count()
    val shHooked = Dedup.simhashPairsIncremental(corpus, fresh,
      maxHamming = 3, freshFps = Some(ff)).collect().map(skey).toSet
    ff.unpersist()
    assert(acc.value === nFresh,
      s"freshFps path must evaluate fresh once, got ${acc.value}")
    assert(shHooked === shBaseline && shHooked.nonEmpty)
    // --- minhash store (freshSigs) ---
    val store = Dedup.minhashSignatures(corpus, n = 3, bands = 32, rows = 2)
    acc.reset()
    val stBaseline = Dedup.minhashLshPairsFromStore(store, fresh, docs,
      n = 3, bands = 32, rows = 2, threshold = 0.5).collect().map(mkey).toSet
    assert(acc.value >= 2 * nFresh,
      s"un-persisted store-path fresh should evaluate >1x, got ${acc.value}")
    acc.reset()
    val fs = Dedup.minhashSignatures(fresh, n = 3, bands = 32, rows = 2).persist()
    fs.count()
    val stHooked = Dedup.minhashLshPairsFromStore(store, fresh, docs,
      n = 3, bands = 32, rows = 2, threshold = 0.5,
      freshSigs = Some(fs)).collect().map(mkey).toSet
    fs.unpersist()
    assert(acc.value === nFresh,
      s"freshSigs path must evaluate fresh once, got ${acc.value}")
    assert(stHooked === stBaseline && stHooked.nonEmpty)
  }

  test("signature store = recompute-everything incremental minhash") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    // packed store round-trip: the banded keys from persisted binary sigs
    // must equal the keys banded from freshly computed signatures, so the
    // two paths produce identical pair sets
    val store = Dedup.minhashSignatures(corpus, n = 3, bands = 32, rows = 2)
    val fromStore = Dedup.minhashLshPairsFromStore(store, fresh, docs,
        n = 3, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(key).toSet
    val recomputed = Dedup.minhashLshPairsIncremental(corpus, fresh,
        n = 3, bands = 32, rows = 2, threshold = 0.5)
      .collect().map(key).toSet
    assert(fromStore === recomputed && fromStore.nonEmpty)
  }

  test("gram store = recompute-everything incremental jaccard (maxDf=0)") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val fresh = docs.filter(col("doc_id") % 10 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val store = Dedup.gramStore(corpus, n = 3)
    val fromStore = Dedup.incrementalJaccardPairsFromStore(store, fresh,
        n = 3, threshold = 0.5, maxDf = 0)
      .collect().map(key).toSet
    val recomputed = Dedup.incrementalJaccardPairs(corpus, fresh, 3, 0.5,
        maxDf = 0)
      .collect().map(key).toSet
    assert(fromStore === recomputed && fromStore.nonEmpty)
    // the freshGrams single-evaluation hook (gramStore rows, positive sz)
    // must produce the identical pair set — the same rows a production
    // caller appends to the store after the run
    val fg = Dedup.gramStore(fresh, n = 3).persist()
    fg.count()
    val hooked = Dedup.incrementalJaccardPairsFromStore(store, fresh,
        n = 3, threshold = 0.5, maxDf = 0, freshGrams = Some(fg))
      .collect().map(key).toSet
    fg.unpersist()
    assert(hooked === fromStore)
  }

  test("incremental jaccard composes with the table format's incremental scan") {
    import spark.implicits._
    import graft.format._
    val loc = java.nio.file.Files.createTempDirectory("graft-incrdedup").toString + "/t"
    val base = docs.select("doc_id", "text")
    val t0 = GraftTable.create(spark, loc, base.schema)
    GraftWrite.append(t0, base.filter(col("doc_id") % 10 =!= 0))
    val s1 = GraftTable.load(spark, loc).currentSnapshot.get.snapshotId
    GraftWrite.append(GraftTable.load(spark, loc),
      base.filter(col("doc_id") % 10 === 0))
    val t1 = GraftTable.load(spark, loc)
    val s2 = t1.currentSnapshot.get.snapshotId
    // the increment IS the appendsBetween slice — no bookkeeping columns
    val fresh = t1.newScan().appendsBetween(s1, s2).toDF()
    val corpus = t1.newScan().useSnapshot(s1).toDF()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
    val incr = Dedup.incrementalJaccardPairs(corpus, fresh, 3, 0.5, maxDf = 0)
      .collect().map(key).toSet
    val full = Dedup.jaccardPairsFast(base, 3, 0.5, maxDf = 0)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .collect().map(key).toSet
    assert(incr === full)
  }

  test("incremental jaccard rides a streaming ingest: each pair surfaces exactly once") {
    import spark.implicits._
    import graft.format._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val loc = java.nio.file.Files.createTempDirectory("graft-sdedup").toString + "/t"
    val base = docs.select("doc_id", "text")
    val t0 = GraftTable.create(spark, loc, base.schema)
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    def rowsOf(p: org.apache.spark.sql.DataFrame) =
      p.as[(Long, String)].collect().toSeq
    val collected = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    // per-epoch: dedupe the micro-batch against the PRE-epoch snapshot,
    // then commit the batch — the standing corpus never re-pairs itself,
    // and across epochs every pair is found exactly once (in the epoch
    // its later member arrived)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", s"$loc-ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, epochId: Long) =>
        val t = GraftTable.load(spark, loc)
        val pairs = Dedup.incrementalJaccardPairs(
            t.toDF(), batch, 3, 0.5, maxDf = 0).collect()
          .map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
        collected.synchronized { collected ++= pairs }
        Streaming.commitEpoch(t, batch, epochId)
        ()
      }
      .start()
    mem.addData(rowsOf(base.filter(col("doc_id") % 10 =!= 0)): _*)
    q.processAllAvailable()
    mem.addData(rowsOf(base.filter(col("doc_id") % 10 === 0)): _*)
    q.processAllAvailable()
    q.stop()
    val full = Dedup.jaccardPairsFast(base, 3, 0.5, maxDf = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9)))
    assert(collected.size === collected.toSet.size, "a pair surfaced twice")
    assert(collected.toSet === full.toSet)
  }

  test("incremental exact dedup resolves fresh dups to corpus keepers") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (50L, "omega"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, "beta"), (11L, "beta"), (12L, "delta"), (13L, "delta"),
      (5L, "omega")).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(corpus, fresh)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // 10,11 → corpus keeper 2; 13 → fresh keeper 12; 12 itself is a
    // keeper (absent); corpus-only rows never appear. 5 → 50: the corpus
    // mate keeps even with a LARGER id — the standing side wins, the
    // fresh doc is the duplicate
    assert(out === Seq((5L, 50L), (10L, 2L), (11L, 2L), (13L, 12L)))
  }

  test("incremental embedding near-dup = exact pairs touching fresh") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e5))
    val full = Dedup.embeddingNearDupExact(emb, 0.45)
      .filter(col("a") % 10 === 0 || col("b") % 10 === 0)
      .collect().map(key).toSet
    val incr = Dedup.embeddingNearDupIncremental(
      emb.filter(col("vec_id") % 10 =!= 0),
      emb.filter(col("vec_id") % 10 === 0),
      0.45, nTables = 64)
      .collect().map(key).toSet
    assert(incr === full && full.nonEmpty)
  }

  test("freshBanded hook: an expensive fresh plan is evaluated exactly once") {
    import spark.implicits._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e5))
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val freshRaw = emb.filter(col("vec_id") % 10 === 0)
    val nFresh = freshRaw.count()
    // an accumulator-counting UDF standing in for expensive upstream work
    val acc = spark.sparkContext.longAccumulator("freshEvals")
    val counted = udf((v: Seq[Float]) => { acc.add(1); v })
    val fresh = freshRaw.withColumn("embedding", counted(col("embedding")))
    // without the hook the banding (and the UDF above it) runs twice
    val baseline = Dedup.embeddingNearDupIncremental(corpus, fresh,
      0.45, nTables = 64).collect().map(key).toSet
    assert(acc.value >= 2 * nFresh,
      s"expected the un-persisted path to evaluate fresh twice, got ${acc.value}")
    acc.reset()
    val fb = Dedup.bandEmbeddings(fresh, nTables = 64).persist()
    fb.count() // materialize: every fresh row evaluated here, once
    val out = Dedup.embeddingNearDupIncremental(corpus, fresh,
      0.45, nTables = 64, freshBanded = Some(fb)).collect().map(key).toSet
    fb.unpersist()
    assert(acc.value === nFresh,
      s"freshBanded path must evaluate fresh once, got ${acc.value}")
    assert(out === baseline && out.nonEmpty)
  }

  test("decontamination flags exactly the docs sharing a benchmark n-gram") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a very quick brown fox runs far"), // shares "quick brown fox"
      (2L, "the quick brown fox jumps high today"), // shares 3 grams
      (3L, "totally unrelated words here now")) // clean → absent
      .toDF("doc_id", "text")
    val out = Dedup.contamination(corpus, bench, n = 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc 1: 5 grams, 1 overlapping; doc 2: 5 grams, 3 overlapping
    assert(out === Seq((1L, 1L, 5L), (2L, 3L, 5L)))
    // the benchmark side must broadcast: corpus grams never shuffle
    val plan = Dedup.contamination(corpus, bench)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("token packing: two-phase prefix sum equals the global-window reference") {
    import org.apache.spark.sql.expressions.Window
    val budget = 512L
    val out = TextOps.packByTokenBudget(docs, budget)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: the single-partition global window (fine at spec scale,
    // the thing the distributed form must never run at corpus scale)
    val ref = docs.select(col("doc_id").cast("long").as("doc_id"),
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("toks"))
      .withColumn("cb", coalesce(sum("toks").over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("toks"),
        floor(col("cb") / budget).cast("long").as("shard"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && (out sameElements ref))
    // properties: shards are contiguous nondecreasing in doc order, and a
    // shard never holds more than budget + its last doc's overflow
    assert(out.map(_._3).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    val perShard = out.groupBy(_._3).view.mapValues(_.map(_._2).sum)
    val maxDoc = out.map(_._2).max
    assert(perShard.values.forall(_ <= budget + maxDoc))
    // every shard except the last is filled to at least the budget
    val last = out.map(_._3).max
    assert(perShard.filter(_._1 != last).values.forall(_ >= budget - maxDoc))
  }

  test("gramHashes evaluates ONCE per row through the explode pipeline (plan shape)") {
    // gramHashes is marked asNondeterministic as a measured perf contract:
    // without the marking, Catalyst infers the generator's
    // isnotnull/size>0 filters and pushes them through the defining
    // projection, substituting the UDF into both — 3 evaluations per row
    // on the Jaccard family's hottest stage. Pin the plan shape so a
    // future revert of the marking is caught here, not in a bench drift.
    def udfCount(df: org.apache.spark.sql.DataFrame): Int =
      "UDF".r.findAllIn(df.queryExecution.optimizedPlan.toString).length
    val marked = docs
      .select(col("doc_id"), TextOps.gramHashes(3)(col("text")).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    assert(udfCount(marked) == 1,
      s"gramHashes must appear exactly once in the optimized plan:\n${marked.queryExecution.optimizedPlan}")
    // control — a DETERMINISTIC udf in the same shape gets duplicated by
    // filter inference, proving the detector sees the failure mode this
    // test guards against
    val det = udf((s: String) =>
      if (s == null) Array.empty[Long] else s.split(' ').map(_.length.toLong))
    val unmarked = docs.select(col("doc_id"), det(col("text")).as("gs"))
      .select(col("doc_id"), explode(col("gs")).as("g"))
    assert(udfCount(unmarked) > 1,
      "control: deterministic udf should be duplicated by inferred filters")
  }

  test("token packing: sparse/clustered ids keep balanced groups and the single-window answer") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // snowflake-shaped pathology: a dense cluster at 0..100 plus a far
    // outlier band at 10^15 — the old (min,max)-arithmetic group key put
    // EVERY dense row in one group (width ≈ (hi-lo)/n ≈ 3*10^13), turning
    // the per-group window into a single-task sort of the whole corpus
    val ids = (0L to 100L) ++ (0L until 100L).map(1000000000000000L + _)
    val pathological = ids.map(id => (id, s"tok${id % 7} " * (1 + (id % 5)).toInt))
      .toDF("doc_id", "text")
    val budget = 12L
    val out = TextOps.packByTokenBudget(pathological, budget)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ref = pathological.select(col("doc_id").cast("long").as("doc_id"),
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("toks"))
      .withColumn("cb", coalesce(sum("toks").over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("toks"),
        floor(col("cb") / budget).cast("long").as("shard"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty && (out sameElements ref))
    // group-balance: quantile cuts must spread the 201 rows across groups
    // so no group swallows the corpus (arithmetic width gives max=101)
    val base = pathological.select(col("doc_id").cast("long").as("doc_id"))
    val grouped = TextOps.quantileGroups(base, "doc_id", 8)
      .groupBy("grp").count().collect().map(r => r.getLong(1))
    assert(grouped.length >= 4, s"expected >=4 populated groups, got ${grouped.length}")
    val ideal = math.ceil(ids.size / 8.0)
    assert(grouped.max <= 2 * ideal,
      s"max group ${grouped.max} exceeds 2x ideal $ideal — skew collapse")
  }

  test("token packing: NULL doc_ids pack first instead of dropping") {
    import spark.implicits._
    val withNull = Seq((Some(5L), "a b c"), (None, "x y"), (Some(9L), "d e"))
      .toDF("doc_id", "text")
    val out = TextOps.packByTokenBudget(withNull, budget = 100L)
      .orderBy(col("doc_id").asc_nulls_first).collect()
    assert(out.length == 3, "null-id row must survive the offsets join")
    // nulls-first prefix order: null(2 toks) -> 5(3) -> 9(2), one shard
    assert(out.head.isNullAt(0) && out.forall(_.getLong(2) == 0L))
  }

  test("chunking: windows overlap correctly and cover every token") {
    import spark.implicits._
    val doc = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val out = TextOps.chunk(doc, "text", maxTokens = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id").collect()
    val c1 = out.filter(_.getLong(0) == 1L).map(_.getString(2))
    // stride 3: [t1..t4], [t4..t7], [t7..t10] — boundary token shared
    assert(c1.toSeq == Seq("t1 t2 t3 t4", "t4 t5 t6 t7", "t7 t8 t9 t10"))
    assert(out.filter(_.getLong(0) == 2L).map(_.getString(2)).toSeq == Seq("a b c"))
    // invariant: sum of chunk tokens = n + (chunks-1) * overlap
    assert(out.filter(_.getLong(0) == 1L).map(_.getInt(3)).sum == 10 + 2 * 1)
    // coverage on real docs at the gate parameterization
    val real = TextOps.chunk(docs, "text", maxTokens = 32, overlap = 8)
    val perDoc = real.groupBy("doc_id")
      .agg(sum("chunk_tokens").as("s"), count(lit(1)).as("k"))
      .join(docs.select(col("doc_id"), TextOps.tokenCount(col("text")).as("n")), "doc_id")
    assert(perDoc.filter(col("s") =!= col("n") + (col("k") - 1) * 8).count() == 0)
    intercept[IllegalArgumentException](TextOps.chunk(doc, "text", 8, 8))
  }

  test("language heuristic identifies hand-crafted samples") {
    assert(TextOps.languageOf("the cat sat on the mat and it was happy") === "en")
    assert(TextOps.languageOf("el perro corre en la casa y los gatos duermen") === "es")
    assert(TextOps.languageOf("der Hund und die Katze sind nicht im Haus") === "de")
    assert(TextOps.languageOf("le chien est dans la maison et les chats dorment") === "fr")
    assert(TextOps.languageOf("我是一个学生 我们在学校学习中文") === "zh")
    assert(TextOps.languageOf("") === "unknown")
  }

  test("simhash of near-identical docs is close, distant docs differ") {
    val a = "the quick brown fox jumps over the lazy dog again and again today".split(" ").toSeq
    val b = a.updated(3, "red") // one token changed
    val c = "completely different words entirely unrelated to anything else written here now then".split(" ").toSeq
    assert(Dedup.hamming64(TextOps.simhash64(a), TextOps.simhash64(b)) <= 16)
    assert(Dedup.hamming64(TextOps.simhash64(a), TextOps.simhash64(c)) > 16)
  }

  test("minhash-LSH finds the same high-similarity pairs as exact jaccard") {
    val exact = Dedup.jaccardPairs(docs, n = 3, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, n = 3, bands = 16, rows = 4, threshold = 0.8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives (verification step guarantees it)
    assert(lsh.subsetOf(exact))
    // recall at j>=0.8 with 16x4 LSH should be essentially total
    if (exact.nonEmpty) assert(lsh.size.toDouble / exact.size >= 0.9)
  }

  test("simhash banding finds near-dup pairs without false positives") {
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).collect()
    pairs.foreach(r => assert(r.getAs[Int]("hamming") <= 3))
  }

  test("LSH ANN reaches high recall vs brute-force cosine top-k") {
    val query = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val exact = Similarity.cosineTopK(rest, query, 10).select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val ann = Similarity.lshTopK(rest, query, 10, nTables = 16, nBits = 8, probeHamming = 1)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((exact intersect ann).size >= 5, s"recall too low: $ann vs $exact")
    val ivf = Similarity.ivfTopK(rest, query, 10, nCentroids = 16, nProbe = 8)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((exact intersect ivf).size >= 5, s"ivf recall too low: $ivf vs $exact")
  }

  test("trained IVF centroids improve recall over the seeded init at nProbe=4") {
    val rest = emb.filter(col("vec_id") =!= 0)
    val trained = Similarity.trainCentroids(rest, nCentroids = 16, iters = 5)
    // averaged over several queries so one lucky seeded assignment can't
    // mask an untrained index
    val queryIds = Seq(0L, 1L, 2L, 3L, 4L)
    def recallSum(cents: Option[Array[Array[Double]]]): Int = queryIds.map { qid =>
      val query = emb.filter(col("vec_id") === qid).select("embedding")
        .head().getSeq[Float](0).toArray
      val others = emb.filter(col("vec_id") =!= qid)
      val exact = Similarity.cosineTopK(others, query, 10).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      val ivf = Similarity.ivfTopK(others, query, 10, nCentroids = 16,
          nProbe = 4, centroids = cents)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (exact intersect ivf).size
    }.sum
    val untrainedRecall = recallSum(None)
    val trainedRecall = recallSum(Some(trained))
    assert(trainedRecall > untrainedRecall,
      s"k-means gained nothing: trained $trainedRecall vs seeded $untrainedRecall of 50")
    // synthetic embeddings have weak cluster structure, so probing 4/16
    // lists tops out well under total recall — 40% is the meaningful floor
    assert(trainedRecall >= 20, s"trained recall too low: $trainedRecall/50")
  }

  test("embedding near-dup: LSH candidates recall the exact pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Dedup.embeddingNearDupExact(emb, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.embeddingNearDupLsh(emb, 0.4)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH emitted a false positive past exact verify")
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.5,
        s"recall too low: ${lsh.size}/${exact.size}")
  }

  test("duplicateClusters labels each component with its min doc id") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11}, {20,21,22} (star on 21)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (21L, 20L), (21L, 22L)).toDF("a", "b")
    val out = graft.ops.Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // the same graph with reversed and repeated pairs and int endpoints:
    // both orientations are one undirected edge, ids widen to long
    val messy = Seq((2, 1), (1, 2), (1, 2), (3, 2), (4, 3), (3, 4),
      (11, 10), (10, 11), (20, 21), (22, 21), (21, 22)).toDF("a", "b")
    assert(graft.ops.Dedup.duplicateClusters(messy)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == out)
  }

  test("duplicateClusters converges on a 60-node chain: no round cap") {
    import spark.implicits._
    // the min label needs 59 hops to reach doc 60; a capped loop leaves
    // the chain's tail with stale, non-minimal labels
    val chain = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val out = graft.ops.Dedup.duplicateClusters(chain)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == (1L to 60L).map(_ -> 1L).toMap)
  }

  test("duplicateClusters on disjoint pairs runs at most 3 Spark jobs") {
    import spark.implicits._
    // the dedup steady state: every cluster is one pair
    val pairs = (1L to 20L).map(i => (i * 100, i * 100 + 7)).toDF("a", "b")
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val out =
      try {
        sc.setJobGroup("dup-clusters", "counted")
        val rows = try graft.ops.Dedup.duplicateClusters(pairs).collect()
        finally sc.clearJobGroup()
        // listener-bus events arrive in order: once the marker job's start
        // is seen, every counted job has been seen too
        sc.setJobGroup("dup-clusters-marker", "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000
        while (!groups.contains("dup-clusters-marker") &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        rows
      } finally sc.removeSparkListener(listener)
    assert(out.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 20L).flatMap(i => Seq(i * 100 -> i * 100, (i * 100 + 7) -> i * 100)).toMap)
    val jobs = groups.toArray.count(_ == "dup-clusters")
    assert(jobs <= 3, s"clustering 20 disjoint pairs ran $jobs Spark jobs")
  }

  test("store dedup increment: 10 Spark jobs, texts never shuffled, one gram hash per touched doc") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    import graft.format.{GraftTable, GraftWrite}
    import scala.jdk.CollectionConverters._
    // the steady state of a store-backed dedup pipeline: a 1,000-doc
    // corpus with its signature store, and a 50-doc increment holding 20
    // copies (12 one-token edits, 8 exact) of distinct corpus docs
    val r = new java.util.Random(20261021L)
    val vocab = (0 until 4000).map(i => s"w$i")
    def doc() = Array.fill(60 + r.nextInt(40))(vocab(r.nextInt(vocab.size)))
    val corpus = (1L to 1000L).map(_ -> doc())
    val sources = r.ints(1, 1001).distinct().limit(20).toArray.map(_.toLong)
    val inc = (0 until 50).map { j =>
      val toks =
        if (j < 12) corpus(sources(j).toInt - 1)._2.updated(30, "edited")
        else if (j < 20) corpus(sources(j).toInt - 1)._2
        else doc()
      (2001L + j) -> toks
    }
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def frame(d: Seq[(Long, Array[String])]) = spark.createDataFrame(
      d.map { case (id, toks) => Row(id, toks.mkString(" ")) }.asJava, schema)
    val dir = java.nio.file.Files.createTempDirectory("graft-dedupjobs").toString
    val corpusT = GraftTable.create(spark, s"$dir/corpus", schema)
    GraftWrite.append(corpusT, frame(corpus))
    val sigs = Dedup.minhashSignatures(frame(corpus), 3, 32, 2)
    val storeT = GraftTable.create(spark, s"$dir/store", sigs.schema)
    GraftWrite.append(storeT, sigs)
    val fresh = frame(inc)
    val freshSigs = Dedup.minhashSignatures(fresh, 3, 32, 2).localCheckpoint()
    // the candidate definition, computed on the driver: a fresh doc and
    // any other doc sharing one band key (the same keys the op derives)
    val allSigs = (storeT.toDF().collect() ++ freshSigs.collect())
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    val byBand = allSigs.flatMap { case (id, sig) =>
      (0 until 32).map(bd => (bd, graft.util.Murmur3.hashBytes(sig, bd * 8, 8, 0)) -> id)
    }.groupMap(_._1)(_._2)
    val freshIds = inc.map(_._1).toSet
    val touched = allSigs.filter(s => freshIds(s._1)).flatMap { case (id, sig) =>
      val mates = (0 until 32).flatMap(bd =>
        byBand((bd, graft.util.Murmur3.hashBytes(sig, bd * 8, 8, 0)))).toSet - id
      if (mates.isEmpty) Set.empty[Long] else mates + id
    }.toSet
    // deterministic, so the optimizer moves the touched-doc semi-join
    // below it: it counts the corpus texts the verify step gram-hashes
    val acc = spark.sparkContext.longAccumulator("corpusTextEvals")
    val counted = udf((t: String) => { acc.add(1); t })
    val texts = corpusT.toDF().select(col("doc_id"), counted(col("text")).as("text"))
      .unionByName(fresh)

    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    val (pairsDf, pairs, survivors) =
      try {
        sc.setJobGroup("dedup-increment", "counted")
        val out =
          try {
            // the candidates are materialized here, when the frame is built
            val pairsDf = Dedup.minhashLshPairsFromStore(storeT.toDF(), fresh, texts,
              3, 32, 2, 0.5, Some(freshSigs))
            val pairs = pairsDf.collect()
              .map(p => (p.getLong(0), p.getLong(1))).toSeq
            val ids = (inc.map(_._1) ++ pairs.flatMap(p => Seq(p._1, p._2))).distinct
            val kept = Dedup.keepBest(
                spark.createDataFrame(ids.map(Row(_)).asJava,
                  StructType(Seq(StructField("doc_id", LongType)))),
                spark.createDataFrame(pairs.map(p => Row(p._1, p._2)).asJava,
                  StructType(Seq(StructField("a", LongType), StructField("b", LongType)))),
                -col("doc_id"))
              .filter(col("keep") && col("doc_id") > 2000L)
              .select("doc_id").collect().map(_.getLong(0)).toSet
            (pairsDf, pairs, kept)
          } finally sc.clearJobGroup()
        // listener-bus events arrive in order: once the marker job's start
        // is seen, every counted job has been seen too
        sc.setJobGroup("dedup-increment-marker", "marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.currentTimeMillis() + 30000
        while (!groups.contains("dedup-increment-marker") &&
            System.currentTimeMillis() < deadline) Thread.sleep(20)
        out
      } finally sc.removeSparkListener(listener)

    val planted = sources.zipWithIndex.map { case (s, j) => (s, 2001L + j) }.toSet
    assert(pairs.toSet == planted)
    assert(survivors == freshIds -- planted.map(_._2))
    // 10 jobs: candidates = the band join's two shuffle stages and the
    // checkpoint that also counts them (3); verify = touched-set
    // broadcast, sets broadcast (shared by both joins), collect (3); one
    // clustering round (1); keep = cluster broadcast, window shuffle,
    // collect (3)
    val jobs = groups.toArray.count(_ == "dedup-increment")
    assert(jobs <= 10, s"the dedup increment ran $jobs Spark jobs")
    // every node of the final adaptive plan, query stages and subqueries
    // included; a reused exchange is not walked again
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil
      case o => o.children
    }) ++ p.subqueries).flatMap(nodes)
    def readsTexts(p: SparkPlan) = nodes(p).exists {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.contains("text")
      case _ => false
    }
    val plan = pairsDf.queryExecution.executedPlan
    val shuffled = nodes(plan).collect { case s: ShuffleExchangeExec if readsTexts(s) => s }
    assert(shuffled.isEmpty, plan.toString)
    val touchedCorpus = touched.count(_ <= 1000L)
    assert(touchedCorpus > 0 && acc.value == touchedCorpus,
      s"${acc.value} corpus text evaluations for $touchedCorpus touched corpus docs")
    // gramHashes runs in the projection over the touched-doc semi-joins:
    // their output-row metrics count its calls, fresh docs included
    val hashed = nodes(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi =>
        j.metrics("numOutputRows").value
    }.sum
    assert(touched.nonEmpty && hashed == touched.size,
      s"$hashed gram-hashed texts for ${touched.size} touched docs")
  }

  test("stratified sampling: exact per-group quota, WindowGroupLimit plan") {
    import org.apache.spark.sql.functions._
    val sampled = graft.ops.Sampling.stratified(docs, col("lang"), col("doc_id"), 5)
    val counts = sampled.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    totals.foreach { case (lang, total) =>
      assert(counts(lang) === math.min(5L, total), s"lang $lang") }
    // deterministic: same rows on re-evaluation with different partitioning
    val again = graft.ops.Sampling.stratified(docs.repartition(7),
      col("lang"), col("doc_id"), 5)
    assert(again.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      sampled.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq)
    // the rank<=n filter must plan as a WindowGroupLimit (partial limit
    // BEFORE the group shuffle), not a full window over every row
    val physical = sampled.queryExecution.executedPlan.toString
    assert(physical.contains("WindowGroupLimit"), physical.take(2000))
  }

  test("duplicateSpans flags exactly the docs sharing a k-token window") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val shared = (1 to 6).map(i => s"w$i").mkString(" ") // 6 shared tokens
    val d = Seq(
      (1L, s"alpha beta $shared gamma delta"),
      (2L, s"$shared epsilon zeta eta theta iota"),
      (3L, "totally different words that never repeat anywhere else ok")
    ).toDF("doc_id", "text")
    val res = graft.ops.Dedup.duplicateSpans(d, k = 6)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc1: 10 tokens -> 5 windows, 1 (the shared run) duplicated;
    // doc2: 11 tokens -> 6 windows, 1 duplicated; doc3: absent
    assert(res === Seq((1L, 5L, 1L), (2L, 6L, 1L)))
    // a doc shorter than k tokens is simply out of scope, not an error
    val short = Seq((9L, "too short")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.duplicateSpans(short, k = 6).count() === 0L)
  }

  test("tfidfTopTerms ranks corpus-distinctive terms above common ones") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val d = Seq(
      (1L, "common common common rare1 rare1"),
      (2L, "common common rare2"),
      (3L, "common rare3 rare3 rare3")
    ).toDF("doc_id", "text")
    val res = graft.ops.TextOps.tfidfTopTerms(d, topK = 1).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    // "common" appears in every doc (idf = ln(1) = 0), so each doc's top
    // term is its own rare token despite lower tf
    assert(res === Seq((1L, "rare1"), (2L, "rare2"), (3L, "rare3")))
    val plan = graft.ops.TextOps.tfidfTopTerms(d, topK = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(1500))
  }

  test("keepBest keeps the top-scoring member per cluster, passes singletons") {
    import spark.implicits._
    val d = Seq(
      (1L, 10L), (2L, 30L), (3L, 20L), // cluster {1,2,3}: 2 wins (score 30)
      (4L, 5L), (5L, 5L),              // cluster {4,5}: tie → lowest id (4)
      (9L, 1L)                          // unclustered: keeps itself
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
    val out = Dedup.keepBest(d, pairs, col("score"))
      .select(col("doc_id"), col("cluster"), col("keep"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2)))).toMap
    assert(out === Map(
      1L -> ((1L, false)), 2L -> ((1L, true)), 3L -> ((1L, false)),
      4L -> ((4L, true)), 5L -> ((4L, false)),
      9L -> ((9L, true))))
  }

  test("redactPii scrubs emails/IPs/phones and leaves clean text alone") {
    import graft.ops.TextOps
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.co.uk or +14155551234 now"),
      (2L, "server 192.168.1.250 and 10.0.0.7 rebooted"),
      (3L, "no pii here just words and 42 numbers"),
      (4L, "a@b.io x")).toDF("doc_id", "text")
    val out = d.select(col("doc_id"),
        TextOps.redactPii(col("text")).as("red"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(out(1L) === "reach me at <EMAIL> or <PHONE> now")
    assert(out(2L) === "server <IP> and <IP> rebooted")
    assert(out(3L) === "no pii here just words and 42 numbers")
    assert(out(4L) === "<EMAIL> x")
    val counts = d.select(Seq(col("doc_id")) ++ TextOps.piiCounts(col("text")): _*)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(counts(1L) === ((1, 0, 1)))
    assert(counts(2L) === ((0, 2, 0)))
    assert(counts(3L) === ((0, 0, 0)))
  }

  test("multimodal decode pipeline emits typed metadata and frames") {
    val media = Multimodal.withPayload(docs)
    val decoded = Multimodal.decodeAll(spark, media).collect()
    assert(decoded.length === docs.count())
    decoded.foreach { d =>
      assert(d.n_bytes > 0)
      assert(d.sha.length === 64)
      assert(d.format == "png" || d.format == "jpeg")
      assert(math.abs(d.feature.sum - 1.0f) < 1e-3) // normalized histogram
    }
    val frames = Multimodal.sampleFrames(spark, media, stride = 64, maxFrames = 4)
    assert(frames.count() > 0)
    assert(frames.groupBy("doc_id").count().agg(max("count")).head().getLong(0) <= 4)
  }

  test("ImageCodec: real PNG/JPEG header probe, non-images fall through") {
    import graft.ops.Multimodal.ImageCodec
    val png = ImageCodec.encode(13, 7, "png", seed = 42L)
    assert(png.take(4).toSeq === Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte),
      "encode must produce a real PNG container")
    assert(ImageCodec.probe(png) ===
      Some(Multimodal.MediaMeta(13, 7, 3, "png")))
    val jpg = ImageCodec.encode(640, 480, "jpeg", seed = 7L)
    assert(ImageCodec.probe(jpg) ===
      Some(Multimodal.MediaMeta(640, 480, 3, "jpeg")))
    // non-image bytes: no reader claims them
    assert(ImageCodec.probe("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(ImageCodec.probe(Array.empty[Byte]).isEmpty)
    // a PNG truncated before the IHDR chunk must not crash the probe
    assert(ImageCodec.probe(png.take(12)).isEmpty)
    // decodeAll routes image payloads through the REAL probe (stub would
    // report width = n_bytes % 640, wrong for any real container)
    import spark.implicits._
    val media = Seq((1L, png), (2L, jpg)).toDF("doc_id", "payload")
    val rows = Multimodal.decodeAll(spark, media).collect()
      .map(d => d.doc_id -> ((d.width, d.height, d.channels, d.format))).toMap
    assert(rows(1L) === ((13, 7, 3, "png")))
    assert(rows(2L) === ((640, 480, 3, "jpeg")))
  }

  test("ImageCodec.resize: real aspect-fit scale, PNG round-trip, corrupt degrades") {
    import graft.ops.Multimodal.ImageCodec
    // downscale 13x5 into (8,8): outW = min(8, 13*8/5) = 8, outH = min(8, 5*8/13) = 3
    val big = ImageCodec.encode(13, 5, "png", seed = 7L)
    val Some((w1, h1, png1)) = ImageCodec.resize(big, 8, 8)
    assert((w1, h1) === (8, 3))
    val m1 = ImageCodec.probe(png1).get
    assert((m1.width, m1.height, m1.format) === (8, 3, "png"))
    // upscale 2x3 into (8,8): outW = min(8, 2*8/3) = 5, outH = min(8, 3*8/2) = 8
    val small = ImageCodec.encode(2, 3, "jpeg", seed = 9L)
    val Some((w2, h2, png2)) = ImageCodec.resize(small, 8, 8)
    assert((w2, h2) === (5, 8))
    assert(ImageCodec.probe(png2).exists(m => m.width == 5 && m.height == 8))
    // non-image / corrupt bytes degrade to None, never throw
    assert(ImageCodec.resize(Array[Byte](1, 2, 3, 4), 8, 8).isEmpty)
    assert(ImageCodec.resize(big.take(10), 8, 8).isEmpty)
  }

  test("ImageCodec.feature: re-encoded images stay near, distinct images apart") {
    import graft.ops.Multimodal.ImageCodec
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    // same deterministic content through lossless PNG vs lossy JPEG:
    // the perceptual vector must be nearly identical
    val png = ImageCodec.feature(ImageCodec.encode(24, 16, "png", seed = 5L)).get
    val jpg = ImageCodec.feature(ImageCodec.encode(24, 16, "jpeg", seed = 5L)).get
    assert(png.length === 64 && png.forall(v => v >= 0f && v <= 1f))
    assert(cos(png, jpg) > 0.99, s"re-encode cosine ${cos(png, jpg)}")
    // determinism: same bytes, same vector
    val again = ImageCodec.feature(ImageCodec.encode(24, 16, "png", seed = 5L)).get
    assert(png.toSeq === again.toSeq)
    // a different picture is measurably farther than the re-encode pair
    val other = ImageCodec.feature(ImageCodec.encode(24, 16, "png", seed = 99L)).get
    assert(cos(png, other) < cos(png, jpg),
      s"distinct-image cosine ${cos(png, other)} not below re-encode ${cos(png, jpg)}")
    // non-image bytes degrade to None
    assert(ImageCodec.feature(Array[Byte](9, 9, 9)).isEmpty)
    // and the frame-level op plugs into the embedding ANN shape
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val media = Seq((1L, ImageCodec.encode(24, 16, "png", seed = 5L)),
      (2L, ImageCodec.encode(24, 16, "jpeg", seed = 5L)),
      (3L, ImageCodec.encode(24, 16, "png", seed = 99L)),
      (4L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val feats = graft.ops.Multimodal.imageFeatures(spark, media)
    assert(feats.columns.toSeq === Seq("vec_id", "embedding"))
    assert(feats.count() === 3, "non-image must drop")
    val near = graft.ops.Dedup.embeddingNearDupExact(feats, threshold = 0.99)
      .select(col("a"), col("b")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(near.contains((1L, 2L)), "the re-encoded pair must near-dup")
    assert(!near.contains((1L, 3L)) || cos(png, other) >= 0.99)
  }

  test("AudioCodec: real WAV/AIFF/AU header probe, non-audio falls through") {
    import graft.ops.Multimodal.AudioCodec
    val wav = AudioCodec.encode(8000, channels = 1, frames = 5, "wave", seed = 3L)
    assert(wav.take(4).map(_.toChar).mkString === "RIFF",
      "encode must produce a real RIFF/WAVE container")
    assert(AudioCodec.probe(wav) ===
      Some(Multimodal.MediaMeta(8000, 16, 1, "wave")))
    val aiff = AudioCodec.encode(16000, channels = 2, frames = 7, "aiff", seed = 4L)
    assert(AudioCodec.probe(aiff) ===
      Some(Multimodal.MediaMeta(16000, 16, 2, "aiff")))
    val au = AudioCodec.encode(44100, channels = 2, frames = 3, "au", seed = 5L)
    assert(AudioCodec.probe(au) ===
      Some(Multimodal.MediaMeta(44100, 16, 2, "au")))
    // non-audio bytes: no reader claims them; truncation degrades, never throws
    assert(AudioCodec.probe("definitely not audio".getBytes("UTF-8")).isEmpty)
    assert(AudioCodec.probe(Array.empty[Byte]).isEmpty)
    assert(AudioCodec.probe(wav.take(10)).isEmpty)
    // decodeAll routes audio payloads through the REAL probe (image probe
    // first declines, stub would report width = n_bytes % 640)
    import spark.implicits._
    val media = Seq((1L, wav), (2L, aiff)).toDF("doc_id", "payload")
    val rows = Multimodal.decodeAll(spark, media).collect()
      .map(d => d.doc_id -> ((d.width, d.height, d.channels, d.format))).toMap
    assert(rows(1L) === ((8000, 16, 1, "wave")))
    assert(rows(2L) === ((16000, 16, 2, "aiff")))
  }

  test("video probes never throw on random or mutated bytes (fuzz property)") {
    // the byte walkers run inside every decode task: any payload a crawl
    // hands them — random garbage, bit-flipped real containers, truncated
    // tails — must degrade to None/fallback, never kill the task. Seeded,
    // deterministic.
    import graft.ops.Multimodal.{VideoCodec, WebmCodec}
    val rnd = new scala.util.Random(424242)
    def noThrow(b: Array[Byte]): Unit = {
      VideoCodec.probe(b); VideoCodec.probeDurationSec(b)
      WebmCodec.probe(b); WebmCodec.probeDurationSec(b)
    }
    (0 until 300).foreach { _ =>
      noThrow(Array.fill(rnd.nextInt(512))(rnd.nextInt().toByte))
    }
    // mutate VALID containers: flip bytes anywhere (sizes, ids, vints) —
    // the walkers must stay in-bounds whatever the lengths now claim
    val valid = Seq(
      VideoCodec.encode(640, 360, 1000L, 5000L),
      VideoCodec.encodeFragmented(1280, 720, 90000L, 450000L),
      WebmCodec.encode(1920, 800, 7.25),
      WebmCodec.encode(640, 360, 2.5, unknownSegmentSize = true))
    valid.foreach { base =>
      (0 until 200).foreach { _ =>
        val m = base.clone()
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          m(rnd.nextInt(m.length)) = rnd.nextInt().toByte
        }
        noThrow(m)
      }
      // and every suffix-truncation (prefixes already pinned elsewhere)
      (0 until base.length by 5).foreach(k => noThrow(base.drop(k)))
    }
  }

  test("WebmCodec: EBML probe — dims, duration, unknown-size segment, degrade") {
    import graft.ops.Multimodal.{MediaMeta, VideoCodec, WebmCodec}
    val webm = WebmCodec.encode(1920, 800, durationSec = 7.25)
    assert(WebmCodec.probe(webm) === Some(MediaMeta(1920, 800, 1, "webm")))
    assert(WebmCodec.probeDurationSec(webm) === Some(7.25))
    // live-muxed shape: Segment written with the all-ones UNKNOWN size
    // (payload runs to end of stream) — the common streaming-origin form
    val live = WebmCodec.encode(640, 360, 2.5, unknownSegmentSize = true)
    assert(WebmCodec.probe(live) === Some(MediaMeta(640, 360, 1, "webm")))
    assert(WebmCodec.probeDurationSec(live) === Some(2.5))
    // the DocType rides into MediaMeta.format (matroska etc.)
    assert(WebmCodec.probe(WebmCodec.encode(4, 2, 1.0, docType = "matroska"))
      .get.format === "matroska")
    // non-EBML and every truncation degrade to None, never throw (the
    // known-size Segment claims bytes past any cut, so all proper
    // prefixes lack a complete Tracks)
    assert(WebmCodec.probe("not an ebml stream".getBytes("UTF-8")).isEmpty)
    assert(WebmCodec.probe(Array.empty[Byte]).isEmpty)
    (0 until webm.length by 3).foreach { k =>
      assert(WebmCodec.probe(webm.take(k)).isEmpty, s"prefix $k must degrade")
    }
    // the two video probes never claim each other's container
    assert(VideoCodec.probe(webm).isEmpty)
    assert(WebmCodec.probe(VideoCodec.encode(64, 64, 600L, 600L)).isEmpty)
    // decodeAll routes WebM payloads through the real EBML probe
    import spark.implicits._
    val rows = Multimodal.decodeAll(spark,
      Seq((9L, webm)).toDF("doc_id", "payload")).collect()
    assert(rows.head.width === 1920 && rows.head.format === "webm")
  }

  test("VideoCodec: real MP4 box-tree probe, v0+v1 layouts, corrupt degrades") {
    import graft.ops.Multimodal.{MediaMeta, VideoCodec}
    // v0 round trip through our own minimal encoder
    val mp4 = VideoCodec.encode(width = 640, height = 360,
      timescale = 1000L, durationTicks = 12500L, brand = "mp42")
    assert(new String(mp4.slice(4, 8), "US-ASCII") === "ftyp",
      "encode must produce a real ISO-BMFF file")
    assert(VideoCodec.probe(mp4) === Some(MediaMeta(640, 360, 1, "mp42")))
    assert(VideoCodec.probeDurationSec(mp4) === Some(12.5))
    // VERSION 1 boxes (64-bit times) use different field offsets — build
    // them by hand so the parser's v1 branch is pinned, not just our
    // encoder's v0 output
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
      bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII")).put(payload)
      bb.array()
    }
    val mvhd1 = {
      val bb = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 4 + 8 + 80)
      bb.put(1.toByte).put(new Array[Byte](3)) // version 1 + flags
        .putLong(0L).putLong(0L)               // 64-bit creation/modification
        .putInt(600).putLong(1800L)            // timescale, 64-bit duration
      bb.array()
    }
    val tkhd1 = {
      val bb = java.nio.ByteBuffer.allocate(96)
      bb.put(1.toByte).put(new Array[Byte](3)) // version 1 + flags
        .putLong(0L).putLong(0L)               // 64-bit creation/modification
        .putInt(1).putInt(0)                   // track_ID, reserved
        .putLong(1800L)                        // 64-bit duration
        .put(new Array[Byte](8 + 8 + 36))      // reserved + l/a/v/r + matrix
        .putInt(1920 << 16).putInt(1080 << 16) // 16.16 width/height
      bb.array()
    }
    val ftyp = box("ftyp", "avc1".getBytes("US-ASCII") ++ new Array[Byte](4))
    val v1file = ftyp ++ box("moov", box("mvhd", mvhd1) ++ box("trak", box("tkhd", tkhd1)))
    assert(VideoCodec.probe(v1file) === Some(MediaMeta(1920, 1080, 1, "avc1")))
    assert(VideoCodec.probeDurationSec(v1file) === Some(3.0))
    // FRAGMENTED MP4 (moov{mvex{mehd}} + moof): mvhd duration is 0 and
    // the total movie duration lives in mehd — the dominant
    // streaming-origin container shape; the empty moof must be skipped
    val fmp4 = VideoCodec.encodeFragmented(width = 1280, height = 720,
      timescale = 90000L, durationTicks = 450000L) // 5.0 s at 90 kHz
    assert(VideoCodec.probe(fmp4) === Some(MediaMeta(1280, 720, 1, "iso5")))
    assert(VideoCodec.probeDurationSec(fmp4) === Some(5.0))
    // a v1 mehd (64-bit fragment_duration), hand-built
    val mehd1 = {
      val bb = java.nio.ByteBuffer.allocate(12)
      bb.put(1.toByte).put(new Array[Byte](3)).putLong(2400L)
      bb.array()
    }
    val fragV1 = ftyp ++ box("moov",
      box("mvhd", mvhd1.clone().patch(24, Array.fill(8)(0.toByte), 8)) ++ // duration 0
      box("mvex", box("mehd", mehd1)))
    assert(VideoCodec.probeDurationSec(fragV1) === Some(4.0),
      "v1 mehd fragment_duration must parse (2400 ticks / 600 timescale)")
    // progressive duration wins when both are present (mvhd nonzero)
    assert(VideoCodec.probeDurationSec(
      ftyp ++ box("moov", box("mvhd", mvhd1) ++ box("mvex", box("mehd", mehd1))))
      === Some(3.0))
    // non-BMFF / truncated payloads degrade to None, never throw — probe
    // every prefix so no box-length arithmetic can overrun
    assert(VideoCodec.probe("definitely not a video".getBytes("UTF-8")).isEmpty)
    assert(VideoCodec.probe(Array.empty[Byte]).isEmpty)
    (0 until mp4.length by 7).foreach { k =>
      assert(VideoCodec.probe(mp4.take(k)).isEmpty, s"prefix $k must degrade")
    }
    // prefixes cutting INSIDE the moov must degrade; a cut inside the
    // trailing moof still holds a complete moov, so the probe (header-only
    // by design) legitimately succeeds there
    (0 until (24 + 240) by 7).foreach { k =>
      assert(VideoCodec.probe(fmp4.take(k)).isEmpty,
        s"fMP4 prefix $k must degrade")
    }
    assert(VideoCodec.probeDurationSec(fmp4.dropRight(10)) === Some(5.0),
      "a truncated trailing fragment must not cost the header probe")
    // decodeAll routes MP4 payloads through the REAL probe (image+audio
    // decline first); non-media text still falls through to the stub
    import spark.implicits._
    val txt = "plain text payload".getBytes("UTF-8")
    val media = Seq((1L, mp4), (2L, v1file), (3L, txt)).toDF("doc_id", "payload")
    val rows = Multimodal.decodeAll(spark, media).collect()
      .map(d => d.doc_id -> ((d.width, d.height, d.channels, d.format))).toMap
    assert(rows(1L) === ((640, 360, 1, "mp42")))
    assert(rows(2L) === ((1920, 1080, 1, "avc1")))
    assert(rows(3L) === ((txt.length % 640, (txt.length * 7) % 480, 3,
      if (txt.length % 2 == 0) "png" else "jpeg")))
  }
}
