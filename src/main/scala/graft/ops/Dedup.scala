package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.util.Murmur3

/**
 * Deduplication operators for training-data pipelines, each designed to
 * stay shuffle-light at 100 TB:
 *
 *  - exact:     one hash-shuffle on a 16-byte digest (not the full text) —
 *               the shuffle payload is doc_id+digest only.
 *  - n-gram Jaccard: explode-join on shared n-grams. The join key is the
 *               gram string; at scale, hot grams are the skew risk, so
 *               `jaccardPairs` drops grams whose document-frequency exceeds
 *               `maxDf` (a stopword-gram filter — standard trick; hot grams
 *               carry no discriminative signal anyway).
 *  - MinHash+LSH: k seeded murmur3 permutations → b bands of r rows →
 *               candidates share a band hash. Shuffle volume is
 *               O(docs × b) tiny band keys instead of O(docs²).
 *  - SimHash:   64-bit fingerprint; candidates share a 16-bit band; verify
 *               by Hamming distance. Cheapest of all (one long per doc).
 */
object Dedup {

  /** Exact dedup: keep the lowest doc_id per md5(text). */
  def exact(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))

  /** Cross-document duplicated k-token spans — the exact-substring side of
    * training-data dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", at token-window granularity): every
    * k-token sliding window is hashed to 64 bits; a window whose content
    * occurs in MORE THAN ONE document marks a duplicated span. Returns
    * (doc_id, n_windows, dup_windows) for docs with at least one
    * duplicated window — the caller trims or drops flagged spans.
    *
    * Scale shape: the corpus is read and window-hashed ONCE (one UDF call
    * per doc emits the hash array; exploded rows carry doc_id + 8-byte
    * hash, never window text), then exactly two shuffles: a window
    * min/max over the hash marks cross-document hashes (min(doc) ≠
    * max(doc) ⟺ >1 distinct doc — constant state per group, no
    * collect_set and no join), and one per-doc aggregation produces both
    * counters. A naive formulation (df-filter + semi-join + totals join)
    * rescans and rehashes the corpus three times — the dominant cost at
    * 100 TB. */
  def duplicateSpans(docs: DataFrame, k: Int = 20): DataFrame = {
    require(k > 1, s"window must span >1 token: $k")
    val hashAll = udf((toks: Seq[String]) =>
      (0 to toks.length - k).map(i =>
        TextOps.md5Lower64(toks.slice(i, i + k).mkString(" "))))
    val base = docs
      .select(col("doc_id"), TextOps.tokens(col("text")).as("_t"))
      .filter(size(col("_t")) >= k)
    val wins = base.select(col("doc_id"), explode(hashAll(col("_t"))).as("_h"))
    val byHash = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    wins
      .withColumn("_dup",
        min(col("doc_id")).over(byHash) =!= max(col("doc_id")).over(byHash))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("_dup"), 1L).otherwise(0L)).as("dup_windows"))
      .filter(col("dup_windows") > 0)
      .select(col("doc_id"), col("n_windows"), col("dup_windows"))
  }

  /** Spread a CPU-heavy per-row prep across the cluster when the upstream
    * plan has fewer partitions than the session's default parallelism —
    * guide §2.5's "one huge unsplittable file" input-skew remedy. The
    * tokenize/shingle/hash map stage of every dedup op otherwise runs at
    * INPUT-SPLIT parallelism, which for a single small file (or a single
    * parquet row group, which Spark cannot split) is ONE task regardless
    * of cores. A no-op at production scale (input splits ≥ cores); when
    * it fires, the round-robin shuffle moves the narrow projected input
    * once, and every consumer below is partitioning-invariant. */
  private def spreadNarrowInput(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** (doc_id, gram) exploded distinct word-ngram sets + per-doc set size. */
  private def gramSets(docs: DataFrame, n: Int): (DataFrame, DataFrame) = {
    val grams = docs
      .select(col("doc_id"), explode(TextOps.wordNgrams(TextOps.tokens(col("text")), n)).as("gram"))
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    (grams, sizes)
  }

  /**
   * Exact n-gram Jaccard similarity pairs with `jaccard >= threshold`.
   * `maxDf` caps the document frequency of join grams to bound skew
   * (0 = disabled). Deterministic: inter/union arithmetic is integral.
   */
  def jaccardPairs(docs: DataFrame, n: Int = 3, threshold: Double = 0.1, maxDf: Long = 0): DataFrame = {
    val (grams, sizes) = gramSets(docs, n)
    val joinGrams =
      if (maxDf <= 0) grams
      else {
        val df = grams.groupBy("gram").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
        grams.join(df.select("gram"), "gram")
      }
    val a = joinGrams.select(col("doc_id").as("a"), col("gram"))
    val b = joinGrams.select(col("doc_id").as("b"), col("gram"))
    val inter = a.join(b, Seq("gram")).filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), "b")
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Same semantics as `jaccardPairs`, restructured for scale: instead of a
   * gram self-join (two shuffles of the full gram table + a sort-merge join
   * whose `a < b` filter runs post-join), group each gram's doc list once
   * and emit ordered pairs directly. One shuffle of (gram, doc_id), one of
   * (a, b) pair counts. Grams are pre-hashed to 64-bit so the shuffle moves
   * 8-byte keys, not strings. Singleton grams (df=1 — the vast majority in
   * real corpora) never leave the map side.
   */
  /** Library default maxDf = 2000: the grouped pair expansion is O(df²)
    * tuples on ONE task at the df boundary — 2000 bounds the worst task at
    * ~2M pair tuples (~64 MB) where 10000 allowed ~50M (~1.6 GB). Grams
    * hotter than 2000 docs are stopword-shaped and carry no discriminative
    * signal. Pass maxDf = 0 for exact results (the q33 gate does). */
  def jaccardPairsFast(docs: DataFrame, n: Int = 3, threshold: Double = 0.1,
      maxDf: Long = 2000): DataFrame = {
    // pairCombos materializes (long, int) tuples — fail fast on a
    // non-numeric doc_id instead of a task-side ClassCastException, and
    // widen int ids to long so any numeric id works
    require(docs.schema("doc_id").dataType.isInstanceOf[
        org.apache.spark.sql.types.NumericType],
      s"jaccardPairsFast requires a numeric doc_id, got ${docs.schema("doc_id").dataType}")
    val docsN = spreadNarrowInput(
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    // each gram row carries its doc's set size, so pair rows are complete
    // and no per-doc size join is needed downstream: the whole computation
    // is exactly TWO shuffles of the full gram table (group-by-gram,
    // group-by-pair), plus one SMALL count shuffle for the hot-gram filter
    val withGrams = docsN.select(col("doc_id"), TextOps.gramHashes(n)(col("text")).as("gs"))
    val grams = withGrams
      .select(col("doc_id"), size(col("gs")).as("sz"), explode(col("gs")).as("g"))
    // hot-gram guard INSIDE the aggregation: a stopword-gram's doc list at
    // corpus scale is a multi-GB buffer on ONE task, so the bounded-collect
    // aggregator caps every buffer at maxDf entries and emits empty once
    // the true df exceeds it (≡ dropping grams with df > maxDf). One
    // shuffle, one pass over the gram table — an earlier version
    // pre-counted df in a separate job and anti-joined, which hashed every
    // document's grams TWICE and paid an extra count shuffle for the same
    // result (BoundedCollectAgg docs have the numbers).
    jaccardFromGrams(grams, maxDf, threshold, pairCombos)
  }

  /** Shared tail of the full and incremental Jaccard paths: per-gram doc
    * lists (bounded-collect hot-gram guard above `maxDf`, exact
    * sorted-collect otherwise), optional codegen'd group pre-filter, pair
    * expansion via `combos`, then the pair-count shuffle and the Jaccard
    * score. One copy so the bounded-collect semantics, the df ≥ 2 filter,
    * and the score arithmetic cannot silently diverge between the twins
    * (the gate relies on their equality). */
  private def jaccardFromGrams(grams: DataFrame, maxDf: Long,
      threshold: Double,
      combos: org.apache.spark.sql.expressions.UserDefinedFunction,
      groupFilter: Option[Column] = None): DataFrame = {
    // no sort over the doc lists anywhere: the combos UDFs emit each pair
    // in canonical (a < b) order themselves, so neither the exact
    // collect_list nor the bounded aggregator needs its groups ordered —
    // the old sort_array / finish-sort cost O(df log df) per gram for
    // nothing but pair orientation
    val grouped =
      if (maxDf <= 0)
        grams.groupBy("g")
          .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      else {
        val bounded = udaf(new BoundedCollectAgg(maxDf.toInt),
          Encoders.tuple(Encoders.scalaLong, Encoders.scalaInt))
        grams.groupBy("g")
          .agg(bounded(col("doc_id"), col("sz")).as("ds"))
          // the tuple encoder names the struct fields _1/_2 — rename via
          // a no-op cast so groupFilter sees the same (doc_id, sz) shape
          // on both paths
          .withColumn("ds",
            col("ds").cast("array<struct<doc_id:bigint,sz:int>>"))
      }
    val docLists = groupFilter.foldLeft(
      grouped.filter(size(col("ds")) >= 2))(_ filter _)
    // NOT adopted: grouping the pair-count shuffle by (a, b, szsum) instead
    // of (a, b, sza, szb) — one fewer UnsafeRow word and grouping column,
    // identical groups since (a, b) determines both sizes. The r21
    // interleaved A/B (sf0.1) measured it a consistent ~10% LOSS
    // on the tail (old ~1.08 s vs new ~1.20 s median, identical outputs):
    // the pair shuffle is the SMALLER of the family's two shuffles and the
    // saved word doesn't pay for the extra pre-exchange projection at this
    // scale. The gram-table shuffle stays the family floor.
    val pairs = docLists.select(explode(combos(col("ds"))).as("p"))
      .select(col("p._1").as("a"), col("p._2").as("sza"),
        col("p._3").as("b"), col("p._4").as("szb"))
    pairs.groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("inter"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /**
   * Incremental near-dup detection: Jaccard pairs `(a, b, jaccard)` where
   * AT LEAST ONE side is a fresh document — the steady-state append
   * pattern of a production corpus (dedupe this week's crawl against the
   * corpus without re-pairing the corpus against itself).
   *
   * Same two-shuffle shape as [[jaccardPairsFast]] (8-byte hashed grams,
   * bounded hot-gram collect), but the O(df²) per-gram pair expansion and
   * the pair-count shuffle are restricted to pairs touching a fresh doc —
   * O(df × df_fresh) per gram. At steady state (increment ≪ corpus) the
   * dominant old×old quadratic term is never materialized: the corpus
   * side still streams its grams once (no persisted index in-call), but
   * pair volume tracks the increment, not the corpus.
   *
   * Compose with the table format's incremental scan to feed `fresh`:
   * `t.newScan().appendsBetween(from, to).toDF()` is exactly the new-docs
   * increment between two snapshots (see IncrementalDedupSpec).
   *
   * The fresh flag rides the SIGN of the per-doc gram-set size (`sz` is
   * strictly positive — a doc with no grams emits no rows), so the
   * bounded aggregator and the 12-byte (gram, doc, sz) shuffle rows are
   * identical to the full-corpus path. `corpus` and `fresh` must have
   * disjoint numeric `doc_id`s.
   */
  def incrementalJaccardPairs(corpus: DataFrame, fresh: DataFrame,
      n: Int = 3, threshold: Double = 0.1, maxDf: Long = 2000): DataFrame = {
    for ((d, nm) <- Seq((corpus, "corpus"), (fresh, "fresh")))
      require(d.schema("doc_id").dataType.isInstanceOf[
          org.apache.spark.sql.types.NumericType],
        s"incrementalJaccardPairs requires a numeric doc_id in $nm, " +
          s"got ${d.schema("doc_id").dataType}")
    // no spreadNarrowInput here: measured LOSS (interleaved A/B at sf0.1,
    // q113 ~0.9-1.6 s without vs 1.3-1.9 s with — two extra exchanges and
    // plan probes against increment-scaled pair work); the full-corpus
    // path keeps it because its single-input map stage measured a win
    def grams(d: DataFrame, newSide: Boolean) = {
      val szCol = size(col("gs"))
      d.select(col("doc_id").cast("long").as("doc_id"),
          TextOps.gramHashes(n)(col("text")).as("gs"))
        .select(col("doc_id"),
          (if (newSide) -szCol else szCol).as("sz"),
          explode(col("gs")).as("g"))
    }
    val all = grams(corpus, newSide = false)
      .unionByName(grams(fresh, newSide = true))
    // at steady state (increment ≪ corpus) nearly every gram group is
    // old-only and would emit nothing — drop those with a codegen'd
    // exists() BEFORE the pair UDF ever deserializes the list, so the
    // O(df²) expansion loop only runs on fresh-touching groups
    jaccardFromGrams(all, maxDf, threshold, pairCombosFreshTouching,
      groupFilter = Some(exists(col("ds"), d => d.getField("sz") < lit(0))))
  }

  /** Hashed-gram rows for PERSISTENCE: one `(doc_id, sz, g)` row per
    * (doc, distinct gram) with `sz` = the doc's full gram-set size and
    * `g` the 8-byte gram hash. Persist as a graft table partitioned by
    * `bucket[N](g)` and EXTEND per increment — the standing corpus is
    * then never re-tokenized, and when the store is read back through
    * the graft catalog with `spark.sql.sources.v2.bucketing.enabled` +
    * `...bucketing.shuffle.enabled`, the touched-gram semi-join in
    * [[incrementalJaccardPairsFromStore]] becomes a storage-partitioned
    * join: the corpus-scale store side NEVER shuffles; only the
    * increment's probe keys shuffle, into the store's own buckets
    * (RuntimePruningSpec proves both plans shuffle-free / one-sided). */
  def gramStore(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id").cast("long").as("doc_id"),
        TextOps.gramHashes(n)(col("text")).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("sz"), explode(col("gs")).as("g"))

  /** Incremental exact n-gram Jaccard against a persisted gram store:
    * the corpus' grams are read back (never re-tokenized) and
    * immediately semi-joined down to the grams the increment actually
    * touches, so the expensive side of the group shuffle is
    * increment-scaled; fresh docs are tokenized fresh and ride with a
    * negative-sz marker, exactly like [[incrementalJaccardPairs]] — and
    * with `maxDf = 0` the answers are identical. `store` must hold the
    * CORPUS only (`gramStore` output at the same n; append the fresh
    * grams after the run). Pass the store as a catalog read of a
    * `bucket[N](g)`-partitioned graft table with the v2 bucketing confs
    * on (see [[gramStore]]) and the semi-join keeps the store side
    * entirely shuffle-free — the one corpus-scaled exchange in this op
    * disappears, which is what makes it the 100 TB steady-state path. */
  def incrementalJaccardPairsFromStore(store: DataFrame, fresh: DataFrame,
      n: Int = 3, threshold: Double = 0.1, maxDf: Long = 2000,
      freshGrams: Option[DataFrame] = None): DataFrame = {
    // single-evaluation hook, same contract as freshSigs/freshPrepped/
    // freshBanded: the fresh gram rows feed BOTH the touched-gram probe
    // and the union, so callers with an expensive fresh plan pass
    // `freshGrams = Some(gramStore(fresh, n).persist())` (same n!) and
    // unpersist afterwards — these are exactly the rows appended to the
    // store after the run, so most callers persist anyway; `fresh` is
    // then ignored. Without it the increment's tokenization runs once
    // per consumer (increment-sized map work; a silent library cache()
    // would leak executor memory with no unpersist point).
    val fg = freshGrams match {
      case Some(g) =>
        g.select(col("doc_id").cast("long").as("doc_id"),
          (-col("sz").cast("int")).as("sz"), col("g").cast("long").as("g"))
      case None =>
        require(fresh.schema("doc_id").dataType.isInstanceOf[
            org.apache.spark.sql.types.NumericType],
          "incrementalJaccardPairsFromStore requires a numeric doc_id in fresh, " +
            s"got ${fresh.schema("doc_id").dataType}")
        fresh.select(col("doc_id").cast("long").as("doc_id"),
            TextOps.gramHashes(n)(col("text")).as("gs"))
          .select(col("doc_id"), (-size(col("gs"))).as("sz"),
            explode(col("gs")).as("g"))
    }
    val touched = fg.select("g").distinct()
    val old = store.select(col("doc_id").cast("long").as("doc_id"),
        col("sz").cast("int").as("sz"), col("g").cast("long").as("g"))
      .join(touched, Seq("g"), "left_semi")
    val all = old.unionByName(fg)
    // the semi-join already removed old-only gram groups; the filter stays
    // as a cheap belt-and-braces guard against a store that contains
    // fresh ids by mistake
    jaccardFromGrams(all, maxDf, threshold, pairCombosFreshTouching,
      groupFilter = Some(exists(col("ds"), d => d.getField("sz") < lit(0))))
  }

  /** Incremental EXACT dedup: fresh documents whose text already exists
    * in the corpus (or in another fresh doc) — `(doc_id, keeper, h)` per
    * duplicate fresh doc. The corpus is the STANDING side: a fresh doc
    * duplicating corpus content is the duplicate regardless of id order
    * (keeper = min corpus id for the digest, even when every corpus mate
    * has a larger id than the fresh doc — the corpus rows are already
    * committed and can't be retro-deduped). Only when a digest has no
    * corpus mate does first-fresh-id-wins apply within the increment.
    * Steady-state shape: both sides shuffle 16-byte digests only, and the
    * corpus side is first reduced by a semi-join against the fresh digest
    * set (broadcast when the increment is small — the usual case), so the
    * big side never feeds the groupBy at full width. */
  def incrementalExact(corpus: DataFrame, fresh: DataFrame): DataFrame = {
    def digests(d: DataFrame) =
      d.select(col("doc_id").cast("long").as("doc_id"),
        md5(col("text").cast("binary")).as("h"))
    val fh = digests(fresh)
    val ch = digests(corpus).join(fh.select("h").distinct(), Seq("h"), "left_semi")
    val corpusKeepers = ch.groupBy("h").agg(min("doc_id").as("ck"))
    val freshMins = fh.groupBy("h").agg(min("doc_id").as("fk"))
    fh.join(freshMins, "h").join(corpusKeepers, Seq("h"), "left_outer")
      .filter(col("ck").isNotNull || col("doc_id") =!= col("fk"))
      .select(col("doc_id"), coalesce(col("ck"), col("fk")).as("keeper"), col("h"))
  }

  /** LSH banding for [[embeddingNearDupIncremental]]'s `freshBanded`
    * hook: one `(vec_id, embedding, bucket)` row per (vector, table) via
    * sign-random-projection. Exposed so a caller with an expensive fresh
    * plan can band once, `persist()`, and hand the result in — the
    * parameters must match the dedup call's `nTables`/`nBits` or buckets
    * won't align across the two sides. */
  def bandEmbeddings(d: DataFrame, nTables: Int = 24, nBits: Int = 6): DataFrame = {
    import graft.ops.{Similarity => S}
    val bucketsUdf = udf((v: Seq[Float]) => S.lshBuckets(v, nTables, nBits))
    d.select(col("vec_id"), col("embedding"),
      explode(bucketsUdf(col("embedding"))).as("bucket"))
  }

  /** Incremental embedding near-dup: cosine pairs `(a, b, cos)` touching
    * a fresh vector, via the same multi-table sign-random-projection LSH
    * as [[embeddingNearDupLsh]] — but the bucket join is fresh×all, so
    * corpus buckets never self-join. At steady state the fresh banded
    * side is increment-sized (broadcast-able) and candidate volume tracks
    * the increment; the corpus is banded once, never paired with itself.
    * `corpus` and `fresh` must have disjoint `vec_id`s.
    *
    * Without `freshBanded`, the fresh side's banding is evaluated twice
    * (as the join's build side and inside the union) — deliberate: it is
    * increment-sized narrow map work, and a library op that silently
    * `cache()`s leaks executor memory with no unpersist point. Callers
    * with an expensive fresh plan should pass
    * `freshBanded = Some(bandEmbeddings(fresh, nTables, nBits).persist())`
    * (same parameters!) and unpersist it themselves afterwards; `fresh`
    * is then ignored. */
  def embeddingNearDupIncremental(corpus: DataFrame, fresh: DataFrame,
      threshold: Double, nTables: Int = 24, nBits: Int = 6,
      freshBanded: Option[DataFrame] = None): DataFrame = {
    import graft.ops.{Similarity => S}
    def banded(d: DataFrame) = bandEmbeddings(d, nTables, nBits)
    val fb = freshBanded.getOrElse(banded(fresh))
    val all = banded(corpus).unionByName(fb)
    val lt = col("x.vec_id") < col("y.vec_id")
    val cand = fb.as("x").join(all.as("y"), Seq("bucket"))
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(
        when(lt, col("x.vec_id")).otherwise(col("y.vec_id")).as("a"),
        when(lt, col("y.vec_id")).otherwise(col("x.vec_id")).as("b"),
        when(lt, col("x.embedding")).otherwise(col("y.embedding")).as("ea"),
        when(lt, col("y.embedding")).otherwise(col("x.embedding")).as("eb"))
    // verify-then-dedup, same rationale as embeddingNearDupLsh: only
    // threshold-passing (a, b, cos) rows reach the dedup shuffle
    cand.select(col("a"), col("b"), S.cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("a", "b")
  }

  /** [[pairCombos]] twin for the incremental path: skips pairs where BOTH
    * sz values are positive (old×old), emits |sz| for the survivors. The
    * per-gram work stays O(df²) comparisons but only O(df × df_fresh)
    * materialized tuples — the shuffle after this UDF is the one that
    * explodes at corpus scale, the comparison loop is not. Pairs are
    * oriented (a < b) HERE, so the input list needs no order. */
  private val pairCombosFreshTouching = udf((ds: Seq[org.apache.spark.sql.Row]) => {
    val k = ds.length
    val out = Seq.newBuilder[(Long, Int, Long, Int)]
    var i = 0
    while (i < k) {
      val a = ds(i).getLong(0)
      val sa = ds(i).getInt(1)
      var j = i + 1
      while (j < k) {
        val sb = ds(j).getInt(1)
        if (sa < 0 || sb < 0) {
          val b = ds(j).getLong(0)
          if (a < b) out += ((a, math.abs(sa), b, math.abs(sb)))
          else out += ((b, math.abs(sb), a, math.abs(sa)))
        }
        j += 1
      }
      i += 1
    }
    out.result()
  })

  /** All (a<b)-oriented pairs of a (doc_id: long, sz: int) list as a
    * tight two-loop UDF; orientation happens per pair, so the input list
    * needs no order. An earlier higher-order-function formulation
    * (transform/slice/flatten) was ~25% slower end-to-end at sf0.1: HOF
    * lambdas evaluate interpreted per element and `slice` re-allocates a
    * sub-array per pivot, while this loop emits compact tuples once. */
  private val pairCombos = udf((ds: Seq[org.apache.spark.sql.Row]) => {
    val k = ds.length
    val out = new Array[(Long, Int, Long, Int)](k * (k - 1) / 2)
    var idx = 0
    var i = 0
    while (i < k) {
      val a = ds(i).getLong(0)
      val sa = ds(i).getInt(1)
      var j = i + 1
      while (j < k) {
        val b = ds(j).getLong(0)
        out(idx) =
          if (a < b) (a, sa, b, ds(j).getInt(1))
          else (b, ds(j).getInt(1), a, sa)
        idx += 1
        j += 1
      }
      i += 1
    }
    out.toSeq
  })

  /**
   * Benchmark decontamination: for each corpus document, how many of its
   * distinct word n-grams also appear in ANY benchmark document — the
   * n-gram-overlap test used to scrub evaluation sets out of training
   * corpora before pretraining. Returns one row per contaminated document:
   * `(doc_id, overlap_grams, total_grams, contamination)` where
   * `contamination = overlap/total`; clean documents are absent.
   *
   * Scale: the benchmark side collapses to a DISTINCT gram set first —
   * eval benchmarks are thousands of documents, so that set broadcasts
   * (`broadcastBench`, default on) and the 100-TB corpus side is ONE
   * map-side hash join + one partial-aggregated groupBy(doc_id); the
   * corpus never shuffles its gram table. With `broadcastBench=false`
   * (an unusually large benchmark) it degrades to a shuffle join on the
   * gram string.
   */
  def contamination(corpus: DataFrame, bench: DataFrame, n: Int = 3,
      broadcastBench: Boolean = true): DataFrame = {
    val (grams, sizes) = gramSets(corpus, n)
    val benchGrams = bench
      .select(explode(TextOps.wordNgrams(TextOps.tokens(col("text")), n)).as("gram"))
      .distinct()
    val bg = if (broadcastBench) broadcast(benchGrams) else benchGrams
    grams.join(bg, "gram")
      .groupBy("doc_id").agg(count(lit(1)).as("overlap_grams"))
      .join(sizes, "doc_id")
      .select(col("doc_id"), col("overlap_grams"),
        col("sz").as("total_grams"),
        (col("overlap_grams").cast("double") / col("sz").cast("double"))
          .as("contamination"))
  }

  /**
   * Connected components over an undirected near-dup pair graph `(a, b)` —
   * the clustering step of a dedup pipeline: every member doc gets its
   * component's MIN doc id as `cluster`, so "keep one per cluster" is a
   * trivial filter afterwards.
   *
   * Distributed min-label propagation over a pair RDD of `(Long, Long)`,
   * the shape of GraphX's connected components. The adjacency is built
   * once (one shuffle, duplicate and reversed pairs collapsed map-side)
   * and keyed by node with a `HashPartitioner(defaultParallelism)` — not
   * `spark.sql.shuffle.partitions`: AQE does not coalesce RDD shuffles,
   * so a 20-pair graph would otherwise run 200 tasks per round. Each node
   * starts labelled with the min of its closed neighbourhood. A round is
   * ONE shuffle (nodes whose label changed last round send it to their
   * neighbours, `reduceByKey(min)` per receiver) joined narrowly to the
   * co-partitioned labels, and ONE action that both materializes the
   * round's `localCheckpoint` (lineage stays flat; blocks are
   * context-cleaned on GC) and counts the changed labels. Why RDDs: a
   * DataFrame loop pays a Catalyst planning pass per step and an AQE job
   * per shuffle — 18 Spark jobs to collect the clusters of 20 disjoint
   * pairs, against 2 here (one round, then the collect).
   *
   * Termination needs no round cap: labels only decrease and each is
   * bounded below by its component's min, so some round changes nothing.
   * Rounds = the eccentricity of the component's min node (the last round
   * changes nothing). Near-dup components are tiny, star-shaped clumps, so
   * this is a handful even at corpus scale; disjoint pairs take one round.
   * Pairs with a null endpoint are not edges and are ignored.
   */
  def duplicateClusters(pairs: DataFrame): DataFrame = {
    import pairs.sparkSession.implicits._
    clusterLabels(pairs)._1.toDF("doc_id", "cluster")
  }

  /** [[duplicateClusters]]' labels as `(node, label)` pairs, with the
    * node count: each round's one action counts nodes and changed labels
    * together, so the last round's count is free. */
  private def clusterLabels(pairs: DataFrame)
      : (org.apache.spark.rdd.RDD[(Long, Long)], Long) = {
    val spark = pairs.sparkSession
    val part = new org.apache.spark.HashPartitioner(spark.sparkContext.defaultParallelism)
    val adjacency = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .na.drop().rdd
      .flatMap { r => val a = r.getLong(0); val b = r.getLong(1); Iterator(a -> b, b -> a) }
      .aggregateByKey(Set.empty[Long], part)(_ + _, _ ++ _)
    // node -> (neighbours, label, label changed in the last round)
    var state = adjacency.mapPartitions(_.map { case (x, nbrs) =>
      val ns = nbrs.toArray
      (x, (ns, math.min(x, ns.min), true))
    }, preservesPartitioning = true)
    var counts = (0L, 1L) // (nodes, changed labels)
    while (counts._2 > 0) {
      val nbrMin = state
        .flatMap { case (_, (ns, label, chg)) =>
          if (chg) ns.iterator.map(_ -> label) else Iterator.empty }
        .reduceByKey(part, math.min(_, _))
      state = state.leftOuterJoin(nbrMin, part).mapValues {
        case ((ns, label, _), Some(m)) if m < label => (ns, m, true)
        case ((ns, label, _), _) => (ns, label, false)
      }.localCheckpoint()
      counts = state.aggregate((0L, 0L))(
        { case ((n, c), (_, (_, _, chg))) => (n + 1, if (chg) c + 1 else c) },
        { case ((n1, c1), (n2, c2)) => (n1 + n2, c1 + c2) })
    }
    (state.map { case (x, (_, label, _)) => (x, label) }, counts._1)
  }

  /** `df` broadcast when `rows` rows of its schema fit the session's
    * `spark.sql.autoBroadcastJoinThreshold`, by Spark's own per-row size
    * estimate (8 bytes of row overhead plus each column's default size).
    * For frames whose row count is known but whose plan carries no size
    * estimate (RDD-backed), which Spark would otherwise shuffle-join. */
  private def broadcastIfFits(df: DataFrame, rows: Long): DataFrame = {
    val limit = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (limit >= 0 && rows * (8L + df.schema.defaultSize) <= limit) broadcast(df)
    else df
  }

  /** Quality-aware dedup survivor selection — the step that turns a pair
    * graph into the deduped corpus: every duplicate cluster keeps its
    * best-scoring member (`score` descending, ties broken by lowest
    * doc_id); unclustered docs keep themselves. Returns every doc with
    * `(cluster, keep)` so callers can either filter `keep` for the
    * surviving corpus or audit what a drop would remove.
    *
    * Scale shape: clustering is [[duplicateClusters]] (RDD min-label
    * propagation, one job per round, one round for disjoint pairs); the
    * keeper choice is one window pass partitioned by cluster — near-dup
    * clusters are small clumps, so no partition skews. The last clustering
    * round counts the clustered nodes, so when that many (doc_id, cluster)
    * rows fit the broadcast threshold the cluster side is broadcast and
    * the docs side joins it without a shuffle (clustered docs ≪ corpus at
    * steady state); otherwise both sides shuffle. */
  def keepBest(docs: DataFrame, pairs: DataFrame,
      score: Column): DataFrame = {
    import docs.sparkSession.implicits._
    val (labels, nodes) = clusterLabels(pairs)
    val clusters = broadcastIfFits(labels.toDF("doc_id", "cluster"), nodes)
    val labeled = docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("cluster",
        coalesce(col("cluster"), col("doc_id").cast("long")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster"))
      .orderBy(score.desc, col("doc_id").asc)
    labeled.withColumn("_rk", row_number().over(w))
      .withColumn("keep", col("_rk") === 1).drop("_rk")
  }

  // --- MinHash + LSH ------------------------------------------------------

  /** k minhash values per shingle set, via k seeded murmur3 hashes. */
  def minhashSignature(shingles: Seq[String], k: Int): Array[Int] = {
    val sig = Array.fill(k)(Int.MaxValue)
    val distinct = shingles.distinct
    var i = 0
    while (i < distinct.length) {
      // UTF-8 encode each shingle ONCE; the k seeded permutations hash the
      // same bytes (bit-identical to hashStringSeed per permutation, k×
      // fewer encodings on the minhash family's hottest loop). Keep the k
      // independent murmurs: a cheap 2-universal multiply-shift family was
      // tried and MEASURED to collapse banding recall (530 -> 60 verified
      // pairs at sf1) — 2-universal is not min-wise independent enough
      // for near-dup banding, and signatures are persisted (q127's store)
      // so the family is part of the on-disk contract.
      val b = distinct(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var p = 0
      while (p < k) {
        val h = Murmur3.hashBytes(b, 0, b.length, p * 0x9e3779b1 + 0x85ebca77)
        if (h < sig(p)) sig(p) = h
        p += 1
      }
      i += 1
    }
    sig
  }

  /**
   * MinHash-LSH candidate pairs, verified with exact n-gram Jaccard.
   * `bands` × `rows` = signature length. A pair is a candidate when any
   * band agrees; candidates are then verified against `threshold` using
   * the true gram sets (so false positives never escape; false negatives
   * follow the standard LSH S-curve).
   */
  /** Distinct word n-grams of `text`, first-occurrence order —
    * bit-identical to the builtin chain
    * `array_distinct(wordNgramsRaw(split(text, " "), n))` (split keeps
    * trailing empty tokens: Spark's `split` uses limit -1), but one tight
    * JVM loop instead of interpreted per-element HOF lambdas. Null when
    * the doc has no gram (the callers' `size(grams) > 0` filter). */
  private def distinctGrams(text: String, n: Int): Array[String] = {
    if (text == null) return null
    val toks = text.split(" ", -1)
    if (toks.length < n) return null
    val seen = new java.util.HashSet[String]()
    val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
    var i = 0
    while (i + n <= toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val g = sb.toString
      if (seen.add(g)) out += g
      i += 1
    }
    out.toArray
  }

  /** Gram + MinHash-signature prep shared by the full and incremental
    * LSH paths, and [[minhashLshPairsIncremental]]'s `freshPrepped` hook
    * shape: one `(doc_id, gh, sig)` row per doc — `gh` the doc's distinct
    * gram xxhash64 set (the verify tail's join payload), `sig` the
    * unpacked minhash signature. Exposed so a caller with an expensive
    * fresh plan can prep once, `persist()`, and hand the result in —
    * (n, bands, rows) must match the dedup call's or the band keys won't
    * align across the two sides.
    *
    * FUSED (round 21): text → (gh, sig) is ONE tight UDF pass. The
    * previous shape ran the interpreted wordNgrams HOF chain to build
    * gram STRINGS, a second UDF over them for the signature, and a third
    * (xxhashGrams) on the verify branch — three walks and one extra
    * UTF-8 encode per gram. Values are bit-identical: same gram strings
    * (distinctGrams ≡ the builtin chain), same signature kernel
    * (minhashSignature's seeded murmurs inlined over the same bytes, in
    * the same order), same verify-hash family (XXH64 seed 42 = the
    * xxhash64 builtin, first-occurrence distinct — dedup by hash ≡ dedup
    * by string short of a 64-bit collision, the documented contract). */
  def minhashPrep(docs: DataFrame, n: Int = 3, bands: Int = 16,
      rows: Int = 4): DataFrame = {
    val k = bands * rows
    val prepUdf = udf((text: String) => {
      val grams = distinctGrams(text, n)
      if (grams == null || grams.isEmpty) null
      else {
        val sig = Array.fill(k)(Int.MaxValue)
        val seenH = new java.util.HashSet[Long]()
        val gh = new scala.collection.mutable.ArrayBuffer[Long](grams.length)
        var i = 0
        while (i < grams.length) {
          // UTF-8 encode each gram ONCE for both hash families
          val b = grams(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
          var p = 0
          while (p < k) { // minhashSignature's exact kernel and seeds
            val h = Murmur3.hashBytes(b, 0, b.length, p * 0x9e3779b1 + 0x85ebca77)
            if (h < sig(p)) sig(p) = h
            p += 1
          }
          val x = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              b.length, 42L)
          if (seenH.add(x)) gh += x
          i += 1
        }
        (gh.toArray, sig)
      }
    })
    // gram-less docs are dropped by a CHEAP builtin pre-filter — exactly
    // the UDF's null condition (distinctGrams: text null or token count
    // < n; toks.length >= n guarantees >= 1 gram) — NOT by filtering on
    // `p.isNotNull`: Catalyst pushes that below the collapsed projects as
    // isnotnull(UDF(text)), and FilterExec + ProjectExec each evaluate the
    // UDF (codegen subexpression elimination does not span operators), so
    // the expensive prep ran 2x per row (measured in r21: 10000
    // invocations for 5000 rows, map stage 0.58 -> 0.38 s pre-filtered;
    // QueriesSpec's plan lint fails on the pushed-down form)
    docs
      .filter(col("text").isNotNull &&
        size(split(col("text"), " ", -1)) >= n)
      .select(col("doc_id"), prepUdf(col("text")).as("p"))
      .select(col("doc_id"), col("p._1").as("gh"), col("p._2").as("sig"))
  }

  /** A `freshPrepped` frame must be [[minhashPrep]]'s output. Older prep
    * frames carried `(doc_id, grams, sig)`; reading one by name would fail
    * deep in analysis, or match the wrong column silently. */
  private def requirePrepShape(df: DataFrame): Unit = {
    def elem(name: String) = df.schema.find(_.name == name).map(_.dataType)
      .collect { case org.apache.spark.sql.types.ArrayType(e, _) => e }
    if (!df.columns.contains("doc_id") ||
        !elem("gh").contains(org.apache.spark.sql.types.LongType) ||
        !elem("sig").contains(org.apache.spark.sql.types.IntegerType))
      throw new IllegalArgumentException(
        "freshPrepped must have the minhashPrep(fresh, n, bands, rows) shape " +
        "(doc_id, gh: array<bigint>, sig: array<int>); got " +
        df.schema.simpleString)
  }

  /** Shared exact-verify tail of the MinHash-LSH family over PRE-HASHED gram sets `(doc_id, gh:
    * array<long>)`. Callers that still hold raw text build `gh` with
    * [[TextOps.gramHashes]] (one tight UDF pass) instead of the
    * wordNgrams HOF chain — Spark's higher-order-function lambdas
    * evaluate interpreted per element, and the r20 probe measured the
    * HOF gram prep at ~3 s of q127's ~4.9 s total for under a thousand
    * verify-touched docs. Both join sides must draw `gh` from the same
    * hash family or intersections go empty. */
  private def verifyJaccardHashed(cand: DataFrame, sets: DataFrame,
      threshold: Double): DataFrame =
    cand
      .join(sets.select(col("doc_id").as("a"), col("gh").as("ga")), "a")
      .join(sets.select(col("doc_id").as("b"), col("gh").as("gb")), "b")
      .select(col("a"), col("b"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** Band keys for an UNPACKED signature (array<int>): pack each band's
    * `rows` ints big-endian into a scratch buffer and murmur3 the bytes —
    * one tight loop per row, zero per-band String/slice allocation (the
    * previous `slice.mkString` derivation built a String per band per doc
    * on the banding map stage, the minhash family's widest). Big-endian
    * packing makes the key bit-identical to [[minhashLshPairsFromStore]]'s
    * binary-sig derivation for the same signature, so in-memory and
    * store-read banding agree. Key derivation only affects CANDIDATE sets
    * (equal band slices collide under any deterministic hash; extras are
    * removed by the exact verify), so pair results are unchanged. */
  private def intBandKeys(bands: Int, rows: Int) = udf((sig: Seq[Int]) => {
    val w = 4 * rows
    val buf = new Array[Byte](w)
    val out = new Array[Long](bands)
    var bd = 0
    while (bd < bands) {
      var r = 0
      while (r < rows) {
        val v = sig(bd * rows + r)
        buf(4 * r) = (v >>> 24).toByte
        buf(4 * r + 1) = (v >>> 16).toByte
        buf(4 * r + 2) = (v >>> 8).toByte
        buf(4 * r + 3) = v.toByte
        r += 1
      }
      out(bd) = bd.toLong << 32 |
        (Murmur3.hashBytes(buf, 0, w, 0).toLong & 0xffffffffL)
      bd += 1
    }
    out
  })

  def minhashLshPairs(docs: DataFrame, n: Int = 3, bands: Int = 16, rows: Int = 4,
                      threshold: Double = 0.5): DataFrame = {
    val withSig = minhashPrep(docs, n, bands, rows)
    val banded = withSig.select(col("doc_id"),
      explode(intBandKeys(bands, rows)(col("sig"))).as("band"))
    val cand = banded.as("x").join(banded.as("y"), Seq("band"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    // verify candidates with exact Jaccard on the gram sets, NOT
    // semi-joined down to candidate-touched docs. A semi-join whose
    // `touched` derived from the un-materialized `cand` re-ran the
    // candidate subtree (band join + distinct + the corpus signature UDF)
    // and measured slower than joining the pruned gram column: +18% on
    // q34, +36% on q125. Here every doc is already signed, so pruning
    // saves no read. FromStore prunes a text READ instead, with a touched
    // set drawn from candidates it materializes and counts once, and
    // broadcast when it fits, so it pays no recomputation.
    val sets = withSig.select(col("doc_id"), col("gh"))
    verifyJaccardHashed(cand, sets, threshold)
  }

  /** Incremental MinHash+LSH near-dup: banded candidate pairs touching a
    * FRESH document, verified with exact Jaccard — the [[minhashLshPairs]]
    * twin for the steady-state append path. The band join is fresh×all,
    * so corpus bands never self-join: at steady state (increment ≪
    * corpus) the fresh banded side is increment-sized (broadcast-able)
    * and candidate volume tracks the increment, while the corpus pays
    * only its banding map work. `corpus` and `fresh` must have disjoint
    * `doc_id`s. Signature computation is referenced from both the banding
    * and the verify joins, but the verify side prunes to the gram column,
    * so the k-hash signature UDF runs once per side.
    *
    * Without `freshPrepped`, the fresh side's gram/signature prep is
    * re-evaluated by each consumer (band-join build side, union, verify
    * sets) — deliberate: it is increment-sized map work, and a library op
    * that silently `cache()`s leaks executor memory with no unpersist
    * point. Callers with an expensive fresh plan should pass
    * `freshPrepped = Some(minhashPrep(fresh, n, bands, rows).persist())`
    * (same parameters!) and unpersist it themselves afterwards; `fresh`
    * is then ignored. Same contract as
    * [[embeddingNearDupIncremental]]'s `freshBanded`. */
  def minhashLshPairsIncremental(corpus: DataFrame, fresh: DataFrame,
      n: Int = 3, bands: Int = 16, rows: Int = 4,
      threshold: Double = 0.5,
      freshPrepped: Option[DataFrame] = None): DataFrame = {
    val bandUdf = intBandKeys(bands, rows)
    def banded(w: DataFrame) =
      w.select(col("doc_id"), explode(bandUdf(col("sig"))).as("band"))
    val cw = minhashPrep(corpus, n, bands, rows)
    freshPrepped.foreach(requirePrepShape)
    val fw = freshPrepped.getOrElse(minhashPrep(fresh, n, bands, rows))
    val fb = banded(fw)
    val all = banded(cw).unionByName(fb)
    val lt = col("x.doc_id") < col("y.doc_id")
    val cand = fb.as("x").join(all.as("y"), Seq("band"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(
        when(lt, col("x.doc_id")).otherwise(col("y.doc_id")).as("a"),
        when(lt, col("y.doc_id")).otherwise(col("x.doc_id")).as("b"))
      .distinct()
    // not semi-joined to candidate-touched docs — see minhashLshPairs: a
    // touched set derived from the un-materialized `cand` re-ran the
    // candidate subtree and measured slower than the pruned-gram join on
    // both the full and incremental paths
    val sets = cw.select(col("doc_id"), col("gh"))
      .unionByName(fw.select(col("doc_id"), col("gh")))
    verifyJaccardHashed(cand, sets, threshold)
  }

  /** MinHash signatures packed for PERSISTENCE: one `(doc_id, sig)` row
    * per doc, `sig` = k big-endian 4-byte ints as BINARY. Persist these
    * as a table (graft or plain parquet) and EXTEND it per increment —
    * the standing corpus' signatures are then computed exactly once over
    * the pipeline's lifetime instead of once per dedup run, which is the
    * difference between an increment-scaled job and re-hashing 100 TB of
    * text every night. Consumed by [[minhashLshPairsFromStore]]. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, bands: Int = 16,
      rows: Int = 4): DataFrame = {
    val k = bands * rows
    // fused text → packed signature, one tight UDF pass (round 21) — the
    // previous shape ran the interpreted wordNgrams HOF chain to build
    // gram strings and a second UDF over them; values are bit-identical
    // (distinctGrams ≡ the builtin chain, minhashSignature unchanged)
    val sigUdf = udf((text: String) => {
      val grams = distinctGrams(text, n)
      if (grams == null || grams.isEmpty) null
      else {
        val sig = minhashSignature(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(grams), k)
        val bb = java.nio.ByteBuffer.allocate(4 * sig.length)
        sig.foreach(bb.putInt)
        bb.array()
      }
    })
    // same cheap pre-filter as minhashPrep instead of isNotNull on the
    // UDF output — the pushed-down isnotnull(UDF(text)) evaluated the
    // signature UDF twice per row (QueriesSpec's plan lint fails on it)
    docs
      .filter(col("text").isNotNull &&
        size(split(col("text"), " ", -1)) >= n)
      .select(col("doc_id"), sigUdf(col("text")).as("sig"))
  }

  /** Incremental MinHash near-dup against a persisted signature store:
    * only the FRESH side pays signature computation (the store rows are
    * read back packed), the band join is fresh×(store ∪ fresh) so the
    * store never self-joins, and exact-Jaccard verification streams
    * `texts` once through a semi-join on the candidate-touched doc_ids
    * (broadcast when they fit), so only those docs are gram-hashed and no
    * text is shuffled. Same answer as
    * [[minhashLshPairsIncremental]] with the same parameters; `storeSigs`
    * must hold the CORPUS only (append the fresh signatures after the
    * run), with `(doc_id, sig)` from [[minhashSignatures]] at the same
    * (n, bands, rows). */
  def minhashLshPairsFromStore(storeSigs: DataFrame, fresh: DataFrame,
      texts: DataFrame, n: Int = 3, bands: Int = 16, rows: Int = 4,
      threshold: Double = 0.5,
      freshSigs: Option[DataFrame] = None): DataFrame = {
    // band key = murmur3 of the band's 4·rows sig bytes, hashed IN PLACE —
    // the store packs sig ints big-endian, so each band is a contiguous
    // slice of the binary column and no per-row ByteBuffer/unpack/
    // mkString/string-hash allocation is needed (the old derivation built
    // a String per band per row on the corpus-scale side of the band
    // join; r20 A/B at sf0.1 has the numbers). Key derivation only
    // affects CANDIDATE sets (equal slices still collide under any
    // deterministic hash; extras are removed by the exact-Jaccard
    // verify), so the result rows are unchanged.
    val bandUdf = udf((sig: Array[Byte]) => {
      val w = 4 * rows
      val out = new Array[Long](bands)
      var bd = 0
      while (bd < bands) {
        out(bd) = bd.toLong << 32 |
          (Murmur3.hashBytes(sig, bd * w, w, 0).toLong & 0xffffffffL)
        bd += 1
      }
      out
    })
    def banded(w: DataFrame) =
      w.select(col("doc_id"), explode(bandUdf(col("sig"))).as("band"))
    // same single-evaluation hook contract as freshPrepped/freshFps/
    // freshBanded: the fresh banding feeds both the union and the
    // candidate join, so callers with an expensive fresh plan hand in
    // `minhashSignatures(fresh, n, bands, rows).persist()` (same
    // parameters!) and unpersist it afterwards; these ARE the rows to
    // append to the store after the run, so most callers persist anyway.
    // MEASURE before adopting: the win is scale-dependent — at small
    // scale the signature UDF re-evaluation dominates (persist saved a
    // third of q127 at sf0.1), but at 10x the same persist REGRESSED the
    // query ~45% (the larger plan already reuses the fresh subtree; the
    // cache barrier adds cost and hides stats from the planner)
    val fb = banded(freshSigs.getOrElse(minhashSignatures(fresh, n, bands, rows)))
    val all = banded(storeSigs.select(col("doc_id"), col("sig"))).unionByName(fb)
    val lt = col("x.doc_id") < col("y.doc_id")
    // the candidate set is MATERIALIZED once, and counted in the same
    // action (an RDD local checkpoint: one job, and the blocks are
    // context-cleaned on GC): it feeds the verify join and the touched-doc
    // semi-join, and each would otherwise re-run the band join over the
    // corpus-scale store. Candidates are increment-scaled (pairs of
    // longs), so the materialization is tiny at any corpus size.
    val (cand, nCand) = checkpointCounted(fb.as("x").join(all.as("y"), Seq("band"))
      .filter(col("x.doc_id") =!= col("y.doc_id"))
      .select(
        when(lt, col("x.doc_id")).otherwise(col("y.doc_id")).as("a"),
        when(lt, col("y.doc_id")).otherwise(col("x.doc_id")).as("b"))
      .distinct())
    // the touched docs, duplicates kept (a semi-join needs no distinct):
    // 2 ids per candidate, broadcast when they fit, so the corpus streams
    // through a map-side semi-join and its text is never shuffled
    val touched = broadcastIfFits(
      cand.select(explode(array(col("a"), col("b"))).as("doc_id")), 2 * nCand)
    // gramHashes (one tight UDF pass over the text) replaces the
    // wordNgrams HOF chain + per-gram xxhash64: Jaccard over distinct
    // hashed grams equals the string answer short of a 64-bit collision
    // inside one pair's union (~1e-9) — the same documented contract as
    // [[jaccardPairsFast]], and the same hash family on both join sides.
    // Both verify joins read this one subtree; their exchanges over it
    // are equal, so Spark reuses one and the corpus is scanned, and each
    // touched doc hashed, once.
    val sets = texts.join(touched, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), TextOps.gramHashes(n)(col("text")).as("gh"))
    verifyJaccardHashed(cand, sets, threshold)
  }

  /** `df` materialized once by an RDD local checkpoint whose one action
    * also counts its rows. The returned frame is RDD-backed, with no size
    * estimate. */
  private def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val rows = df.rdd.localCheckpoint()
    val n = rows.count()
    (df.sparkSession.createDataFrame(rows, df.schema), n)
  }

  // --- embedding-cosine near-dup ------------------------------------------

  /**
   * Exact embedding near-duplicate pairs (cosine >= threshold) — the
   * small-scale oracle baseline, a broadcast nested-loop pair join. Use
   * `embeddingNearDupLsh` as the scale path (same relationship as
   * Similarity.cosineTopK ↔ lshTopK).
   */
  def embeddingNearDupExact(emb: DataFrame, threshold: Double): DataFrame = {
    import graft.ops.{Similarity => S}
    val a = emb.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val b = emb.select(col("vec_id").as("b"), col("embedding").as("eb"))
    a.crossJoin(b).filter(col("a") < col("b"))
      .select(col("a"), col("b"), S.cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /**
   * LSH-bucketed embedding near-dup pairs: candidates share a
   * random-hyperplane bucket in ANY of nTables tables (shuffle volume
   * O(rows × nTables) bucket keys, never O(rows²)); candidates are verified
   * with exact cosine so false positives never escape. Recall follows the
   * LSH S-curve — measured against the exact baseline in OpsSpec.
   */
  def embeddingNearDupLsh(emb: DataFrame, threshold: Double,
      nTables: Int = 24, nBits: Int = 6): DataFrame = {
    import graft.ops.{Similarity => S}
    val bucketsUdf = udf((v: Seq[Float]) => S.lshBuckets(v, nTables, nBits))
    val banded = emb.select(col("vec_id"), col("embedding"),
      explode(bucketsUdf(col("embedding"))).as("bucket"))
    val cand = banded.as("x").join(banded.as("y"), Seq("bucket"))
      .filter(col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"),
        col("x.embedding").as("ea"), col("y.embedding").as("eb"))
    // verify BEFORE deduplicating: a pair surfacing from k shared buckets
    // recomputes its cosine k times map-side (k ≤ nTables, O(dim) each),
    // but the dedup shuffle then carries only threshold-passing
    // (a, b, cos) rows — not every candidate with BOTH embedding arrays
    // in tow. At corpus scale the shuffle-byte saving dwarfs the
    // duplicate dot products.
    cand.select(col("a"), col("b"), S.cosine(col("ea"), col("eb")).as("cos"))
      .filter(col("cos") >= threshold)
      .dropDuplicates("a", "b")
  }

  // --- SimHash near-dup ---------------------------------------------------

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /**
   * SimHash near-dup pairs: candidates share one of four 16-bit bands
   * (any pair within Hamming distance 3 shares at least one band by
   * pigeonhole); verified by exact Hamming distance <= maxHamming.
   */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val fp = simhashFingerprints(docs)
    val banded = fp.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), shiftrightunsigned(col("fp"), i * 16).bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
    val hammingUdf = udf((a: Long, b: Long) => hamming64(a, b))
    banded.as("x").join(banded.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        hammingUdf(col("x.fp"), col("y.fp")).as("hamming"))
      // verify BEFORE deduplicating (same rationale as embeddingNearDupLsh):
      // a pair can surface from up to 4 shared bands, but the dedup shuffle
      // should carry only Hamming-passing rows, not every candidate
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash fingerprint prep, and [[simhashPairsIncremental]]'s
    * `freshFps` hook shape: one `(doc_id, fp)` row per doc. Exposed so a
    * caller with an expensive fresh plan can fingerprint once,
    * `persist()`, and hand the result in. */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      TextOps.simhashUdf(TextOps.tokens(col("text"))).as("fp"))

  /** Incremental SimHash near-dup: pairs within `maxHamming` bits that
    * touch a FRESH document — [[simhashPairs]]' steady-state twin. The
    * 16-bit band join is fresh×all, so corpus bands never self-join; by
    * pigeonhole a pair within 3 bits shares at least one of the 4 bands,
    * so recall is EXACT (same guarantee as the full path). `corpus` and
    * `fresh` must have disjoint `doc_id`s.
    *
    * Without `freshFps`, the fresh side's fingerprint UDF is re-evaluated
    * by each consumer (band-join build side and union) — deliberate, same
    * no-silent-cache contract as [[embeddingNearDupIncremental]]'s
    * `freshBanded`. Callers with an expensive fresh plan should pass
    * `freshFps = Some(simhashFingerprints(fresh).persist())` and
    * unpersist it themselves afterwards; `fresh` is then ignored. */
  def simhashPairsIncremental(corpus: DataFrame, fresh: DataFrame,
      maxHamming: Int = 3, freshFps: Option[DataFrame] = None): DataFrame = {
    def banded(w: DataFrame) = w.select(col("doc_id"), col("fp"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("band"), shiftrightunsigned(col("fp"), i * 16)
          .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
    val fb = banded(freshFps.getOrElse(simhashFingerprints(fresh)))
    val all = banded(simhashFingerprints(corpus)).unionByName(fb)
    val hammingUdf = udf((a: Long, b: Long) => hamming64(a, b))
    val lt = col("x.doc_id") < col("y.doc_id")
    fb.as("x").join(all.as("y"),
        col("x.bk") === col("y.bk") && col("x.doc_id") =!= col("y.doc_id"))
      .select(
        when(lt, col("x.doc_id")).otherwise(col("y.doc_id")).as("a"),
        when(lt, col("y.doc_id")).otherwise(col("x.doc_id")).as("b"),
        hammingUdf(col("x.fp"), col("y.fp")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
