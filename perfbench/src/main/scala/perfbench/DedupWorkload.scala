package perfbench

import graft.format.{Commits, GraftTable, GraftWrite}
import graft.ops.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `dedup`: the steady state of the LLM-pipeline dedup operators. A
  * corpus table of 5,000 documents (the size of the sf0.1 document set
  * graft's own queries use) and its persisted MinHash signature store take one
  * seeded document increment per op: fresh texts, planted near-copies of
  * corpus documents (one token edit, word-3-gram Jaccard >= 0.9 by
  * construction) and exact copies. Each op signs the increment
  * (`Dedup.minhashSignatures`), finds pairs against the store
  * (`Dedup.minhashLshPairsFromStore`), picks survivors (`Dedup.keepBest`)
  * and appends them to the corpus and their signatures to the store.
  * After each op, outside the clock, both tables are rolled back to their
  * set-up snapshot and the op's files are removed, so every op meets the
  * same tables whatever the number of ops before it. The answer is
  * checked with the benchmark's own word-3-gram Jaccard: every planted
  * copy must be reported, every reported pair must reach the threshold,
  * and exactly the unplanted documents survive. */
final class DedupWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import DedupWorkload._

  private val vocab: IndexedSeq[String] = {
    val r = Common.rng(seed, Common.DataStream)
    (0 until VocabSize).map(_ => Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(6)).mkString).distinct
  }

  private var input = ""
  private var corpusLoc = ""
  private var storeLoc = ""
  /** The set-up snapshot of the corpus and of the store. */
  private var snaps = (0L, 0L)
  /** The corpus documents by id: what copies are planted from. */
  private val corpus = mutable.LongMap.empty[Array[String]]
  private var ids = Vector.empty[Long]
  private var nextId = CorpusDocs + 1L
  /** Files under both tables when the current op started. */
  private var known = Set.empty[String]
  private var writtenBytes = 0L
  private var ingested = 0L
  private val spaceAmps = mutable.ArrayBuffer.empty[Double]

  private def freshDoc(r: java.util.Random): Array[String] =
    Array.fill(MinTokens + r.nextInt(MaxTokens - MinTokens))(vocab(r.nextInt(vocab.size)))

  private def frame(docs: Seq[(Long, Array[String])]) =
    spark.createDataFrame(docs.map { case (id, toks) => Row(id, toks.mkString(" ")) }.asJava, Schema)

  private def tableFiles(): Seq[java.io.File] = Common.files(corpusLoc) ++ Common.files(storeLoc)

  override def makeInputs(dir: String): Unit = {
    input = s"$dir/corpus"
    val r = Common.rng(seed, Common.DataStream, 1)
    (1 to CorpusDocs).foreach(i => corpus(i.toLong) = freshDoc(r))
    ids = corpus.keys.toVector.sorted
    frame(ids.map(id => id -> corpus(id))).write.parquet(input)
  }

  def setup(dir: String): Unit = {
    corpusLoc = s"$dir/tables/db/corpus"
    storeLoc = s"$dir/tables/db/signatures"
    val docs = spark.read.parquet(input)
    val corpusT = GraftTable.create(spark, corpusLoc, Schema)
    GraftWrite.append(corpusT, docs)
    val sigs = Dedup.minhashSignatures(docs, Gram, Bands, Rows)
    val storeT = GraftTable.create(spark, storeLoc, sigs.schema)
    GraftWrite.append(storeT, sigs)
    snaps = (corpusT.currentSnapshot.get.snapshotId, storeT.currentSnapshot.get.snapshotId)
    known = tableFiles().map(_.getPath).toSet
  }

  def cycle: Int = 1
  override def warmupCycles: Int = 4
  def kindOf(i: Int): String = "increment"

  /** Draws the increment (fresh documents, near-copies and exact copies),
    * then returns the op that deduplicates it against the tables. */
  def op(i: Int): Clock => (() => Option[String]) = {
    val r = Common.rng(seed, Common.OpStream, i)
    // copies have distinct sources, so every duplicate cluster is one pair
    val sources = Iterator.continually(ids(r.nextInt(ids.size))).distinct
      .take(NearCopies + ExactCopies).toVector
    val first = nextId
    val planted = sources.zipWithIndex.map { case (src, j) => (first + j, src) } // (copy, source)
    val inc = (0 until IncrementDocs).map { j =>
      val toks =
        if (j < NearCopies) nearCopy(corpus(sources(j)), r)
        else if (j < NearCopies + ExactCopies) corpus(sources(j)).clone()
        else freshDoc(r)
      (first + j) -> toks
    }
    nextId += IncrementDocs
    val incText = inc.toMap
    val fresh = frame(inc)
    ingested += inc.map { case (_, toks) => 8L + toks.mkString(" ").length }.sum
    val plantedIds = planted.map(_._1).toSet
    val wantSurvivors = inc.map(_._1).filterNot(plantedIds.contains).toSet

    t => {
      val corpusT = Common.load(t, spark, corpusLoc)
      val storeT = Common.load(t, spark, storeLoc)
      val freshSigs = t.span("ops.dedup.sign")(
        Dedup.minhashSignatures(fresh, Gram, Bands, Rows).localCheckpoint())
      val pairs = t.span("ops.dedup.pairs")(Dedup.minhashLshPairsFromStore(storeT.toDF(), fresh,
        corpusT.toDF().unionByName(fresh), Gram, Bands, Rows, Threshold, Some(freshSigs))
        .select(col("a"), col("b")).collect().map(p => (p.getLong(0), p.getLong(1))).toSeq)
      tr.add("ops.dedup.pairs", pairs.size)
      val survivors = t.span("ops.dedup.keep") {
        val pairDf = spark.createDataFrame(pairs.map { case (a, b) => Row(a, b) }.asJava, PairSchema)
        val touched = pairs.flatMap { case (a, b) => Seq(a, b) }
        val docs = spark.createDataFrame((inc.map(_._1) ++ touched).distinct.map(Row(_)).asJava, IdSchema)
        Dedup.keepBest(docs, pairDf, -col("doc_id"))
          .filter(col("keep") && col("doc_id") >= first)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      t.span("ops.dedup.store_append") {
        val keep = survivors.toSeq
        GraftWrite.append(corpusT, fresh.filter(col("doc_id").isin(keep: _*)))
        GraftWrite.append(storeT, freshSigs.filter(col("doc_id").isin(keep: _*)))
      }

      () => {
        def text(id: Long) = incText.getOrElse(id, corpus(id))
        val reported = pairs.toSet
        val missed = planted.map { case (c, s) => (math.min(c, s), math.max(c, s)) }
          .filterNot(reported.contains)
        val weak = pairs.filter { case (a, b) => jaccard(text(a), text(b)) < Threshold }
        if (missed.nonEmpty) Some(s"planted copies not reported: ${missed.take(5)}")
        else if (weak.nonEmpty) Some(s"pairs below Jaccard $Threshold: ${weak.take(5)}")
        else if (survivors != wantSurvivors)
          Some(s"survivors ${survivors.size} != expected ${wantSurvivors.size}")
        else None
      }
    }
  }

  /** Counts the bytes the op wrote and the table's space amplification,
    * then puts both tables back to their set-up state: roll back to the
    * set-up snapshot, expire every other snapshot, and delete every file
    * the set-up did not make except the current metadata. */
  override def afterOp(i: Int): Unit = {
    val now = tableFiles()
    writtenBytes += now.filterNot(f => known.contains(f.getPath)).map(_.length).sum
    val live = (GraftTable.load(spark, corpusLoc).newScan().planFiles().files ++
      GraftTable.load(spark, storeLoc).newScan().planFiles().files).map(_.fileSizeInBytes).sum
    spaceAmps += now.map(_.length).sum.toDouble / math.max(1L, live)
    Seq(corpusLoc -> snaps._1, storeLoc -> snaps._2).foreach { case (loc, snap) =>
      val g = GraftTable.load(spark, loc)
      Commits.rollbackTo(g, snap)
      Commits.expireSnapshots(g, System.currentTimeMillis(), retainLast = 0, collectOrphans = false)
      val keep = Common.currentMetadata(loc).getPath
      Common.files(loc).filterNot(f => f.getPath == keep || known.contains(f.getPath)).foreach(_.delete())
    }
    known = tableFiles().map(_.getPath).toSet
  }

  /** One token substituted, inserted or dropped, redrawn until the copy is
    * within Jaccard 0.9 of its source. */
  private def nearCopy(src: Array[String], r: java.util.Random): Array[String] = {
    var out = src
    do {
      val at = 1 + r.nextInt(src.length - 2)
      val w = vocab(r.nextInt(vocab.size))
      out = r.nextInt(3) match {
        case 0 => src.updated(at, w)
        case 1 => (src.take(at) :+ w) ++ src.drop(at)
        case _ => src.take(at) ++ src.drop(at + 1)
      }
    } while (jaccard(out, src) < 0.9 || out.sameElements(src))
    out
  }

  override def extraMetrics(samples: Seq[Sample], windowSecs: Double): Seq[Metric] = Seq(
    Metric("docs_per_s", samples.size * IncrementDocs / windowSecs, "1/s"),
    Metric("write_amp", writtenBytes.toDouble / math.max(1L, ingested), "ratio"),
    Metric("space_amp", Sample.median(spaceAmps.toSeq), "ratio"))
}

object DedupWorkload {
  val VocabSize = 4000
  /** Document lengths in tokens, [MinTokens, MaxTokens). One substituted
    * token must keep a copy within Jaccard 0.9: (n - 5) / (n + 1) >= 0.9
    * needs n >= 59. */
  val MinTokens = 60
  val MaxTokens = 100
  val CorpusDocs = 5000
  /** One increment is 1% of the corpus: 30 fresh documents, 12 near-copies
    * and 8 exact copies. */
  val IncrementDocs = 50
  val NearCopies = 12
  val ExactCopies = 8
  val Gram = 3
  val Bands = 32
  val Rows = 2
  val Threshold = 0.5

  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  val PairSchema: StructType = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
  val IdSchema: StructType = StructType(Seq(StructField("doc_id", LongType)))

  /** Word-3-gram Jaccard over distinct grams, the benchmark's own. */
  def jaccard(x: Array[String], y: Array[String]): Double = {
    def grams(t: Array[String]) = t.sliding(Gram).filter(_.length == Gram).map(_.mkString(" ")).toSet
    val (gx, gy) = (grams(x), grams(y))
    val union = (gx | gy).size
    if (union == 0) 0.0 else (gx & gy).size.toDouble / union
  }
}
