package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Murmur3

/**
 * Approximate-nearest-neighbor / similarity search over an embedding
 * column (`array<float>`).
 *
 * Scale design:
 *  - `cosineTopK` (brute force) is the exactness baseline: a single
 *    narrow map over the table (query vector rides the closure — no
 *    shuffle) followed by a top-k, which Spark executes as per-partition
 *    partial top-k + driver merge (`TakeOrderedAndProject`) — no global
 *    sort, no full shuffle. This is the right plan even at 100 TB when k
 *    is small.
 *  - `lshTopK` buckets vectors by random-hyperplane signs (deterministic
 *    seeded planes). At scale the bucketed table is precomputed and
 *    bucket-partitioned, so a query probes only matching buckets —
 *    turning a full scan into a partition-pruned point lookup.
 *  - `ivfTopK` is the IVF variant: k-means-lite centroids (seeded,
 *    single-pass assignment) → probe the nProbe nearest centroids.
 */
object Similarity {

  /** Dot product of two equal-length vectors as a deterministic
    * left-to-right fold in double precision (codegen'd, no UDF). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k against a literal query vector. */
  def cosineTopK(emb: DataFrame, query: Array[Float], k: Int): DataFrame = {
    val q = array(query.map(v => lit(v)): _*)
    emb
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * murmur3 of the index pair mapped to (-1, 1). */
  def planeComponent(plane: Int, dim: Int): Double =
    Murmur3.hashLong(plane.toLong << 32 | (dim.toLong & 0xffffffffL)).toDouble / Int.MaxValue.toDouble

  /** Random-hyperplane bucket for one hash table (nBits sign bits). */
  def lshBucket(vec: Seq[Float], table: Int, nBits: Int): Int = {
    var bucket = 0
    var p = 0
    while (p < nBits) {
      var s = 0.0
      var d = 0
      while (d < vec.length) { s += vec(d) * planeComponent(table * 997 + p, d); d += 1 }
      if (s > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  /** One bucket id per hash table, packed as (table << 32 | bucket). */
  def lshBuckets(vec: Seq[Float], nTables: Int, nBits: Int): Seq[Long] =
    (0 until nTables).map(t => (t.toLong << 32) | (lshBucket(vec, t, nBits).toLong & 0xffffffffL))

  /**
   * Multi-table sign-LSH ANN top-k: a vector is a candidate when it shares
   * a bucket with the query (within `probeHamming` bit flips) in ANY of
   * `nTables` tables. Candidate check is a single narrow `arrays_overlap`
   * against a literal probe set — no shuffle, no explode. At warehouse
   * scale the bucket arrays are precomputed and exploded into a
   * bucket-partitioned index table so a probe reads only matching
   * partitions instead of scanning. Recall < 1 by construction; validated
   * against cosineTopK in OpsSpec.
   */
  def lshTopK(emb: DataFrame, query: Array[Float], k: Int,
              nTables: Int = 16, nBits: Int = 8, probeHamming: Int = 1): DataFrame = {
    val bucketsUdf = udf((v: Seq[Float]) => lshBuckets(v, nTables, nBits))
    val probed: Seq[Long] = (0 until nTables).flatMap { t =>
      val qb = lshBucket(query.toSeq, t, nBits)
      (0 until (1 << nBits)).filter(b => Integer.bitCount(b ^ qb) <= probeHamming)
        .map(b => (t.toLong << 32) | (b.toLong & 0xffffffffL))
    }
    val q = array(query.map(v => lit(v)): _*)
    emb
      .withColumn("buckets", bucketsUdf(col("embedding")))
      .filter(arrays_overlap(col("buckets"), typedLit(probed)))
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }

  /** Seeded deterministic centroids: nCentroids pseudo-random unit-ish
    * vectors of dimension dim — the k-means INIT (and the no-training
    * fallback when ivfTopK is called without trained centroids). */
  def centroid(c: Int, dim: Int): Array[Double] =
    Array.tabulate(dim)(d => planeComponent(c * 7919 + 13, d))

  def seededCentroids(nCentroids: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(nCentroids)(centroid(_, dim))

  private def nearestOf(vec: Seq[Float], cents: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.MinValue
    var c = 0
    while (c < cents.length) {
      val cen = cents(c)
      var s = 0.0
      var d = 0
      while (d < vec.length) { s += vec(d) * cen(d); d += 1 }
      if (s > bestDot) { bestDot = s; best = c }
      c += 1
    }
    best
  }

  /** Train IVF centroids: spherical k-means (assign by dot against
    * unit-normalized centroids — the cosine-correct variant) over a sample.
    *
    * Scale shape: each Lloyd pass is ONE distributed aggregation —
    * `mapPartitions` accumulates per-centroid (sum vector, count) partials
    * inside each task, and only those partials (k × dim doubles per task,
    * independent of corpus size) reduce to the driver. No shuffle of the
    * vectors themselves; `sampleFraction` bounds the scan cost at 100 TB.
    * Init is the deterministic seeded planes, so training is reproducible. */
  def trainCentroids(emb: DataFrame, nCentroids: Int, iters: Int = 5,
      sampleFraction: Double = 1.0): Array[Array[Double]] = {
    val vecs = emb.select(col("embedding")).rdd
      .map(_.getSeq[Float](0))
    val sampled =
      (if (sampleFraction >= 1.0) vecs
       else vecs.sample(withReplacement = false, sampleFraction, seed = 42L))
        .cache()
    try {
      val dim = sampled.first().length
      val k = nCentroids
      def normalized(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
      var cents = seededCentroids(k, dim).map(normalized)
      val sc = emb.sparkSession.sparkContext
      (0 until iters).foreach { _ =>
        val bc = sc.broadcast(cents)
        val (sums, counts) = sampled.mapPartitions { it =>
          val cs = bc.value
          val s = Array.ofDim[Double](cs.length, dim)
          val n = new Array[Long](cs.length)
          it.foreach { v =>
            val c = nearestOf(v, cs)
            var d = 0
            while (d < dim) { s(c)(d) += v(d); d += 1 }
            n(c) += 1
          }
          Iterator.single((s, n))
        }.reduce { case ((s1, n1), (s2, n2)) =>
          var c = 0
          while (c < s1.length) {
            var d = 0
            while (d < dim) { s1(c)(d) += s2(c)(d); d += 1 }
            n1(c) += n2(c)
            c += 1
          }
          (s1, n1)
        }
        bc.destroy()
        cents = Array.tabulate(k)(c =>
          // empty list keeps its seeded position (standard k-means practice)
          if (counts(c) == 0) cents(c) else normalized(sums(c)))
      }
      cents
    } finally { sampled.unpersist(); () }
  }

  /** IVF ANN: assign rows to their nearest centroid; probe the query's
    * nProbe nearest centroid lists with exact cosine. Pass `centroids` from
    * [[trainCentroids]] for a tuned index; omitting it falls back to the
    * seeded (untrained) planes. At warehouse scale the assignment column is
    * precomputed and the table bucket-partitioned by it, so a probe reads
    * only matching partitions. */
  def ivfTopK(emb: DataFrame, query: Array[Float], k: Int,
              nCentroids: Int = 16, nProbe: Int = 4,
              centroids: Option[Array[Array[Double]]] = None): DataFrame = {
    val cents = centroids.getOrElse(seededCentroids(nCentroids, query.length))
    require(cents.length == nCentroids, "centroid count mismatch")
    val assignUdf = udf((v: Seq[Float]) => nearestOf(v, cents))
    val qScores = cents.indices.map { c =>
      val cen = cents(c)
      c -> query.indices.map(d => query(d) * cen(d)).sum
    }
    val probed = qScores.sortBy(-_._2).take(nProbe).map(_._1)
    val q = array(query.map(v => lit(v)): _*)
    emb
      .withColumn("centroid", assignUdf(col("embedding")))
      .filter(col("centroid").isin(probed: _*))
      .select(col("vec_id"), cosine(col("embedding"), q).as("cos"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
  }
}
