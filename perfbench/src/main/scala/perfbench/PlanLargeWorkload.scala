package perfbench

import graft.format.{Commits, DataFile, Exprs, FieldIds, FileContent, GraftTable}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.time.LocalDate

/** `plan_large`: planning only, the reference's design target (plan a
  * huge table from one node, from metadata alone). The table's metadata
  * holds [[PlanLargeWorkload.DataFiles]] data-file entries plus equality-
  * delete entries, several times graft's 200k-entry manifest cache, so
  * plans keep missing it. The entries are synthetic: day/bucket partition
  * tuples and column bounds, no data bytes (the reference's TableTestBase
  * fake files), committed with `Commits.fastAppend` and `Commits.rowDelta`
  * over many snapshots. Each op is `GraftTable.load` then
  * `newScan().filter(p).planFiles()`; Spark execution is bypassed. The
  * planned file counts are checked against the generator's own count. */
final class PlanLargeWorkload(spark: SparkSession, seed: Long, tr: Tracer) extends Workload {
  import PlanLargeWorkload._

  private val baseDay = LocalDate.of(2020, 1, 1).toEpochDay.toInt
  private val bucketOf: Long => Int = {
    val h = com.google.common.hash.Hashing.murmur3_32_fixed()
    u => (h.hashLong(u).asInt() & Integer.MAX_VALUE) % Buckets
  }

  // the generator's file list, in columns: what the expected counts use
  private val fDay = new Array[Int](DataFiles)
  private val fBucket = new Array[Int](DataFiles)
  private val fUserLo = new Array[Long](DataFiles)
  private val fVHi = new Array[Long](DataFiles)
  private val dDay = new Array[Int](DeleteFiles)
  private val dBucket = new Array[Int](DeleteFiles)
  locally {
    val rng = Common.rng(seed, Common.DataStream)
    var i = 0
    while (i < DataFiles) {
      fDay(i) = (i.toLong * Days / DataFiles).toInt
      fBucket(i) = rng.nextInt(Buckets)
      fUserLo(i) = rng.nextInt(Users - UserSpan).toLong
      fVHi(i) = rng.nextInt(1000000).toLong
      i += 1
    }
    // deletes ride on every fourth commit
    val daysPerCommit = Days / Snapshots
    var d = 0
    while (d < DeleteFiles) {
      dDay(d) = (4 * rng.nextInt(Snapshots / 4) + 3) * daysPerCommit + rng.nextInt(daysPerCommit)
      dBucket(d) = rng.nextInt(Buckets)
      d += 1
    }
  }

  private var loc = ""

  def setup(dir: String): Unit = {
    loc = s"$dir/tables/db/files"
    val t = GraftTable.create(spark, loc, Schema, _.day("d").bucket("user_id", Buckets),
      Map(Commits.ManifestTargetSizeKey -> ManifestTargetBytes.toString))
    val ids = FieldIds.nameToId(t.schema)
    val (uid, vid) = (ids("user_id"), ids("v"))
    def part(day: Int, bucket: Int): Map[String, Any] =
      Map("d_day" -> (baseDay + day), "user_id_bucket" -> bucket)
    val perCommit = DataFiles / Snapshots
    (0 until Snapshots).foreach { s =>
      // sorted by partition, so rolled manifests cover narrow day/bucket ranges
      val files = (s * perCommit until (s + 1) * perCommit).sortBy(i => (fDay(i), fBucket(i))).map { i =>
        DataFile(path = s"$loc/data/d=${fDay(i)}/b=${fBucket(i)}/f-$i.parquet",
          partition = part(fDay(i), fBucket(i)), recordCount = 1000L, fileSizeInBytes = 64L << 20,
          lowerBounds = Map(uid -> fUserLo(i), vid -> math.max(0L, fVHi(i) - VSpan)),
          upperBounds = Map(uid -> (fUserLo(i) + UserSpan), vid -> fVHi(i)))
      }
      val deletes = (0 until DeleteFiles).filter(d => dDay(d) / (Days / Snapshots) == s).map { d =>
        DataFile(path = s"$loc/data/d=${dDay(d)}/b=${dBucket(d)}/eq-$d.parquet",
          content = FileContent.EqualityDeletes, partition = part(dDay(d), dBucket(d)),
          recordCount = 10L, fileSizeInBytes = 4096L, equalityIds = Seq(uid))
      }
      if (deletes.isEmpty) Commits.fastAppend(t, files) else Commits.rowDelta(t, files, deletes)
    }
  }

  def cycle: Int = Kinds.size

  def kindOf(i: Int): String = {
    Common.cycleOrder(seed, i / Kinds.size, Kinds)(i % Kinds.size)
  }

  def op(i: Int): Clock => (() => Option[String]) = {
    val r = Common.rng(seed, Common.OpStream, i)
    val (filter, wantData, wantDeletes) = kindOf(i) match {
      case "point" =>
        val u = r.nextInt(Users).toLong
        val d1 = r.nextInt(Days - 3); val d2 = d1 + r.nextInt(3)
        val b = bucketOf(u)
        (Exprs.and(Exprs.equal("user_id", u), dayRange(d1, d2)),
          count(DataFiles)(j => fBucket(j) == b && fDay(j) >= d1 && fDay(j) <= d2 &&
            fUserLo(j) <= u && u <= fUserLo(j) + UserSpan),
          count(DeleteFiles)(j => dBucket(j) == b && dDay(j) >= d1 && dDay(j) <= d2))
      case "days" =>
        val d1 = r.nextInt(Days - 2); val d2 = d1 + 1
        (dayRange(d1, d2), count(DataFiles)(j => fDay(j) >= d1 && fDay(j) <= d2),
          count(DeleteFiles)(j => dDay(j) >= d1 && dDay(j) <= d2))
      case "full" =>
        val v = 1000000L - r.nextInt(VSpan.toInt)
        (Exprs.gtEq("v", v), count(DataFiles)(j => fVHi(j) >= v), DeleteFiles)
    }
    t => {
      val g = Common.load(t, spark, loc)
      val plan = t.span("format.plan")(g.newScan().filter(filter).planFiles())
      tr.add("format.plan.delete_files", plan.deleteFiles.size)
      val (gotData, gotDeletes) = (plan.tasks.size, plan.deleteFiles.size)
      () => if (gotData == wantData && gotDeletes == wantDeletes) None
        else Some(s"planned $gotData data / $gotDeletes delete files, expected $wantData / $wantDeletes")
    }
  }

  private def dayRange(d1: Int, d2: Int) = Exprs.and(
    Exprs.gtEq("d", LocalDate.ofEpochDay(baseDay + d1)), Exprs.ltEq("d", LocalDate.ofEpochDay(baseDay + d2)))

  private def count(n: Int)(p: Int => Boolean): Int = {
    var c = 0; var j = 0
    while (j < n) { if (p(j)) c += 1; j += 1 }
    c
  }
}

object PlanLargeWorkload {
  val DataFiles = 450000
  val DeleteFiles = 2000
  val Snapshots = 40
  val Days = 120
  val Buckets = 16
  val Users = 1000000
  val UserSpan = 125000
  val VSpan = 100000L
  val ManifestTargetBytes: Long = 256L * 1024
  val Kinds: Vector[String] = Vector("point", "point", "point", "point", "days", "full")

  val Schema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("d", DateType), StructField("v", LongType)))
}
