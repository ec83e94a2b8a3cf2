package graft.format

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.Files
import scala.util.Random

/** [[DeleteIndex]] against the brute-force predicates it replaces, over
  * random plans: for every data file, the equality deletes it returns must
  * be exactly those with a newer sequence number that
  * [[Deletes.eqDeleteCanHit]] and [[Deletes.eqBoundsCanHit]] admit (below
  * and above the sweep cap), and the position deletes a superset of the
  * files that really target it — the same set except for multi-target
  * files, which attach by path range. Plans mix three specs (string,
  * binary and no partition), content-equal binary tuples held in distinct
  * arrays, null-only and stat-less keys, duplicate entries, single-target,
  * ranged and legacy position-delete files, and DVs. */
class DeleteIndexSpec extends SparkSpec {

  private val schema = FieldIds.assignFresh(StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("cat", StringType), StructField("bin", BinaryType))))
  private val idF = FieldIds.nameToId(schema)("id")
  private val nameF = FieldIds.nameToId(schema)("name")
  private val root = Files.createTempDirectory("graft-delindex").toString
  private lazy val conf = ParquetIO.writeConf(spark)

  /** A tuple under `spec`: 0 = identity(cat), 1 = identity(bin), 2 = none.
    * Binary values are fresh arrays, so equal tuples never share one. */
  private def tuple(r: Random, spec: Int): Map[String, Any] = spec match {
    case 0 => Map("cat" -> Seq("a", "b", null)(r.nextInt(3)))
    case 1 => Map("bin" -> Array[Byte](r.nextInt(3).toByte, 7))
    case _ => Map.empty
  }

  /** Random stats for key `id` of a file with `rows` rows: none, null-only,
    * bounded without nulls, bounded with nulls, or a null count only. */
  private def stats(r: Random, id: Int, rows: Long,
      nulls: Map[Int, Long], lo: Map[Int, Any], hi: Map[Int, Any])
      : (Map[Int, Long], Map[Int, Any], Map[Int, Any]) = {
    val (l, h): (Any, Any) =
      if (id == idF) { val a = r.nextInt(100).toLong; (a, a + r.nextInt(20)) }
      else {
        val a = ('a' + r.nextInt(20)).toChar
        (a.toString, (a + r.nextInt(6)).toChar.toString + "z")
      }
    r.nextInt(5) match {
      case 0 => (nulls, lo, hi)
      case 1 => (nulls + (id -> rows), lo, hi)
      case 2 => (nulls + (id -> 0L), lo + (id -> l), hi + (id -> h))
      case 3 => (nulls + (id -> 1L), lo + (id -> l), hi + (id -> h))
      case _ => (nulls + (id -> 0L), lo, hi)
    }
  }

  private def withStats(r: Random, f: DataFile, ids: Seq[Int]): DataFile = {
    val (n, l, h) = ids.foldLeft((Map.empty[Int, Long], Map.empty[Int, Any],
        Map.empty[Int, Any])) { case ((n0, l0, h0), id) =>
      stats(r, id, f.recordCount, n0, l0, h0)
    }
    f.copy(nullValueCounts = n, lowerBounds = l, upperBounds = h)
  }

  private def legacyFile(name: String, targets: Seq[String]): String = {
    val path = s"$root/$name.parquet"
    val w = ParquetIO.openWriter(path, StructType(Seq(
      StructField("file_path", StringType), StructField("pos", LongType))),
      conf, "snappy")
    targets.sorted.zipWithIndex.foreach { case (t, i) =>
      val row = new GenericInternalRow(2)
      row.update(0, UTF8String.fromString(t)); row.update(1, i.toLong)
      w.write(row)
    }
    w.close()
    path
  }

  /** One random plan: data files with sequence numbers, delete entries,
    * and the true targets of every position-delete file. */
  private def plan(r: Random, p: Int, eqCount: Int)
      : (Seq[(DataFile, Long)], Seq[(DataFile, Long)], Map[String, Set[String]]) = {
    val data = (0 until 5 + r.nextInt(30)).map { i =>
      val spec = r.nextInt(3)
      withStats(r, DataFile(path = f"/wh/t$p/data/f-$i%03d.parquet",
        partition = tuple(r, spec), specId = spec, recordCount = 10L),
        Seq(idF, nameF)) -> (1L + r.nextInt(6))
    }
    val paths = data.map(_._1.path)
    def somePath = paths(r.nextInt(paths.size))
    val eq = (0 until eqCount).map { j =>
      val spec = r.nextInt(2)
      val ids = Seq(Seq(idF), Seq(nameF), Seq(idF, nameF))(r.nextInt(3))
      withStats(r, DataFile(path = s"/wh/t$p/deletes/eq-$j.parquet",
        content = FileContent.EqualityDeletes, recordCount = 3L,
        partition = if (r.nextInt(3) == 0) Map.empty else tuple(r, spec),
        specId = spec, equalityIds = ids), ids) -> (1L + r.nextInt(6))
    }
    val targets = Map.newBuilder[String, Set[String]]
    val pos = (0 until r.nextInt(8)).map { j =>
      val path = s"/wh/t$p/deletes/pos-$j.parquet"
      val f = r.nextInt(5) match {
        case 0 => // single target, referenced (possibly a non-canonical spelling)
          val t = somePath
          targets += path -> Set(t)
          DataFile(path = path, referencedDataFile = Some(
            if (r.nextBoolean()) s"file:$t" else t),
            lowerBounds = Map(Deletes.PathFieldId -> t),
            upperBounds = Map(Deletes.PathFieldId -> t))
        case 1 => // single target by equal path bounds only
          val t = somePath
          targets += path -> Set(t)
          DataFile(path = path, lowerBounds = Map(Deletes.PathFieldId -> t),
            upperBounds = Map(Deletes.PathFieldId -> t))
        case 2 => // multi-target with path bounds (read for exact targets)
          val ts = Seq.fill(2 + r.nextInt(3))(somePath).toSet
          val multi = legacyFile(s"multi-$p-$j", ts.toSeq)
          targets += multi -> ts
          DataFile(path = multi, lowerBounds = Map(Deletes.PathFieldId -> ts.min),
            upperBounds = Map(Deletes.PathFieldId -> ts.max))
        case 3 => // legacy: no target metadata, one read
          val ts = Seq.fill(1 + r.nextInt(3))(somePath).toSet
          val legacy = legacyFile(s"legacy-$p-$j", ts.toSeq)
          targets += legacy -> ts
          DataFile(path = legacy)
        case _ => // a DV, sometimes for a file outside the plan
          val t = if (r.nextInt(4) == 0) s"/wh/t$p/data/gone.parquet" else somePath
          targets += s"$path@$j" -> Set(t)
          DataFile(path = path, fileFormat = FileFormats.Puffin,
            referencedDataFile = Some(t), contentOffset = Some(j * 100L),
            contentSizeInBytes = Some(50L))
      }
      f.copy(content = FileContent.PositionDeletes, recordCount = 2L) ->
        (1L + r.nextInt(6))
    }
    // a few entries planned twice, as after a manifest rewrite
    val deletes = eq ++ pos
    (data, deletes ++ deletes.filter(_ => r.nextInt(6) == 0), targets.result())
  }

  private def check(seed: Int, eqCount: Int): Unit = {
    val r = new Random(seed)
    val (data, deletes, targets) = plan(r, seed, eqCount)
    val index = DeleteIndex(deletes, schema, conf)
    val eqEntries = deletes.filter(_._1.content == FileContent.EqualityDeletes).distinct
    val pos = deletes.map(_._1).filter(_.content == FileContent.PositionDeletes).distinct
    val ranged = pos.filter(f => f.referencedDataFile.isEmpty &&
      f.lowerBounds.get(Deletes.PathFieldId) != f.upperBounds.get(Deletes.PathFieldId))
    def targetsOf(f: DataFile): Set[String] =
      if (f.fileFormat == FileFormats.Puffin) targets(s"${f.path}@${f.contentOffset.get / 100}")
      else targets(f.path)
    data.foreach { case (df, seq) =>
      val ctx = s"seed $seed, ${df.path} (seq $seq)"
      val brute = eqEntries.collect { case (d, s) if s > seq &&
          Deletes.eqDeleteCanHit(d.specId, d.partition, df.specId, df.partition) &&
          Deletes.eqBoundsCanHit(d, df, schema) => d.path }.sorted
      assert(index.eqDeletesFor(df, seq).map(_.path) === brute, ctx)

      val canon = ParquetIO.canonPath(df.path)
      val scope = index.posDeletesFor(canon)
      val hits = pos.filter(targetsOf(_).contains(canon))
      val (dvHits, pqHits) = hits.partition(_.fileFormat == FileFormats.Puffin)
      assert(scope.dvs === Dvs.slicesOf(dvHits), ctx)
      assert(scope.paths.toSet.subsetOf(pos.map(_.path).toSet), ctx)
      assert(pqHits.map(_.path).toSet.subsetOf(scope.paths.toSet), ctx)
      // exact wherever the metadata (or the legacy read) pins the targets;
      // a ranged file attaches exactly when the path is in its range
      assert(scope.paths.filterNot(ranged.map(_.path).contains).toSet ===
        pqHits.filterNot(ranged.contains).map(_.path).toSet, ctx)
      ranged.foreach { f =>
        val inRange = f.lowerBounds(Deletes.PathFieldId).asInstanceOf[String] <= canon &&
          canon <= f.upperBounds(Deletes.PathFieldId).asInstanceOf[String]
        assert(scope.paths.contains(f.path) === inRange, s"$ctx, ${f.path}")
      }
      assert(scope.paths === scope.paths.distinct.sorted, ctx)
      assert(index.countFor(df, seq) === brute.size + scope.paths.size + scope.dvs.size, ctx)
    }
    // the exact targets RowDelta validation and hygiene read
    pos.foreach(f => assert(DeleteIndex.targetsOf(f, conf) ===
      targetsOf(f).map(ParquetIO.canonPath), s"seed $seed, ${f.path}"))
  }

  test("random plans: the index agrees with the brute-force predicates") {
    (1 to 300).foreach(seed => check(seed, 1 + new Random(-seed).nextInt(40)))
  }

  test("random plans above the sweep cap: the interval index agrees too") {
    (1 to 4).foreach(seed => check(1000 + seed, 4000))
  }
}
