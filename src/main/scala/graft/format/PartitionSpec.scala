package graft.format

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** One partition field: (source column id, transform, derived name)
  * (reference api/.../PartitionSpec.java; builder :314-459). Derived names
  * default to Iceberg's convention: `col` for identity, `col_bucket`,
  * `col_trunc`, `col_day` etc.
  */
final case class PartitionField(sourceId: Int, transform: Transform, name: String)

/** Ordered partition spec with id (specs evolve; multiple can coexist —
  * reference Table.specs() api/.../Table.java:66). */
final case class PartitionSpec(specId: Int, fields: Seq[PartitionField]) {
  def isPartitioned: Boolean = fields.nonEmpty

  /** Derived Spark columns for the write path (hidden partitioning: derived,
    * never user-provided — reference PartitionKey.java:34-101). */
  def derivedColumns(schema: StructType): Seq[(String, Column)] =
    fields.map { pf =>
      val src = FieldIds.findById(schema, pf.sourceId).getOrElse(
        throw new IllegalArgumentException(s"no field id ${pf.sourceId}"))
      pf.name -> pf.transform.column(col(src.name), src.dataType)
    }

  /** Result Spark type of each partition field. */
  def resultTypes(schema: StructType): Seq[(String, DataType)] =
    fields.map { pf =>
      val src = FieldIds.findById(schema, pf.sourceId).get
      pf.name -> pf.transform.resultType(src.dataType)
    }

  def toJson: JsonNode = {
    val o = Json.obj()
    o.put("spec-id", specId)
    val fs = o.putArray("fields")
    fields.foreach { pf =>
      val fo = fs.addObject()
      fo.put("source-id", pf.sourceId)
      fo.put("transform", pf.transform.toString)
      fo.put("name", pf.name)
    }
    o
  }
}

object PartitionSpec {
  val unpartitioned: PartitionSpec = PartitionSpec(0, Nil)

  def fromJson(n: JsonNode): PartitionSpec =
    PartitionSpec(Json.getInt(n, "spec-id"),
      Json.elems(n.get("fields")).map { fo =>
        PartitionField(Json.getInt(fo, "source-id"),
          Transforms.fromString(Json.getStr(fo, "transform")),
          Json.getStr(fo, "name"))
      }.toSeq)

  /** Builder mirroring the reference's PartitionSpec.builderFor DSL. */
  final class Builder(schema: StructType) {
    private val fs = Seq.newBuilder[PartitionField]
    private def id(col: String): Int = FieldIds.nameToId(schema)(col)
    def identity(col: String): Builder = add(col, Transforms.IdentityT, col)
    def bucket(col: String, n: Int): Builder =
      add(col, Transforms.BucketT(n), s"${col}_bucket")
    def truncate(col: String, w: Int): Builder =
      add(col, Transforms.TruncateT(w), s"${col}_trunc")
    def year(col: String): Builder = add(col, Transforms.YearT, s"${col}_year")
    def month(col: String): Builder = add(col, Transforms.MonthT, s"${col}_month")
    def day(col: String): Builder = add(col, Transforms.DayT, s"${col}_day")
    def hour(col: String): Builder = add(col, Transforms.HourT, s"${col}_hour")
    def add(col: String, t: Transform, name: String): Builder = {
      // float/double partition sources are banned (iceberg spec parity):
      // IEEE says -0.0 == 0.0 and NaN != NaN, but any hash/identity
      // placement separates them — a double-bucketed table would place
      // -0.0 rows in a different file than the one Eq(0.0) pruning keeps,
      // silently losing rows the engine's own comparison says match.
      // Rejected at spec build, not at write, so the table can't exist.
      val dt = FieldIds.findById(schema, id(col)).get.dataType
      if (t != Transforms.VoidT)
        require(dt != FloatType && dt != DoubleType,
          s"cannot partition by $col: $dt partition sources are not " +
            "allowed (NaN / negative-zero placement diverges from SQL " +
            "equality); partition by a derived stable column instead")
      fs += PartitionField(id(col), t, name); this
    }
    def build(specId: Int = 0): PartitionSpec = PartitionSpec(specId, fs.result())
  }
  def builderFor(schema: StructType): Builder = new Builder(schema)
}

/** Predicate projection from source columns onto partition-tuple fields —
  * THE novel pruning rewrite Catalyst doesn't have (SURVEY.md §4.1; reference
  * Projections.java:28-56 + per-transform `project`/`projectStrict`).
  * Projected predicates reference partition fields *by name* (field id
  * unused: tuple lookup is by name).
  */
object Projections {

  /** Inclusive projection: superset — partition might contain matching rows.
    * Unprojectable predicates become AlwaysTrue. */
  def inclusive(expr: Expr, spec: PartitionSpec, schema: StructType): Expr =
    projectWith(expr, spec, schema, strict = false)

  /** Strict projection: subset — ALL rows in partition match.
    * Unprojectable predicates become AlwaysFalse. */
  def strict(expr: Expr, spec: PartitionSpec, schema: StructType): Expr =
    projectWith(expr, spec, schema, strict = true)

  private def projectWith(expr: Expr, spec: PartitionSpec, schema: StructType,
      strict: Boolean): Expr = expr match {
    case AlwaysTrue => AlwaysTrue
    case AlwaysFalse => AlwaysFalse
    case And(l, r) =>
      Exprs.and(projectWith(l, spec, schema, strict), projectWith(r, spec, schema, strict))
    case Or(l, r) =>
      Exprs.or(projectWith(l, spec, schema, strict), projectWith(r, spec, schema, strict))
    case Not(c) => Exprs.rewriteNot(Not(c)) match {
      // irreducible (Not(startsWith)): no transform projects a negated
      // prefix — conservative terminal instead of recursing forever
      case Not(_) => if (strict) AlwaysFalse else AlwaysTrue
      case reduced => projectWith(reduced, spec, schema, strict)
    }
    case p: Pred => throw new IllegalStateException(s"project needs bound expr: $p")
    case BoundPred(op, fieldId, _, dt, vs) =>
      val candidates = spec.fields.filter(_.sourceId == fieldId).flatMap { pf =>
        val projected =
          if (strict) pf.transform.projectStrict(op, vs, dt)
          else pf.transform.project(op, vs, dt)
        projected.map { case (pop, pvs) =>
          // partition-tuple predicate: id 0 is unused; lookup is by name
          BoundPred(pop, 0, pf.name, pf.transform.resultType(dt), pvs): Expr
        }
      }
      if (candidates.isEmpty) { if (strict) AlwaysFalse else AlwaysTrue }
      else candidates.reduce(Exprs.and) // all must hold (same source, several transforms)
  }

  /** Evaluate a projected expr against a partition tuple (name → value). */
  def evalOnPartition(projected: Expr, tuple: Map[String, Any]): Boolean =
    evalByName(projected, name => tuple.getOrElse(name, null))

  private def evalByName(e: Expr, get: String => Any): Boolean = e match {
    case And(l, r) => evalByName(l, get) && evalByName(r, get)
    case Or(l, r) => evalByName(l, get) || evalByName(r, get)
    case Not(c) => !evalByName(c, get)
    case bp @ BoundPred(_, _, name, _, _) =>
      Exprs.eval(bp.copy(fieldId = 0), _ => get(name))
    case other => Exprs.eval(other, _ => null)
  }
}
