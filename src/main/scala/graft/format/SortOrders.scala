package graft.format

/** Declared table sort order (reference api/.../SortOrder.java, surfaced
  * here as the `write.sort-order` property: "col [asc|desc]
  * [nulls-first|nulls-last], ..."). One parser shared by the SQL write
  * path (GraftWriteBuilder.requiredOrdering), library writes
  * (GraftWrite.writeFiles) and sorted compaction (Actions.rewriteSorted,
  * whose `rewrite_data_files` `sort_by` takes the declared order or an
  * explicit spec in this syntax), so they can never disagree. */
object SortOrders {

  val PropertyKey = "write.sort-order"

  final case class Field(column: String, ascending: Boolean, nullsFirst: Boolean) {
    /** This key as a Spark sort column. */
    def sortColumn: org.apache.spark.sql.Column = {
      val c = org.apache.spark.sql.functions.col(column)
      (ascending, nullsFirst) match {
        case (true, true) => c.asc_nulls_first
        case (true, false) => c.asc_nulls_last
        case (false, true) => c.desc_nulls_first
        case (false, false) => c.desc_nulls_last
      }
    }
  }

  def parse(spec: String): Seq[Field] =
    spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { part =>
      val toks = part.split("\\s+").toSeq
      val lower = toks.map(_.toLowerCase)
      val asc = !lower.contains("desc")
      val nullsFirst = lower.find(t => t == "nulls-first" || t == "nulls-last") match {
        case Some("nulls-last") => false
        case Some("nulls-first") => true
        case _ => asc // Spark's default: asc → nulls first, desc → nulls last
      }
      Field(toks.head, asc, nullsFirst)
    }

  def fromProperties(props: Map[String, String]): Seq[Field] =
    props.get(PropertyKey).map(parse).getOrElse(Nil)
}
