package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.connector.read.Scan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, FileScan}
import org.apache.spark.sql.execution.window.WindowExec

class QueriesSpec extends SparkSpec {

  // Queries whose plan has a ScalaUDF in a FilterExec condition on purpose.
  // In each, the UDF's value feeds only the filter and no operator above
  // re-evaluates it, so it runs once per row.
  private val udfFilterAllowed = Map(
    "q40_lsh_ann" -> "lshTopK's bucket UDF only probes arrays_overlap; the project keeps vec_id, cos",
    "q44_ivf_ann" -> "ivfTopK's centroid UDF only probes isin; the project keeps vec_id, cos",
    "q46_hash_sample" -> "hashSample keeps rows by md5 bucket; the bucket is never projected")

  /** Plan lint over one query's physical plan (before AQE). A WindowExec
    * without a partitionSpec moves every row to one partition. A ScalaUDF
    * in a FilterExec condition is evaluated again by the project above that
    * keeps its value (codegen subexpression elimination does not span
    * operators), so the UDF runs twice per row. Every scan group of a
    * GraftScan must be a Spark FileScan, so every format's reads are split
    * and packed by Spark's own planner. Every scan's reader factory must
    * ship its Hadoop conf as a broadcast and stay small, because Spark
    * sends the factory with every task. */
  private def planLint(name: String, plan: SparkPlan): Seq[String] = {
    val windows = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        s"$name: partition-less window ${w.windowExpression.mkString(", ").take(160)}"
    }
    val udfFilters = plan.collect {
      case f: FilterExec if f.condition.exists(_.isInstanceOf[ScalaUDF]) =>
        s"$name: ScalaUDF in filter ${f.condition.sql.take(160)}"
    }
    val customGroups = plan.collect {
      case b: BatchScanExec => b.scan match {
        case g: graft.connector.GraftScan => g.groups.collect {
          case s: Scan if !s.isInstanceOf[FileScan] =>
            s"$name: scan group ${s.getClass.getName} is not a FileScan"
        }
        case _ => Nil
      }
    }.flatten
    val heavyFactories = plan.collect {
      case b: BatchScanExec =>
        graft.connector.ConfShippingSpec.shippingProblem(s"$name: reader factory",
          b.readerFactory)
    }.flatten
    windows ++ customGroups ++ heavyFactories ++ (
      if (!udfFilterAllowed.contains(name)) udfFilters
      else if (udfFilters.isEmpty) Seq(s"$name: allow-listed, but no ScalaUDF in a filter")
      else Nil)
  }

  test("flagship entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and is non-degenerate") {
    val empties = Set("q09_customers_without_orders", "q33_jaccard_pairs",
      "q34_minhash_lsh_pairs") // legitimately empty at tiny scale
    val lint = Seq.newBuilder[String]
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      lint ++= planLint(name, df.queryExecution.sparkPlan)
      val n = df.count()
      if (!empties.contains(name)) assert(n > 0, s"$name returned no rows")
    }
    val violations = lint.result().distinct.sorted
    if (violations.nonEmpty)
      fail(s"plan lint: ${violations.size} violation(s)\n${violations.mkString("\n")}")
  }

  test("every oracle key has a query") {
    SparkEntry.oracleSql.keys.foreach(k => assert(SparkEntry.queries.contains(k)))
  }
}
