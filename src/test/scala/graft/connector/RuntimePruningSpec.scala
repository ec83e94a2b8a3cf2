package graft.connector

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

/** Dynamic partition pruning through the DSv2 scan: a star-schema join on a
  * partition column must inject the dim side's surviving keys at runtime
  * (SupportsRuntimeV2Filtering) and drop whole fact files before reading —
  * at 100 TB the difference between scanning one day and scanning the
  * table. */
class RuntimePruningSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-dppwh").toString
    spark.conf.set("spark.sql.catalog.dpp", "graft.connector.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dpp.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dpp.db")
    d
  }

  /** Plan-shape tests run on an ISOLATED session: suites share one
    * SparkSession and run in parallel, so toggling behavior confs
    * (v2 bucketing, broadcast threshold, DPP) on the shared session races
    * other suites' plan assertions — newSession shares the context and
    * the warehouse but keeps SQL confs private to the test. */
  private def isoSession(): org.apache.spark.sql.SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.dpp", "graft.connector.GraftCatalog")
    s.conf.set("spark.sql.catalog.dpp.warehouse", wh)
    s
  }

  private def recordsRead(body: => Unit): Long = {
    val n = new AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        n.addAndGet(te.taskMetrics.inputMetrics.recordsRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      var last = -1L
      // listener events are async — wait for the count to go quiet
      while (System.currentTimeMillis() < deadline && n.get() != last) {
        last = n.get(); Thread.sleep(200)
      }
      n.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("join on a partition column prunes fact files at runtime") {
    wh
    val s = isoSession()
    s.sql("""CREATE TABLE dpp.db.fact (id BIGINT, grp BIGINT, v DOUBLE)
                 PARTITIONED BY (grp)""")
    // one commit per group so every partition holds its own file(s)
    (0L until 8L).foreach { g =>
      s.range(100).selectExpr("id", s"$g AS grp", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).createOrReplaceTempView("batch")
      s.sql("INSERT INTO dpp.db.fact SELECT * FROM batch")
    }
    // materialize the dim to parquet: a view computed FROM the join key
    // would constant-fold (flag='pick' → k=3 → static grp=3 pushdown) and
    // dynamic pruning would never be needed
    s.range(8).selectExpr("id AS k",
      "CASE WHEN id = 3 THEN 'pick' ELSE 'skip' END AS flag")
      .write.mode("overwrite").parquet(s"$wh/dimsrc")
    s.read.parquet(s"$wh/dimsrc").createOrReplaceTempView("dim")

    val q = """SELECT COUNT(*) AS n, SUM(f.v) AS s
               FROM dpp.db.fact f JOIN dim d ON f.grp = d.k
               WHERE d.flag = 'pick'"""

    val df = s.sql(q)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic-pruning runtime filter on the fact scan:\n$plan")

    val withDpp = recordsRead {
      val r = df.collect().head
      assert(r.getLong(0) === 100L)
      assert(r.getDouble(1) === (0 until 100).sum.toDouble)
    }
    val withoutDpp = {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      recordsRead {
        val r = s.sql(q).collect().head
        assert(r.getLong(0) === 100L)
      }
    }
    // pruned run reads ~1 of 8 partitions (+ the 8-row dim, twice for the
    // broadcast + the reused subquery); unpruned reads all 800 fact rows
    assert(withoutDpp >= 800L, s"baseline read only $withoutDpp records")
    assert(withDpp < withoutDpp / 2,
      s"runtime pruning read $withDpp records vs $withoutDpp unpruned")
  }

  test("co-partitioned tables join without a shuffle (storage-partitioned join)") {
    wh
    val s = isoSession()
    def mk(name: String): Unit = {
      s.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, grp BIGINT, v DOUBLE)
                    PARTITIONED BY (grp)""")
      (0L until 4L).foreach { g =>
        s.range(40).selectExpr(s"id + ${g * 1000} AS id", s"$g AS grp",
          "CAST(id AS DOUBLE) AS v")
          .coalesce(1).createOrReplaceTempView("spjbatch")
        s.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjbatch")
      }
    }
    mk("spj_a"); mk("spj_b")
    val q = """SELECT a.grp, COUNT(*) AS n
               FROM dpp.db.spj_a a JOIN dpp.db.spj_b b
                 ON a.grp = b.grp AND a.id = b.id
               GROUP BY a.grp ORDER BY a.grp"""
    def run(): (Seq[(Long, Long)], String) = {
      val df = s.sql(q)
      val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      (rows, df.queryExecution.executedPlan.toString) // post-AQE final plan
    }
    val expected = (0L until 4L).map(g => (g, 40L))
    // broadcast off so the join NEEDS co-partitioning to avoid a shuffle;
    // join keys (grp, id) are a SUPERSET of the partition keys (grp), which
    // Spark only accepts for co-partitioning with this conf off
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val (rows, plan) = run()
    assert(rows === expected)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"expected a shuffle-free storage-partitioned join:\n$plan")
    // sanity: same query without v2 bucketing shuffles both sides
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val (rows2, plan2) = run()
    assert(rows2 === expected)
    assert(plan2.contains("Exchange hashpartitioning"),
      s"baseline run should shuffle:\n$plan2")
  }

  test("bucket-partitioned tables join without a shuffle (bucket SPJ)") {
    wh
    val iso = isoSession()
    def mk(name: String, rows: Int): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      iso.range(rows).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjbkt")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjbkt")
    }
    mk("spjb_a", 200); mk("spjb_b", 150)
    val q = """SELECT COUNT(*) AS n, CAST(SUM(a.v + b.v) AS BIGINT) AS s
               FROM dpp.db.spjb_a a JOIN dpp.db.spjb_b b ON a.id = b.id"""
    def run(): (Long, Long, String) = {
      val df = iso.sql(q)
      val r = df.collect().head
      (r.getLong(0), r.getLong(1), df.queryExecution.executedPlan.toString)
    }
    // 150 matching ids, sum of 2*id over 0..149
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val (n, s, plan) = run()
    assert(n === 150L && s === (0L until 150L).map(_ * 2).sum)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-bucketed graft tables must storage-partition-join:\n$plan")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    val (n2, _, plan2) = run()
    assert(n2 === 150L)
    assert(plan2.contains("Exchange hashpartitioning"),
      s"baseline run should shuffle:\n$plan2")
  }

  test("mismatched bucket widths must SHUFFLE, never silently co-locate") {
    // BoundTransform.canonicalName bakes the function name but not the
    // bucket width — compatibility between bucket(4) and bucket(8) rests
    // on Spark comparing TransformExpression.numBucketsOpt. Pin the
    // behavior that scheme depends on: if a Spark upgrade ever changed the
    // comparison, a silent SPJ across different widths would co-locate
    // rows wrongly and DROP join matches; this test would then fail on
    // the plan assertion (and likely the count) instead of shipping.
    wh
    val iso = isoSession()
    def mk(name: String, buckets: Int, rows: Int): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket($buckets, id))""")
      iso.range(rows).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView(s"spjmw_$name")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjmw_$name")
    }
    mk("spjmw_a", 4, 200); mk("spjmw_b", 8, 150)
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql("""SELECT COUNT(*) AS n
      FROM dpp.db.spjmw_a a JOIN dpp.db.spjmw_b b ON a.id = b.id""")
    assert(df.collect().head.getLong(0) === 150L,
      "mismatched-width join lost matches — silent mis-co-location")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Exchange hashpartitioning"),
      s"bucket(4) x bucket(8) must not storage-partition-join:\n$plan")
  }

  test("bucketed table joins a derived side with a one-side shuffle only") {
    wh
    val iso = isoSession()
    iso.sql("""CREATE TABLE dpp.db.spjb_store (id BIGINT, v DOUBLE)
                 PARTITIONED BY (bucket(4, id))""")
    iso.range(300).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjstore")
    iso.sql("INSERT INTO dpp.db.spjb_store SELECT * FROM spjstore")
    // derived (non-table) probe side: ids 0,3,6,... — at 100 TB this is the
    // increment's touched-key set semi-joining a corpus-scale store; the
    // point of bucket SPJ is that the STORE side never shuffles
    iso.range(100).selectExpr("id * 3 AS id")
      .createOrReplaceTempView("spjprobe")
    val q = """SELECT COUNT(*) AS n FROM dpp.db.spjb_store s
               WHERE s.id IN (SELECT id FROM spjprobe)"""
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    val df = iso.sql(q)
    assert(df.collect().head.getLong(0) === 100L)
    val plan = df.queryExecution.executedPlan.toString
    // the probe side shuffles INTO the store's bucketing (evaluated via
    // the catalog's bucket function); the store side must not shuffle
    assert(!plan.contains("Exchange hashpartitioning"),
      s"store side must keep its reported bucketing:\n$plan")
    assert(plan.contains("Exchange keygroupedpartitioning") ||
      plan.contains("KeyGroupedPartitioning"),
      s"probe side should shuffle into the store's buckets:\n$plan")
  }

  test("bucket SPJ stays correct when the two sides populate different buckets") {
    wh
    val iso = isoSession()
    import graft.format.Transforms
    import org.apache.spark.sql.types.LongType
    def bucketOf(id: Long): Int =
      Transforms.BucketT(4).apply(id, LongType).asInstanceOf[Int]
    // side A holds only rows landing in buckets {0, 2}; side B all four —
    // partition-value alignment (pushPartValues) must not drop or
    // duplicate rows, whatever plan Spark picks
    val aIds = (0L until 400L).filter(i => Set(0, 2).contains(bucketOf(i)))
    val bIds = (0L until 400L)
    def mk(name: String, ids: Seq[Long]): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      import iso.implicits._
      ids.toDF("id").selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjmix")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjmix")
    }
    mk("spjmix_a", aIds); mk("spjmix_b", bIds)
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n, CAST(SUM(a.id) AS BIGINT) AS s
         FROM dpp.db.spjmix_a a JOIN dpp.db.spjmix_b b ON a.id = b.id""")
    val r = df.collect().head
    assert(r.getLong(0) === aIds.size.toLong, "mismatched-bucket join lost rows")
    assert(r.getLong(1) === aIds.sum)
  }

  test("bucket SPJ survives renaming the partition source column") {
    wh
    val iso = isoSession()
    def mk(name: String): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      iso.range(120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjrnb")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjrnb")
    }
    mk("spjrn_a"); mk("spjrn_b")
    // rename the bucket SOURCE column on one side: pre-rename files keep
    // their old column name and bucket placement; the reported transform
    // must follow the CURRENT name or the join keys won't line up
    iso.sql("ALTER TABLE dpp.db.spjrn_a RENAME COLUMN id TO key")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjrn_a a
         JOIN dpp.db.spjrn_b b ON a.key = b.id""")
    assert(df.collect().head.getLong(0) === 120L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"rename must not cost the bucket SPJ its shuffle-free plan:\n$plan")
  }

  test("bucket SPJ survives int->long promotion of the bucket source column") {
    wh
    val iso = isoSession()
    // side A starts INT-keyed: pre-promotion files hash 4-byte ints (as
    // longs — the promotion-stable kernel), post-promotion files hash
    // longs; side B is long-keyed from birth. The join must line buckets
    // up across all three file populations, shuffle-free.
    iso.sql("""CREATE TABLE dpp.db.spjpr_a (id INT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(60).selectExpr("CAST(id AS INT) AS id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjpr1")
    iso.sql("INSERT INTO dpp.db.spjpr_a SELECT * FROM spjpr1")
    iso.sql("ALTER TABLE dpp.db.spjpr_a ALTER COLUMN id TYPE BIGINT")
    iso.range(60, 120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjpr2")
    iso.sql("INSERT INTO dpp.db.spjpr_a SELECT * FROM spjpr2")
    iso.sql("""CREATE TABLE dpp.db.spjpr_b (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjpr3")
    iso.sql("INSERT INTO dpp.db.spjpr_b SELECT * FROM spjpr3")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjpr_a a
         JOIN dpp.db.spjpr_b b ON a.id = b.id""")
    assert(df.collect().head.getLong(0) === 120L,
      "promotion must not strand pre-promotion rows in wrong buckets")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"promotion must not cost the bucket SPJ its shuffle-free plan:\n$plan")
  }

  test("bucket SPJ with MoR deletes on a promoted table stays exact and shuffle-free") {
    wh
    val iso = isoSession()
    // three surfaces crossed: bucket SPJ × schema-generation groups ×
    // merge-on-read deletes — per-generation reader groups must each
    // carry their own delete scopes inside the key-grouped tasks
    iso.sql("""CREATE TABLE dpp.db.spjmx_a (id INT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))
               TBLPROPERTIES ('format-version'='3',
                 'write.delete.mode'='merge-on-read')""")
    iso.range(60).selectExpr("CAST(id AS INT) AS id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmx1")
    iso.sql("INSERT INTO dpp.db.spjmx_a SELECT * FROM spjmx1")
    iso.sql("ALTER TABLE dpp.db.spjmx_a ALTER COLUMN id TYPE BIGINT")
    iso.range(60, 120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmx2")
    iso.sql("INSERT INTO dpp.db.spjmx_a SELECT * FROM spjmx2")
    // DVs land on BOTH generations' files
    iso.sql("DELETE FROM dpp.db.spjmx_a WHERE id % 10 = 3")
    val t = graft.format.GraftTable.load(iso, s"$wh/db/spjmx_a")
    assert(t.newScan().planFiles().deleteFiles.nonEmpty, "need live deletes")
    iso.sql("""CREATE TABLE dpp.db.spjmx_b (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmx3")
    iso.sql("INSERT INTO dpp.db.spjmx_b SELECT * FROM spjmx3")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjmx_a a
         JOIN dpp.db.spjmx_b b ON a.id = b.id""")
    // 120 rows minus the 12 MoR-deleted (id%10=3)
    assert(df.collect().head.getLong(0) === 108L,
      "per-generation delete scopes must apply inside key-grouped tasks")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"MoR deletes across generations must not cost SPJ its plan:\n$plan")
  }

  test("bucket SPJ survives store compaction + snapshot expiry (nightly maintenance cycle)") {
    wh
    val iso = isoSession()
    // the gram/signature store's nightly loop appends a generation, then
    // COMPACTS the accumulated small files and EXPIRES old snapshots —
    // the rewrite lands entirely new files and manifests in the SAME
    // bucket layout, and the SPJ read must stay key-grouped afterwards
    iso.sql("""CREATE TABLE dpp.db.spjmt_a (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(60).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmt1")
    iso.sql("INSERT INTO dpp.db.spjmt_a SELECT * FROM spjmt1")
    iso.range(60, 120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmt2")
    iso.sql("INSERT INTO dpp.db.spjmt_a SELECT * FROM spjmt2")
    val pre = graft.format.GraftTable.load(iso, s"$wh/db/spjmt_a")
    val preFiles = pre.newScan().planFiles().tasks.map(_.file.path).toSet
    val res = graft.format.Actions.forTable(pre)
      .rewriteDataFiles(minInputFiles = 2)
    assert(res.rewrittenFiles > 0, "compaction must rewrite the generations")
    val mid = graft.format.GraftTable.load(iso, s"$wh/db/spjmt_a")
    graft.format.Actions.forTable(mid)
      .expireSnapshots(System.currentTimeMillis() + 1000, retainLast = 1)
    val post = graft.format.GraftTable.load(iso, s"$wh/db/spjmt_a")
    val postFiles = post.newScan().planFiles().tasks.map(_.file.path).toSet
    assert(postFiles.intersect(preFiles).isEmpty,
      "compaction must have replaced every pre-compaction file")
    assert(post.snapshots.size === 1, "expiry must drop the pre-compaction history")
    iso.sql("""CREATE TABLE dpp.db.spjmt_b (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("spjmt3")
    iso.sql("INSERT INTO dpp.db.spjmt_b SELECT * FROM spjmt3")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjmt_a a
         JOIN dpp.db.spjmt_b b ON a.id = b.id""")
    assert(df.collect().head.getLong(0) === 120L,
      "maintenance must not lose or re-bucket store rows")
    val plan = df.queryExecution.executedPlan.toString
    // shuffle-free = no hash exchange under the join; a pure both-sides
    // SPJ doesn't print "KeyGroupedPartitioning" (that only appears when
    // one side shuffles INTO the store's grouping)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"compaction + expiry must not cost the store SPJ its shuffle-free plan:\n$plan")
  }

  /** A bucketed table whose first 60 rows are parquet and whose next 60
    * are `fmt`, joined on the bucket key with an all-parquet twin: the key
    * grouping must span both reader groups whatever route `fmt` reads by. */
  private def spjAcrossFormats(name: String, fmt: String, query: String)
      : org.apache.spark.sql.DataFrame = {
    wh
    val iso = isoSession()
    iso.sql(s"""CREATE TABLE dpp.db.${name}_a (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(60).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView(s"${name}1")
    iso.sql(s"INSERT INTO dpp.db.${name}_a SELECT * FROM ${name}1")
    iso.sql(s"ALTER TABLE dpp.db.${name}_a SET TBLPROPERTIES ('write.format.default'='$fmt')")
    iso.range(60, 120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView(s"${name}2")
    iso.sql(s"INSERT INTO dpp.db.${name}_a SELECT * FROM ${name}2")
    iso.sql(s"""CREATE TABLE dpp.db.${name}_b (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(120).selectExpr("id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView(s"${name}3")
    iso.sql(s"INSERT INTO dpp.db.${name}_b SELECT * FROM ${name}3")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.sql(query.replace("$a", s"dpp.db.${name}_a").replace("$b", s"dpp.db.${name}_b"))
  }

  test("bucket SPJ spans mixed file formats (parquet + ORC reader groups)") {
    // format change mid-life: parquet files + ORC files in one table means
    // one reader group per format — the key grouping must span them
    val df = spjAcrossFormats("spjfm", "orc",
      "SELECT COUNT(*) AS n FROM $a a JOIN $b b ON a.id = b.id")
    assert(df.collect().head.getLong(0) === 120L)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"mixed-format groups must not cost SPJ its shuffle-free plan:\n$plan")
  }

  test("bucket SPJ spans a scrub-routed ORC group (DOUBLE projected)") {
    // projecting `v` routes the ORC generation to the scrub reader
    val df = spjAcrossFormats("spjscrub", "orc",
      "SELECT SUM(a.v + b.v) AS s FROM $a a JOIN $b b ON a.id = b.id")
    assert(df.collect().head.getDouble(0) === 2.0 * (0 until 120).sum)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"a scrub-routed ORC group must not cost SPJ its shuffle-free plan:\n$plan")
  }

  test("bucket SPJ spans an Avro generation") {
    val df = spjAcrossFormats("spjavro", "avro",
      "SELECT COUNT(*) AS n, SUM(a.v + b.v) AS s FROM $a a JOIN $b b ON a.id = b.id")
    val row = df.collect().head
    assert(row.getLong(0) === 120L)
    assert(row.getDouble(1) === 2.0 * (0 until 120).sum)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"an Avro generation must not cost SPJ its shuffle-free plan:\n$plan")
  }

  test("compound identity+bucket specs storage-partition-join on both keys") {
    wh
    val iso = isoSession()
    def mk(name: String): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, grp BIGINT, v DOUBLE)
                    PARTITIONED BY (grp, bucket(4, id))""")
      (0L until 2L).foreach { g =>
        iso.range(80).selectExpr("id", s"$g AS grp", "CAST(id AS DOUBLE) AS v")
          .createOrReplaceTempView("spjcb")
        iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjcb")
      }
    }
    mk("spjcb_a"); mk("spjcb_b")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjcb_a a
         JOIN dpp.db.spjcb_b b ON a.grp = b.grp AND a.id = b.id""")
    assert(df.collect().head.getLong(0) === 160L)
    assert(!df.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "compound identity+bucket spec must storage-partition-join")
  }

  test("dynamic partition pruning survives renaming the partition source column") {
    wh
    val iso = isoSession()
    iso.sql("""CREATE TABLE dpp.db.fact_rn (id BIGINT, grp BIGINT, v DOUBLE)
               PARTITIONED BY (grp)""")
    (0L until 8L).foreach { g =>
      iso.range(100).selectExpr("id", s"$g AS grp", "CAST(id AS DOUBLE) AS v")
        .coalesce(1).createOrReplaceTempView("rnb")
      iso.sql("INSERT INTO dpp.db.fact_rn SELECT * FROM rnb")
    }
    // rename the partition SOURCE column: pre-rename files keep their spec
    // field name and partition values; the runtime filter arrives on the
    // CURRENT name and must still prune whole files
    iso.sql("ALTER TABLE dpp.db.fact_rn RENAME COLUMN grp TO category")
    iso.range(8).selectExpr("id AS k",
        "CASE WHEN id = 3 THEN 'pick' ELSE 'skip' END AS flag")
      .write.mode("overwrite").parquet(s"$wh/rndim")
    iso.read.parquet(s"$wh/rndim").createOrReplaceTempView("rndim")
    val q = """SELECT COUNT(*) AS n, SUM(f.v) AS s
               FROM dpp.db.fact_rn f JOIN rndim d ON f.category = d.k
               WHERE d.flag = 'pick'"""
    val df = iso.sql(q)
    assert(df.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning"),
      "rename must not cost the fact scan its runtime filter")
    val withDpp = recordsRead {
      val r = df.collect().head
      assert(r.getLong(0) === 100L, "rename must not break DPP correctness")
      assert(r.getDouble(1) === (0 until 100).sum.toDouble)
    }
    assert(withDpp < 400L,
      s"runtime pruning after rename read $withDpp records (expected ~116)")
  }

  test("truncate and days transforms storage-partition-join too") {
    wh
    val iso = isoSession()
    // truncate[2] on a string key
    def mkT(name: String): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (k STRING, v DOUBLE)
                    PARTITIONED BY (truncate(2, k))""")
      iso.range(120).selectExpr(
          "concat(CASE CAST(id % 4 AS INT) WHEN 0 THEN 'aa' WHEN 1 THEN 'bb' " +
          "WHEN 2 THEN 'cc' ELSE 'dd' END, CAST(id AS STRING)) AS k",
          "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjtr")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjtr")
    }
    mkT("spjtr_a"); mkT("spjtr_b")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val tr = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjtr_a a
         JOIN dpp.db.spjtr_b b ON a.k = b.k""")
    assert(tr.collect().head.getLong(0) === 120L)
    assert(!tr.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "truncate-partitioned tables must storage-partition-join")
    // days(ts) on a timestamp key — the co-partitioned time-series join
    def mkD(name: String): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (ts TIMESTAMP_NTZ, v DOUBLE)
                    PARTITIONED BY (days(ts))""")
      iso.range(96).selectExpr(
          "timestampadd(HOUR, CAST(id AS INT), TIMESTAMP_NTZ '2024-03-01 00:00:00') AS ts",
          "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjdy")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjdy")
    }
    mkD("spjdy_a"); mkD("spjdy_b")
    val dy = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjdy_a a
         JOIN dpp.db.spjdy_b b ON a.ts = b.ts""")
    assert(dy.collect().head.getLong(0) === 96L)
    assert(!dy.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "days-partitioned tables must storage-partition-join")
  }

  test("incrementalJaccardPairsFromStore rides one-sided SPJ on a bucketed store") {
    wh
    val iso = isoSession()
    import iso.implicits._
    // corpus/fresh docs with real shared grams so pairs actually verify
    def baseText(i: Long) = (0 until 9).map(k => s"tok-$i-$k").mkString(" ")
    val docs = (0L until 40L).map { i =>
      // fresh docs (multiples of 10) duplicate their predecessor's text;
      // every other doc is gram-disjoint from every other
      (i, if (i % 10 == 0 && i > 0) baseText(i - 1) else baseText(i))
    }.toDF("doc_id", "text")
    val corpus = docs.filter($"doc_id" % 10 =!= 0)
    val fresh = docs.filter($"doc_id" % 10 === 0)
    val grams = graft.ops.Dedup.gramStore(corpus, n = 3)
    val loc = s"$wh/db/gram_spj"
    val tt = graft.format.GraftTable.recreate(iso, loc, grams.schema,
      specBuild = _.bucket("g", 4))
    graft.format.GraftWrite.append(tt, grams)
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set("spark.sql.sources.v2.bucketing.shuffle.enabled", "true")
    val out = graft.ops.Dedup.incrementalJaccardPairsFromStore(
      iso.table("dpp.db.gram_spj"), fresh, n = 3, threshold = 0.5, maxDf = 0)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // each fresh doc 10,20,30 near-duplicates its predecessor (shared 3-grams)
    assert(rows.toSeq == Seq((9L, 10L), (19L, 20L), (29L, 30L)),
      s"store path pairs wrong: ${rows.toSeq}")
    val plan = out.queryExecution.executedPlan.toString
    // the semi-join must key-group: probe side shuffles INTO the store's
    // buckets; a hashpartitioning exchange feeding the semi-join would
    // mean the corpus-scale store side moved
    assert(plan.contains("KeyGroupedPartitioning") ||
      plan.contains("keygroupedpartitioning"),
      s"store semi-join should ride SPJ:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      "broadcast is off — the test must exercise the shuffle path")
    // GENERATION 2 — the nightly maintenance loop: append the increment's
    // grams to the store (new files, new manifests in the same bucket
    // layout), then query the NEXT increment against the grown store. The
    // append must not disqualify the key grouping: a second-generation
    // read that silently fell back to a full shuffle is exactly the class
    // of silent perf cliff the SPJ surface has to guard.
    graft.format.GraftWrite.append(
      graft.format.GraftTable.load(iso, loc),
      graft.ops.Dedup.gramStore(fresh, n = 3))
    val fresh2 = (40L until 50L).map { i =>
      // doc 45 duplicates the text shared by docs 9 (gen-0 store) and 10
      // (gen-1 append) — the expected pairs span BOTH store generations
      (i, if (i == 45L) baseText(9) else baseText(i))
    }.toDF("doc_id", "text")
    val out2 = graft.ops.Dedup.incrementalJaccardPairsFromStore(
      iso.table("dpp.db.gram_spj"), fresh2, n = 3, threshold = 0.5, maxDf = 0)
    val rows2 = out2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows2.toSeq == Seq((9L, 45L), (10L, 45L)),
      s"grown-store pairs wrong (append lost or duplicated grams?): ${rows2.toSeq}")
    val plan2 = out2.queryExecution.executedPlan.toString
    assert(plan2.contains("KeyGroupedPartitioning") ||
      plan2.contains("keygroupedpartitioning"),
      s"store must stay key-grouped after a second-generation append:\n$plan2")
    assert(!plan2.contains("BroadcastHashJoin"),
      "broadcast is off — the test must exercise the shuffle path")
  }

  test("branch reads of co-bucketed tables storage-partition-join") {
    wh
    val iso = isoSession()
    def mk(name: String): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      iso.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjbr")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjbr")
      graft.format.Commits.createBranch(
        graft.format.GraftTable.load(iso, s"$wh/db/$name"), "audit")
      // diverge the branch so the test can't pass by accident of reading main
      iso.sql(s"INSERT INTO dpp.db.`$name.branch_audit` " +
        "SELECT id + 1000, CAST(id AS DOUBLE) FROM range(20)")
    }
    mk("spjbr_a"); mk("spjbr_b")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.`spjbr_a.branch_audit` a
         JOIN dpp.db.`spjbr_b.branch_audit` b ON a.id = b.id""")
    assert(df.collect().head.getLong(0) === 120L,
      "branch SPJ must see BOTH lines' files (100 shared + 20 branch-only)")
    assert(!df.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "branch reads of co-bucketed tables must storage-partition-join")
  }

  test("bucket SPJ handles skew via partially-clustered distribution") {
    wh
    val iso = isoSession()
    def mk(name: String, rows: Int): Unit = {
      iso.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, v DOUBLE)
                    PARTITIONED BY (bucket(4, id))""")
      // skew: id 7 repeats heavily on the big side
      iso.range(rows).selectExpr("CASE WHEN id % 3 = 0 THEN 7 ELSE id END AS id",
          "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("spjsk")
      iso.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjsk")
    }
    mk("spjsk_a", 300); mk("spjsk_b", 90)
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    iso.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "true")
    val df = iso.sql(
      """SELECT COUNT(*) AS n FROM dpp.db.spjsk_a a
         JOIN dpp.db.spjsk_b b ON a.id = b.id""")
    // exact expected count computed the dumb way on the driver
    val aIds = (0L until 300L).map(i => if (i % 3 == 0) 7L else i)
    val bIds = (0L until 90L).map(i => if (i % 3 == 0) 7L else i)
    val bCount = bIds.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expected = aIds.map(i => bCount.getOrElse(i, 0L)).sum
    assert(df.collect().head.getLong(0) === expected,
      "partially-clustered SPJ must not drop or duplicate skewed keys")
  }

  test("group-by on partition keys aggregates without a shuffle") {
    wh
    val iso = isoSession()
    // identity-partitioned: per-partition agg is the canonical 100 TB
    // rollup — with the scan reporting KeyGroupedPartitioning the
    // HashAggregate's ClusteredDistribution is already satisfied
    iso.sql("CREATE TABLE dpp.db.aggid (id BIGINT, grp BIGINT) PARTITIONED BY (grp)")
    (0L until 4L).foreach { g =>
      iso.range(50).selectExpr("id", s"$g AS grp").coalesce(1)
        .createOrReplaceTempView("aggb")
      iso.sql("INSERT INTO dpp.db.aggid SELECT * FROM aggb")
    }
    // bucket-partitioned: grouping on the bucket SOURCE column — same
    // guarantee through the transform (equal ids share a bucket)
    iso.sql("""CREATE TABLE dpp.db.aggbk (id BIGINT, v DOUBLE)
               PARTITIONED BY (bucket(4, id))""")
    iso.range(200).selectExpr("id % 10 AS id", "CAST(id AS DOUBLE) AS v")
      .createOrReplaceTempView("aggc")
    iso.sql("INSERT INTO dpp.db.aggbk SELECT * FROM aggc")
    iso.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val idAgg = iso.sql(
      "SELECT grp, COUNT(*) AS n FROM dpp.db.aggid GROUP BY grp ORDER BY grp")
    assert(idAgg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 4L).map((_, 50L)))
    assert(!idAgg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "identity-partitioned group-by should not shuffle")
    val bkAgg = iso.sql(
      "SELECT id, COUNT(*) AS n FROM dpp.db.aggbk GROUP BY id ORDER BY id")
    assert(bkAgg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 10L).map((_, 20L)))
    assert(!bkAgg.queryExecution.executedPlan.toString
      .contains("Exchange hashpartitioning"),
      "bucket-partitioned group-by on the source column should not shuffle")
  }

  test("storage-partitioned join survives live DVs (MoR) without a shuffle") {
    wh
    val s = isoSession()
    def mk(name: String): Unit = {
      s.sql(s"""CREATE TABLE dpp.db.$name (id BIGINT, grp BIGINT, v DOUBLE)
                    PARTITIONED BY (grp)
                    TBLPROPERTIES ('format-version'='3',
                      'write.delete.mode'='merge-on-read')""")
      (0L until 4L).foreach { g =>
        s.range(30).selectExpr(s"id + ${g * 1000} AS id", s"$g AS grp",
          "CAST(id AS DOUBLE) AS v")
          .coalesce(1).createOrReplaceTempView("spjmorb")
        s.sql(s"INSERT INTO dpp.db.$name SELECT * FROM spjmorb")
      }
      // live DVs on every partition — rows with id%10=3 disappear MoR-style
      s.sql(s"DELETE FROM dpp.db.$name WHERE id % 10 = 3")
      val t = graft.format.GraftTable.load(s, s"$wh/db/$name")
      assert(t.newScan().planFiles().deleteFiles.nonEmpty,
        s"$name must carry live delete files for this test to mean anything")
    }
    mk("spjm_a"); mk("spjm_b")
    val q = """SELECT a.grp, COUNT(*) AS n
               FROM dpp.db.spjm_a a JOIN dpp.db.spjm_b b
                 ON a.grp = b.grp AND a.id = b.id
               GROUP BY a.grp ORDER BY a.grp"""
    // 30 rows per partition minus the 3 deleted (id%10=3 hits 3 of 30)
    val expected = (0L until 4L).map(g => (g, 27L))
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    s.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val df = s.sql(q)
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === expected, "MoR deletes must apply inside the SPJ scan")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"live DVs must not cost the storage-partitioned join its shuffle:\n$plan")
  }

  test("runtime pruning never drops matching rows on unpartitioned tables") {
    wh
    // stats-only pruning path: no partitions, file min/max does the work
    spark.sql("CREATE TABLE dpp.db.flat (id BIGINT, grp BIGINT)")
    (0L until 4L).foreach { g =>
      spark.range(50).selectExpr("id", s"$g AS grp")
        .coalesce(1).createOrReplaceTempView("fbatch")
      spark.sql("INSERT INTO dpp.db.flat SELECT * FROM fbatch")
    }
    spark.range(4).selectExpr("id AS k").where("k IN (1, 2)")
      .createOrReplaceTempView("fdim")
    val n = spark.sql(
      """SELECT COUNT(*) FROM dpp.db.flat f JOIN fdim d ON f.grp = d.k""")
      .collect().head.getLong(0)
    assert(n === 100L)
  }
}
