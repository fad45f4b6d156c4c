package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** Metadata-only aggregates ([[graft.plans.MetaAggregates]]): a global
  * COUNT/MIN/MAX over a versioned-table relation must collapse to a
  * LocalRelation fed from the manifest (per-file row counts, footer
  * bounds and null counts, DV cardinalities) — and must REFUSE the
  * shortcut in exactly the cases where metadata cannot be exact. */
class MetaAggregateSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_magg").resolve("t").toString

  private def rel(root: String): DataFrame =
    spark.read.format("graft-versioned").load(root)

  /** True iff the optimizer answered from metadata: no relation (and so
    * no scan) survives in the optimized plan. */
  private def metaAnswered(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }.isEmpty

  test("count(*) is answered from the manifest across appends") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 100L).toDF("id").withColumn("s", concat(lit("v"), col("id"))))
    VersionedTable.append(spark, root,
      (100L until 250L).toDF("id").withColumn("s", concat(lit("v"), col("id"))))
    val c = rel(root).groupBy().agg(count(lit(1)).as("n"))
    assert(metaAnswered(c), c.queryExecution.optimizedPlan.toString)
    assert(c.collect().head.getLong(0) == 250L)
    assert(rel(root).count() == 250L)
  }

  test("min/max on integral and date columns rewrite; double and string refuse") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0 until 200).toDF("n")
      .withColumn("id", col("n").cast("long") + 5)
      .withColumn("d", date_add(to_date(lit("2024-01-01")), col("n")))
      .withColumn("x", col("n").cast("double") / 7.0)
      .withColumn("s", concat(lit("k"), col("n")))
      .drop("n").repartition(3)
    VersionedTable.create(spark, root, df)
    val mm = rel(root).agg(min("id").as("lo"), max("id").as("hi"),
      min("d").as("dlo"), max("d").as("dhi"))
    assert(metaAnswered(mm), mm.queryExecution.optimizedPlan.toString)
    val r = mm.collect().head
    assert(r.getLong(0) == 5L && r.getLong(1) == 204L)
    assert(r.getDate(2).toString == "2024-01-01" &&
      r.getDate(3).toString == "2024-07-18")
    // doubles: footer stats are NaN-blind; strings: possibly truncated —
    // both must run on the executors (and still be right)
    val d = rel(root).agg(max("x").as("m"))
    assert(!metaAnswered(d))
    assert(d.collect().head.getDouble(0) == 199.0 / 7.0)
    val s = rel(root).agg(max("s").as("m"))
    assert(!metaAnswered(s))
    assert(s.collect().head.getString(0) == "k99")
  }

  test("count(col) uses footer null counts; mixed agg lists are all-or-nothing") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0L until 300L).toDF("id")
      .withColumn("v", when(col("id") % 3 === 0, col("id"))) // 1/3 null
      .repartition(4)
    VersionedTable.create(spark, root, df)
    val c = rel(root).agg(count(col("v")).as("nv"), count(lit(1)).as("n"),
      min("id").as("lo"))
    assert(metaAnswered(c), c.queryExecution.optimizedPlan.toString)
    val r = c.collect().head
    assert(r.getLong(0) == 100L && r.getLong(1) == 300L && r.getLong(2) == 0L)
    // one non-answerable member (avg) keeps the WHOLE aggregate on the scan
    val mixed = rel(root).agg(count(lit(1)).as("n"), avg("id").as("a"))
    assert(!metaAnswered(mixed))
    assert(mixed.collect().head.getLong(0) == 300L)
  }

  test("deletion vectors: count stays exact; min/max answers from LIVE stats") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 100L).toDF("id").repartition(2))
    VersionedTable.deleteWhereVectored(spark, root,
      Map("id" -> (None, Some(9L))), col("id") < 10L)
    val c = rel(root).groupBy().agg(count(lit(1)).as("n"))
    assert(metaAnswered(c), "count under DVs is exact: rows minus cardinality")
    assert(c.collect().head.getLong(0) == 90L)
    // the minimum id IS a deleted row — but the vectored delete re-derived
    // survivor-exact (live) stats in its write pass, so metadata answers
    // the post-delete extremum exactly
    val m = rel(root).agg(min("id").as("lo"))
    assert(metaAnswered(m), "live stats answer min/max under DVs")
    assert(m.collect().head.getLong(0) == 10L)
    // count(col) under DVs: live null counts keep it exact too
    val nc = rel(root).agg(count(col("id")).as("n"))
    assert(metaAnswered(nc))
    assert(nc.collect().head.getLong(0) == 90L)
    // time travel to the pre-delete version still answers from metadata
    val t = spark.read.format("graft-versioned").option("versionAsOf", "1")
      .load(root).groupBy().agg(count(lit(1)).as("n"))
    assert(metaAnswered(t))
    assert(t.collect().head.getLong(0) == 100L)
  }

  test("filters, grouping, and distinct all refuse the shortcut") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 50L).toDF("id").withColumn("g", col("id") % 5))
    val f = rel(root).filter(col("id") >= 25L).agg(count(lit(1)).as("n"))
    assert(!metaAnswered(f))
    assert(f.collect().head.getLong(0) == 25L)
    val g = rel(root).groupBy("g").agg(count(lit(1)).as("n"))
    assert(!metaAnswered(g))
    assert(g.collect().length == 5)
    val dc = rel(root).agg(countDistinct("g").as("n"))
    assert(!metaAnswered(dc))
    assert(dc.collect().head.getLong(0) == 5L)
  }

  test("a manifest without row counts falls back to the scan (old format)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, (0L until 40L).toDF("id"))
    // simulate a manifest written before the nrows field existed
    val mf = java.nio.file.Paths.get(root, "_log", "v00000001.manifest.json")
    assert(LogDocs.read(mf).has("nrows"), "new commits must record row counts")
    LogDocs.edit(mf)(_.remove("nrows"))
    assert(VersionedTable.metaRowCount(spark, root).isEmpty)
    val c = rel(root).groupBy().agg(count(lit(1)).as("n"))
    assert(!metaAnswered(c), "missing nrows must fall back to the scan")
    assert(c.collect().head.getLong(0) == 40L)
  }

  test("row counts survive the delta-manifest log and metadata-only commits") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, Seq(0L).toDF("id"))
    (1 to 10).foreach(i => VersionedTable.append(spark, root, Seq(i.toLong).toDF("id")))
    VersionedTable.indexBloom(spark, root, Seq("id")) // metadata-only commit
    assert(VersionedTable.versions(spark, root).size == 12)
    assert(VersionedTable.metaRowCount(spark, root).contains(11L))
    val c = rel(root).groupBy().agg(count(lit(1)).as("n"))
    assert(metaAnswered(c), "rows must survive delta replay + bloom attach")
    assert(c.collect().head.getLong(0) == 11L)
  }

  test("q195: the metadata-answered side carries no scan; values match the data") {
    val df = graft.queries.LakehouseQueries.defs("q195_meta_agg")(spark, sf)
    // BOTH branches answer from manifests: v2 from footer stats, v3 (DV-
    // bearing) from the survivor-exact LIVE stats its vectored delete
    // re-derived — the whole union is scan-free
    val scans = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }
    assert(scans.isEmpty,
      s"both sides answer from metadata, got ${scans.size} relations")
    val rows = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val ev = Tables.events(spark, sf)
      .select(col("event_id"),
        when(col("event_id") % 4 =!= 0, col("user_id")).as("v_null"))
    val full = ev.agg(count(lit(1)), count(col("v_null")),
      min("event_id"), max("event_id")).collect().head
    assert(rows("v2_full") ==
      ((full.getLong(0), full.getLong(1), full.getLong(2), full.getLong(3))))
    val surv = ev.filter(col("event_id") % 7 =!= 0)
      .agg(count(lit(1)), count(col("v_null")),
        min("event_id"), max("event_id")).collect().head
    assert(rows("v3_after_delete") ==
      ((surv.getLong(0), surv.getLong(1), surv.getLong(2), surv.getLong(3))))
  }

  test("GROUP BY a partition column is answered from the manifest") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0L until 300L).toDF("id")
      .withColumn("bucket", (col("id") % 3).cast("int"))
      .withColumn("v", when(col("id") % 5 =!= 0, col("id")))
    VersionedTable.create(spark, root, df, partitionBy = Seq("bucket"))
    VersionedTable.append(spark, root,
      (300L until 400L).toDF("id")
        .withColumn("bucket", lit(7).cast("int"))
        .withColumn("v", when(col("id") % 5 =!= 0, col("id"))))
    val g = rel(root).groupBy("bucket")
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min("id").as("lo"), max("id").as("hi"))
    assert(metaAnswered(g), g.queryExecution.optimizedPlan.toString)
    val got = g.collect().map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0) == ((100L, 80L, 0L, 297L)))
    assert(got(1) == ((100L, 80L, 1L, 298L)))
    assert(got(2) == ((100L, 80L, 2L, 299L)))
    assert(got(7) == ((100L, 80L, 300L, 399L)))
  }

  test("SELECT DISTINCT over a partition column is a manifest read") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0L until 60L).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 3).cast("string")))
    VersionedTable.create(spark, root, d, partitionBy = Seq("src"))
    val distinct = rel(root).select("src").distinct()
    assert(metaAnswered(distinct),
      distinct.queryExecution.optimizedPlan.toString)
    assert(distinct.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("s0", "s1", "s2"))
  }

  test("GROUP BY a file-clustered long column works; multi-valued files refuse") {
    import spark.implicits._
    val root = freshRoot()
    // repartition(3, g): each g lands wholly in one file, but files may
    // carry several g values — multi-valued per file → refuse
    val d = (0L until 90L).toDF("id").withColumn("g", col("id") % 9)
    VersionedTable.create(spark, root, d.repartition(3, col("g")))
    val multi = rel(root).groupBy("g").agg(count(lit(1)).as("n"))
    assert(!metaAnswered(multi))
    assert(multi.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 9L).map(_ -> 10L).toMap)
    // one-file-per-value clustering → metadata answers
    val root2 = freshRoot()
    VersionedTable.create(spark, root2, d.repartition(9, col("g")))
    val byG = rel(root2).groupBy("g").agg(count(lit(1)).as("n"))
    val got = byG.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L until 9L).map(_ -> 10L).toMap)
    // (repartition(9) on 9 keys may still co-locate two values — only
    // assert the rewrite when the layout really is single-valued)
    val singleValued = VersionedTable.metaFiles(spark, root2).forall(f =>
      f.stats.get("g").exists(s => s.lo == s.hi))
    assert(metaAnswered(byG) == singleValued)
  }

  test("grouped: string partition values and DV-bearing groups") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0L until 120L).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
    VersionedTable.create(spark, root, d, partitionBy = Seq("src"))
    val g0 = rel(root).groupBy("src").agg(count(lit(1)).as("n"))
    assert(metaAnswered(g0))
    assert(g0.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s0" -> 60L, "s1" -> 60L))
    // vectored delete: grouped count stays exact via per-file cardinalities
    VersionedTable.deleteWhereVectored(spark, root,
      Map("id" -> (None, Some(19L))), col("id") < 20L)
    val g1 = rel(root).groupBy("src").agg(count(lit(1)).as("n"))
    assert(metaAnswered(g1), "grouped count under DVs is still exact")
    assert(g1.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s0" -> 50L, "s1" -> 50L))
    // ...and grouped min under DVs answers from the refreshed live stats
    val g2 = rel(root).groupBy("src").agg(min("id").as("lo"))
    assert(metaAnswered(g2), "grouped min under DVs via live stats")
    assert(g2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s0" -> 20L, "s1" -> 21L))
  }

  test("WHERE over a partition column is decided per file from metadata") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0L until 400L).toDF("id")
      .withColumn("bucket", (col("id") % 4).cast("int"))
      .withColumn("v", when(col("id") % 5 =!= 0, col("id")))
    VersionedTable.create(spark, root, d, partitionBy = Seq("bucket"))
    val c = rel(root).filter(col("bucket") >= 2)
      .agg(count(lit(1)).as("n"), min("id").as("lo"), count(col("v")).as("nv"))
    assert(metaAnswered(c), c.queryExecution.optimizedPlan.toString)
    val r = c.collect().head
    assert(r.getLong(0) == 200L && r.getLong(1) == 2L && r.getLong(2) == 160L)
    // filtered + grouped together
    val g = rel(root).filter(col("bucket") =!= 0)
      .groupBy("bucket").agg(count(lit(1)).as("n"))
    assert(metaAnswered(g))
    assert(g.collect().map(r2 => r2.getInt(0) -> r2.getLong(1)).toMap ==
      Map(1 -> 100L, 2 -> 100L, 3 -> 100L))
    // a predicate touching a per-file MULTI-valued column must scan
    val m = rel(root).filter(col("bucket") === 1 && col("id") > 100L)
      .agg(count(lit(1)).as("n"))
    assert(!metaAnswered(m))
    assert(m.collect().head.getLong(0) == 75L)
    // vectored delete: filtered count stays exact via cardinalities
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") % 10 === 0 && col("bucket") === 2)
    val cd = rel(root).filter(col("bucket") === 2).agg(count(lit(1)).as("n"))
    assert(metaAnswered(cd))
    // ids ≡ 10 (mod 20) deleted: 20 of bucket 2's 100 rows
    assert(cd.collect().head.getLong(0) == 80L)
  }

  test("q196: the filtered+grouped dashboard runs with zero scans") {
    val df = graft.queries.LakehouseQueries
      .defs("q196_meta_filter_group")(spark, sf)
    assert(metaAnswered(df), df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(r => r.getInt(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val truth = Tables.events(spark, sf)
      .select(col("event_id"), (col("user_id") % 8).cast("int").as("bucket"),
        when(col("event_id") % 6 =!= 0, col("event_id")).as("e_null"))
      .filter(col("bucket").between(2, 6)).groupBy("bucket")
      .agg(count(lit(1)), count(col("e_null")), min("event_id"), max("event_id"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == truth)
  }

  test("a fully-vectored partition emits no phantom group or DISTINCT value") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0L until 100L).toDF("id")
      .withColumn("src", concat(lit("s"), (col("id") % 2).cast("string")))
    VersionedTable.create(spark, root, d, partitionBy = Seq("src"))
    // vector away EVERY s0 row: the s0 group must vanish, not report 0
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("src") === "s0")
    val g = rel(root).groupBy("src").agg(count(lit(1)).as("n"))
    assert(metaAnswered(g))
    assert(g.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("s1" -> 50L))
    val distinct = rel(root).select("src").distinct()
    assert(metaAnswered(distinct))
    assert(distinct.collect().map(_.getString(0)).toSeq == Seq("s1"))
  }

  test("DATE partition columns: the advertised GROUP BY day dashboard") {
    import spark.implicits._
    val root = freshRoot()
    val d = (0 until 90).toDF("n")
      .withColumn("day", date_add(to_date(lit("2024-03-01")), col("n") % 3))
      .withColumn("id", col("n").cast("long")).drop("n")
    VersionedTable.create(spark, root, d, partitionBy = Seq("day"))
    val g = rel(root).filter(col("day") >= to_date(lit("2024-03-02")))
      .groupBy("day").agg(count(lit(1)).as("n"), min("id").as("lo"))
    assert(metaAnswered(g), g.queryExecution.optimizedPlan.toString)
    val got = g.collect().map(r =>
      r.getDate(0).toString -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("2024-03-02" -> ((30L, 1L)), "2024-03-03" -> ((30L, 2L))))
  }

  test("timestamp min/max answers from the manifest via the recorded stat unit") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0L until 500L).toDF("id")
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
        col("id") * 60000000L)) // one-minute grid from a fixed epoch
      .repartition(3)
    VersionedTable.create(spark, root, df)
    // the commit recorded the parquet logical annotation alongside the
    // long bound — without it an INT64 stat can't prove micros vs millis
    val stats = VersionedTable.metaFiles(spark, root).map(_.stats("ts"))
    assert(stats.forall(s => s.typ == "long" && s.unit == "ts-micros"),
      s"expected ts-micros units, got ${stats.map(_.unit).distinct}")
    val mm = rel(root).agg(min("ts").as("lo"), max("ts").as("hi"))
    assert(metaAnswered(mm), mm.queryExecution.optimizedPlan.toString)
    val r = mm.collect().head
    assert(r.getTimestamp(0).getTime == 1700000000000L)
    assert(r.getTimestamp(1).getTime == 1700000000000L + 499L * 60000L)
    // a pre-unit manifest (unit field absent) must refuse — strip the
    // "u" fields and re-ask
    val mf = java.nio.file.Paths.get(root, "_log", "v00000001.manifest.json")
    import scala.jdk.CollectionConverters._
    import com.fasterxml.jackson.databind.node.ObjectNode
    def statsOf(d: ObjectNode) = d.get("stats").asScala.map(_.asInstanceOf[ObjectNode])
    assert(statsOf(LogDocs.read(mf)).exists(_.path("u").asText == "ts-micros"))
    LogDocs.edit(mf)(d => statsOf(d).foreach(_.remove("u")))
    val again = rel(root).agg(min("ts").as("lo"))
    assert(!metaAnswered(again), "an unlabeled timestamp bound must refuse")
    assert(again.collect().head.getTimestamp(0).getTime == 1700000000000L)
  }

  test("timestamp min/max stays answerable under DVs via live stats") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 300L).toDF("id")
        .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
          col("id") * 1000000L)).coalesce(1))
    // delete the earliest 50 instants: the raw footer minimum is deleted
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") < 50L)
    val mm = rel(root).agg(min("ts").as("lo"), count(lit(1)).as("n"))
    assert(metaAnswered(mm), mm.queryExecution.optimizedPlan.toString)
    val r = mm.collect().head
    assert(r.getTimestamp(0).getTime == 1700000000000L + 50000L)
    assert(r.getLong(1) == 250L)
  }

  test("sum answers from metadata after indexSums; stays exact through a vectored delete") {
    import spark.implicits._
    val root = freshRoot()
    val base = (0L until 400L).toDF("id")
      .withColumn("v", when(col("id") % 4 =!= 0, col("id") * 3)) // 1/4 null
      .withColumn("x", col("id").cast("double"))
      .repartition(3)
    VersionedTable.create(spark, root, base)
    // footers record no sums: un-indexed sum must refuse (and be right)
    val pre = rel(root).agg(sum(col("v")).as("s"))
    assert(!metaAnswered(pre))
    assert(pre.collect().head.getLong(0) == 180000L)
    VersionedTable.indexSums(spark, root, Seq("id", "v"))
    val s1 = rel(root).agg(sum(col("v")).as("s"), sum(col("id")).as("si"),
      count(lit(1)).as("n"))
    assert(metaAnswered(s1), s1.queryExecution.optimizedPlan.toString)
    val r = s1.collect().head
    assert(r.getLong(0) == 180000L && r.getLong(1) == 79800L &&
      r.getLong(2) == 400L)
    // a new un-indexed file refuses the whole answer (all-or-nothing);
    // incremental maintenance restores it at O(new files)
    VersionedTable.append(spark, root, (400L until 500L).toDF("id")
      .withColumn("v", when(col("id") % 4 =!= 0, col("id") * 3))
      .withColumn("x", col("id").cast("double")))
    assert(!metaAnswered(rel(root).agg(sum(col("id")).as("s"))))
    VersionedTable.indexSums(spark, root, Seq("id", "v"), onlyMissing = true)
    val s2 = rel(root).agg(sum(col("id")).as("s"))
    assert(metaAnswered(s2))
    assert(s2.collect().head.getLong(0) == 124750L)
    // merge-on-read delete: the DML's refresh pass keeps sums live-exact
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") % 10 === 0)
    val s3 = rel(root).agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
    assert(metaAnswered(s3), "sums must survive a vectored delete")
    val r3 = s3.collect().head
    assert(r3.getLong(0) == 112500L && r3.getLong(1) == 450L)
    // double sums are order-dependent FP accumulation — always refused
    val d = rel(root).agg(sum(col("x")).as("s"))
    assert(!metaAnswered(d))
    // and indexSums refuses non-integral columns outright
    intercept[IllegalArgumentException] {
      VersionedTable.indexSums(spark, root, Seq("x"))
    }
    // exact-or-absent: a file whose total overflows Long stores NO sum
    // (try_sum) — the build cannot abort under ANSI, nothing wrapped is
    // ever served, and the query refuses to the scan
    val root2 = freshRoot()
    VersionedTable.create(spark, root2,
      (0L until 10L).toDF("n")
        .select((lit(Long.MaxValue / 4) + col("n")).as("big")).coalesce(1))
    VersionedTable.indexSums(spark, root2, Seq("big"))
    assert(VersionedTable.metaFiles(spark, root2).head.stats("big").sum.isEmpty,
      "an overflowed per-file sum must store as absent, never wrapped")
    assert(!metaAnswered(rel(root2).agg(sum(col("big")).as("s"))),
      "absent sums refuse to the scan (which keeps its own mode's semantics)")
  }

  test("decimal sum/avg answer from metadata and stay exact through a vectored delete") {
    import spark.implicits._
    val root = freshRoot()
    val base = (0L until 300L).toDF("id")
      .withColumn("amount",
        when(col("id") % 5 =!= 0,
          (col("id") * 7 + 3).cast("decimal(12,2)") / 4)) // 1/5 null
      .repartition(3)
    // decimal(14,2) after the divide? pin the declared type explicitly
    val typed = base.select(col("id"), col("amount").cast("decimal(12,2)").as("amount"))
    VersionedTable.create(spark, root, typed)
    val expSum = typed.agg(sum("amount")).collect().head.getDecimal(0)
    val expAvg = typed.agg(avg("amount")).collect().head.getDecimal(0)
    // un-indexed: refuses (footers record no sums), still right
    assert(!metaAnswered(rel(root).agg(sum("amount").as("s"))))
    VersionedTable.indexSums(spark, root, Seq("amount"))
    val q = rel(root).agg(sum("amount").as("s"), avg("amount").as("a"),
      count(lit(1)).as("n"))
    assert(metaAnswered(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect().head
    assert(r.getDecimal(0) == expSum, s"${r.getDecimal(0)} vs $expSum")
    assert(r.getDecimal(1) == expAvg, s"${r.getDecimal(1)} vs $expAvg")
    assert(r.getLong(2) == 300L)
    // the DML refresh keeps decimal sums live-exact
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") % 3 === 0)
    val q2 = rel(root).agg(sum("amount").as("s"), avg("amount").as("a"))
    assert(metaAnswered(q2), "decimal sums must survive a vectored delete")
    val surv = typed.filter(col("id") % 3 =!= 0)
    val r2 = q2.collect().head
    assert(r2.getDecimal(0) == surv.agg(sum("amount")).collect().head.getDecimal(0))
    assert(r2.getDecimal(1) == surv.agg(avg("amount")).collect().head.getDecimal(0))
    // avg over an INTEGRAL column answers too (exact long total ÷ live
    // count — sound here because the worst-case Σ|v| is far under 2^53,
    // where the scan's double buffer is exact on every addition order),
    // and matches the scan bit-for-bit on the DV-bearing snapshot
    VersionedTable.indexSums(spark, root, Seq("id"))
    val qa = rel(root).agg(avg("id").as("a"))
    assert(metaAnswered(qa), "in-bound integral avg must answer")
    assert(qa.collect().head.getDouble(0) ==
      surv.agg(avg("id")).collect().head.getDouble(0))
  }

  test("integral avg: zero-scan in bounds, refuses past the 2^53 exactness bound") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 300L).toDF("id")
        .withColumn("v", when(col("id") % 6 =!= 0, col("id") * 11)) // nulls
        .repartition(3))
    VersionedTable.indexSums(spark, root, Seq("v"))
    val q = rel(root).agg(avg("v").as("a"), count(lit(1)).as("n"))
    assert(metaAnswered(q), q.queryExecution.optimizedPlan.toString)
    val exp = (0L until 300L).filter(_ % 6 != 0).map(_ * 11)
    assert(q.collect().head.getDouble(0) == exp.sum.toDouble / exp.size)
    // survives a vectored delete (the DML refresh keeps sums live-exact)
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") % 5 === 0)
    val q2 = rel(root).agg(avg("v").as("a"))
    assert(metaAnswered(q2), "integral avg must survive a vectored delete")
    val exp2 = (0L until 300L).filter(i => i % 6 != 0 && i % 5 != 0).map(_ * 11)
    assert(q2.collect().head.getDouble(0) == exp2.sum.toDouble / exp2.size)
    // past the bound: rows·max|v| ≥ 2^53 means some addition order could
    // round in the scan's double buffer — metadata must refuse, and the
    // scan keeps its own semantics
    val root2 = freshRoot()
    VersionedTable.create(spark, root2,
      (0L until 100L).toDF("n")
        .select((lit(1L << 51) + col("n")).as("big")).coalesce(1))
    VersionedTable.indexSums(spark, root2, Seq("big"))
    assert(metaAnswered(rel(root2).agg(sum(col("big")).as("s"))),
      "the exact long SUM still answers")
    assert(!metaAnswered(rel(root2).agg(avg(col("big")).as("a"))),
      "avg past the 2^53 worst-case bound must refuse to the scan")
  }

  test("decimal min/max answer from the unscaled index; un-indexed refuses") {
    import spark.implicits._
    val root = freshRoot()
    val typed = (0L until 200L).toDF("id")
      .withColumn("amount",
        when(col("id") % 7 =!= 0, (col("id") * 3 + 1).cast("decimal(10,2)") / 8)
          .cast("decimal(10,2)"))
      .repartition(3)
    VersionedTable.create(spark, root, typed)
    // footers skip decimal stats entirely: min/max must refuse pre-index
    assert(!metaAnswered(rel(root).agg(min("amount").as("lo"))))
    VersionedTable.indexSums(spark, root, Seq("amount"))
    val q = rel(root).agg(min("amount").as("lo"), max("amount").as("hi"))
    assert(metaAnswered(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect().head
    val exp = typed.agg(min("amount"), max("amount")).collect().head
    assert(r.getDecimal(0) == exp.getDecimal(0) &&
      r.getDecimal(1) == exp.getDecimal(1))
    // stays live-exact through a vectored delete of the extremes
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("id") < 20 || col("id") >= 180)
    val q2 = rel(root).agg(min("amount").as("lo"), max("amount").as("hi"))
    assert(metaAnswered(q2))
    val surv = typed.filter(col("id") >= 20 && col("id") < 180)
    val exp2 = surv.agg(min("amount"), max("amount")).collect().head
    val r2 = q2.collect().head
    assert(r2.getDecimal(0) == exp2.getDecimal(0) &&
      r2.getDecimal(1) == exp2.getDecimal(1),
      "post-delete bounds must be survivor-exact, not the raw extremes")
  }

  test("metadata aggregates survive a column rename (stats re-key with the name)") {
    import spark.implicits._
    val root = freshRoot()
    val typed = (0L until 100L).toDF("id")
      .withColumn("v", col("id") * 2).repartition(2)
    VersionedTable.create(spark, root, typed)
    VersionedTable.indexSums(spark, root, Seq("v"))
    VersionedTable.renameColumn(spark, root, "v", "weight")
    val q = rel(root).agg(sum("weight").as("s"), min("weight").as("lo"),
      max("weight").as("hi"), count(lit(1)).as("n"))
    assert(metaAnswered(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect().head
    assert(r.getLong(0) == (0L until 100L).map(_ * 2).sum)
    assert(r.getLong(1) == 0L && r.getLong(2) == 198L && r.getLong(3) == 100L)
  }

  test("count(DISTINCT part) answers from the manifest; multi-valued files refuse") {
    import spark.implicits._
    val root = freshRoot()
    val df = (0L until 120L).toDF("id")
      .withColumn("bucket", (col("id") % 6).cast("int"))
      .withColumn("s", concat(lit("v"), col("id")))
    VersionedTable.create(spark, root, df, partitionBy = Seq("bucket"))
    val q = rel(root).agg(countDistinct("bucket").as("nb"),
      count(lit(1)).as("n"))
    assert(metaAnswered(q), q.queryExecution.optimizedPlan.toString)
    val r = q.collect().head
    assert(r.getLong(0) == 6L && r.getLong(1) == 120L)
    // filtered: the distinct count narrows with the decided file set
    val qf = rel(root).filter(col("bucket") >= 4)
      .agg(countDistinct("bucket").as("nb"))
    assert(metaAnswered(qf), qf.queryExecution.optimizedPlan.toString)
    assert(qf.collect().head.getLong(0) == 2L)
    // a fully-vectored partition's value disappears from the distinct set
    VersionedTable.deleteWhereVectored(spark, root,
      Map("bucket" -> (Some(5L), Some(5L))), col("bucket") === 5)
    val qd = rel(root).agg(countDistinct("bucket").as("nb"))
    assert(metaAnswered(qd))
    assert(qd.collect().head.getLong(0) == 5L,
      "a deleted partition must not be a phantom distinct value")
    // multi-valued column: refuses, stays correct
    val qm = rel(root).agg(countDistinct("id").as("n"))
    assert(!metaAnswered(qm))
    assert(qm.collect().head.getLong(0) == 100L)
  }

  test("q202: the summed partition dashboard runs with zero scans") {
    val df = graft.queries.LakehouseQueries.defs("q202_meta_sums")(spark, sf)
    val scans = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }
    assert(scans.isEmpty,
      s"sum/count after index_sums + vectored delete must be scan-free, " +
        s"got ${scans.size} relations")
    val got = df.collect().map(r =>
      r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exp = Tables.events(spark, sf)
      .filter(col("event_id") % 9 =!= 0)
      .groupBy((col("user_id") % 8).cast("int").as("bucket"))
      .agg(count(lit(1)), sum(col("event_id")))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == exp)
  }

  test("q207: the decimal money dashboard (sum/avg/count-distinct) runs with zero scans") {
    val df = graft.queries.LakehouseQueries.defs("q207_meta_decimal")(spark, sf)
    val scans = df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr
    }
    assert(scans.isEmpty,
      s"decimal sum/avg + count(distinct) after index_sums + vectored " +
        s"delete must be scan-free, got ${scans.size} relations")
    // spot-check against a raw recompute (the oracle gate does the full
    // hash; this pins it inside ScalaTest too)
    val surv = Tables.events(spark, sf)
      .select(col("event_id"), col("value").cast("decimal(12,2)").as("amount"),
        (col("user_id") % 4).cast("int").as("bucket"))
      .filter(col("event_id") % 7 =!= 0)
    val got = df.filter(col("bucket") >= 0).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    val exp = surv.groupBy(col("bucket").cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"), sum("amount").cast("double").as("s"),
        (avg("amount") * lit(1000000)).cast("long").as("am"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(got == exp)
  }

  test("a fully-vectored file exempts from filtered/grouped answers, never refuses them") {
    import spark.implicits._
    val root = freshRoot()
    // two g-clustered files; vector away ALL of g=0's rows — that file's
    // refreshable stats drop with its last survivors, and without the
    // dead-file exemption every filtered/grouped metadata query on the
    // table would silently fall back to a full scan forever
    VersionedTable.create(spark, root,
      (0L until 20L).toDF("id").withColumn("g", lit(0L)).coalesce(1))
    VersionedTable.append(spark, root,
      (20L until 40L).toDF("id").withColumn("g", lit(1L)).coalesce(1))
    VersionedTable.deleteWhereVectored(spark, root, Map.empty, col("g") === 0)
    val fm = VersionedTable.metaFiles(spark, root)
    assert(fm.exists(f => f.rows.contains(20L) && f.dvCard == 20L),
      "fixture: one file must be fully vectored")
    val f = rel(root).filter(col("g") === 1).agg(count(lit(1)).as("n"))
    assert(metaAnswered(f), "the dead file is exempt from WHERE decidability")
    assert(f.collect().head.getLong(0) == 20L)
    val g = rel(root).groupBy("g").agg(count(lit(1)).as("n"), min("id").as("lo"))
    assert(metaAnswered(g), "the dead file is exempt from GROUP BY keying")
    assert(g.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap == Map(1L -> ((20L, 20L))))
  }

  test("the rewrite can be disabled by conf") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, (0L until 20L).toDF("id"))
    spark.conf.set("spark.graft.metaAggregates", "false")
    try {
      val c = rel(root).groupBy().agg(count(lit(1)).as("n"))
      assert(!metaAnswered(c))
      assert(c.collect().head.getLong(0) == 20L)
    } finally spark.conf.set("spark.graft.metaAggregates", "true")
  }
}
