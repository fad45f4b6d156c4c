package graft

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable
import graft.sources.VersionedSource

/** The versioned table's SQL/DataFrame face: format registration, save
  * modes as commits, time travel via option, SQL DDL + INSERT, and —
  * the scale point — pushed filters pruning manifest files before the
  * parquet scan (asserted via the recorded scan decision). */
class VersionedSourceSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_vsrc").resolve("t").toString

  /** 4 files, each covering one disjoint id range of 100. */
  private def clustered(root: String): Unit = {
    import spark.implicits._
    val rows = (0L until 400L).toDF("id")
      .withColumn("grp", concat(lit("g"), (col("id") % 7).cast("string")))
      .withColumn("payload", col("id") * 10)
      .repartitionByRange(4, col("id"))
    VersionedTable.create(spark, root, rows)
  }

  test("format round-trip: write modes are commits, load reads the snapshot") {
    import spark.implicits._
    val root = freshRoot()
    Seq(1L, 2L).toDF("id").write.format("graft-versioned").save(root)
    Seq(3L).toDF("id").write.format("graft-versioned")
      .mode(SaveMode.Append).save(root)
    assert(VersionedTable.versions(spark, root) == Seq(1, 2))
    val got = spark.read.format("graft-versioned").load(root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
    // overwrite is a new version, not a directory mutation
    Seq(9L).toDF("id").write.format("graft-versioned")
      .mode(SaveMode.Overwrite).save(root)
    assert(VersionedTable.versions(spark, root) == Seq(1, 2, 3))
    val v2 = spark.read.format("graft-versioned")
      .option("versionAsOf", "2").load(root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(v2 == Seq(1L, 2L, 3L))
  }

  test("pushed range filter prunes manifest files before the scan") {
    import spark.implicits._
    val root = freshRoot()
    clustered(root)
    val df = spark.read.format("graft-versioned").load(root)
    val hit = df.filter(col("id").between(110L, 130L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(hit == (110L to 130L).toSeq)
    val scan = VersionedSource.lastScan.get
    assert(scan.totalFiles == 4 && scan.openedFiles == 1,
      s"expected 1 of 4 files opened, got $scan")
    // an unfiltered COLUMN read opens everything...
    assert(df.select("id").collect().length == 400)
    assert(VersionedSource.lastScan.get.openedFiles == 4)
    // ...but an unfiltered count() is answered from the MANIFEST
    // (MetaAggregates): no scan runs, so lastScan does not move
    VersionedSource.lastScan = None
    assert(df.count() == 400L)
    assert(VersionedSource.lastScan.isEmpty,
      "count(*) over the relation must not open any data file")
  }

  test("SQL surface: CREATE TABLE USING, WHERE pushdown, INSERT INTO") {
    import spark.implicits._
    val root = freshRoot()
    clustered(root)
    spark.sql(s"CREATE TABLE vsrc_t USING `graft-versioned` OPTIONS (path '$root')")
    try {
      val n = spark.sql(
        "SELECT count(*) AS n FROM vsrc_t WHERE id >= 300").as[Long].head()
      assert(n == 100L)
      val scan = VersionedSource.lastScan.get
      assert(scan.openedFiles < scan.totalFiles,
        s"SQL WHERE must prune files, got $scan")
      // INSERT INTO is an append commit; the relation re-resolves per query
      spark.sql("INSERT INTO vsrc_t VALUES (1000, 'g9', 7)")
      assert(VersionedTable.versions(spark, root).size == 2)
      val got = spark.sql(
        "SELECT payload FROM vsrc_t WHERE id = 1000").as[Long].collect().toSeq
      assert(got == Seq(7L))
    } finally spark.sql("DROP TABLE vsrc_t")
  }

  test("equality on a bloom-indexed column prunes scattered files") {
    import spark.implicits._
    val root = freshRoot()
    // keys scattered so range stats cannot help: each file spans the domain
    val rows = (0L until 400L).toDF("id")
      .withColumn("key", concat(lit("k"), (col("id") % 100).cast("string")))
      .repartition(4, col("id") % 4)
    VersionedTable.create(spark, root, rows)
    VersionedTable.indexBloom(spark, root, Seq("key"))
    val df = spark.read.format("graft-versioned").load(root)
    val got = df.filter(col("key") === "k17")
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(17L, 117L, 217L, 317L))
    val scan = VersionedSource.lastScan.get
    assert(scan.openedFiles <= scan.totalFiles, s"bloom scan: $scan")
    // a key absent from the table opens zero files (all blooms reject)
    assert(df.filter(col("key") === "nosuchkey").count() == 0L)
    assert(VersionedSource.lastScan.get.openedFiles == 0)
  }

  test("date-typed pushdown converts to the recorded stat domain") {
    import spark.implicits._
    val root = freshRoot()
    val rows = (0 until 200).toDF("n")
      .withColumn("d", date_add(to_date(lit("2024-01-01")), col("n")))
      .withColumn("id", col("n").cast("long")).drop("n")
      .repartitionByRange(4, col("d"))
    VersionedTable.create(spark, root, rows)
    val df = spark.read.format("graft-versioned").load(root)
    val got = df.filter(col("d") === to_date(lit("2024-03-01"))).count()
    assert(got == 1L)
    val scan = VersionedSource.lastScan.get
    assert(scan.totalFiles == 4 && scan.openedFiles == 1,
      s"date equality must hit one range-clustered file, got $scan")
  }

  test("time travel by wall clock: timestampAsOf resolves the version a reader saw") {
    import spark.implicits._
    val root = freshRoot()
    Seq(1L, 2L).toDF("id").write.format("graft-versioned").save(root)
    Thread.sleep(30) // separate the commit mtimes
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Seq(3L).toDF("id").write.format("graft-versioned")
      .mode(SaveMode.Append).save(root)
    assert(VersionedTable.versionAsOf(spark, root, between) == 1)
    assert(VersionedTable.history(spark, root).map(_._1) == Seq(1, 2))
    val got = spark.read.format("graft-versioned")
      .option("timestampAsOf", between.toString).load(root)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 2L))
    val before = intercept[IllegalArgumentException] {
      VersionedTable.versionAsOf(spark, root, 1L)
    }
    assert(before.getMessage.contains("no version"))
    // IN-COMMIT timestamps: the commit time travels in the manifest, so
    // a backup-restore (or cp -r) that mangles every file mtime changes
    // NOTHING — versionAsOf still resolves from the recorded stamps
    new java.io.File(root, "_log").listFiles()
      .foreach(f => assert(f.setLastModified(86400000L)))
    assert(VersionedTable.versionAsOf(spark, root, between) == 1,
      "time travel must survive mtime mangling")
    val stamps = VersionedTable.commitTimestamps(spark, root)
    assert(stamps.map(_._1) == Seq(1, 2) &&
      stamps.forall(_._2 > 86400000L) &&
      stamps(0)._2 < stamps(1)._2,
      s"recorded stamps, monotonic, not the mangled mtime: $stamps")
  }

  test("naive timestampAsOf strings resolve in the SESSION timezone (Delta parity)") {
    import spark.implicits._
    val root = freshRoot()
    Seq(1L).toDF("id").write.format("graft-versioned").save(root)   // v1
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    Seq(2L).toDF("id").write.format("graft-versioned")
      .mode(SaveMode.Append).save(root)                              // v2
    // the same WALL-CLOCK instant spelled as a naive local datetime in
    // two different session zones must resolve the same version — a
    // user porting a Delta time-travel query expects session binding
    val prior = spark.conf.get("spark.sql.session.timeZone")
    try {
      for (zone <- Seq("UTC", "Asia/Kolkata")) {
        spark.conf.set("spark.sql.session.timeZone", zone)
        val naive = java.time.Instant.ofEpochMilli(between)
          .atZone(java.time.ZoneId.of(zone)).toLocalDateTime.toString
        assert(VersionedTable.versionAsOf(spark, root,
          VersionedTable.parseTsMillis(spark, naive)) == 1,
          s"naive '$naive' in session zone $zone must resolve v1")
        assert(spark.read.format("graft-versioned")
          .option("timestampAsOf", naive).load(root).count() == 1)
      }
      // zone-carrying ISO and epoch millis stay session-independent
      spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
      val iso = java.time.Instant.ofEpochMilli(between).toString
      assert(VersionedTable.parseTsMillis(spark, iso) == between)
      assert(VersionedTable.parseTsMillis(spark, between.toString) == between)
    } finally spark.conf.set("spark.sql.session.timeZone", prior)
  }

  test("commitTimestamps monotonize mixed-provenance stamps") {
    import spark.implicits._
    val root = freshRoot()
    Seq(1L).toDF("id").write.format("graft-versioned").save(root)   // v1
    Seq(2L).toDF("id").write.format("graft-versioned")
      .mode(SaveMode.Append).save(root)                              // v2
    // simulate a backup-restore of a PRE-cts manifest: strip v1's
    // in-commit stamp and stamp the file with the (future) restore
    // time — the raw sequence [future, now] is non-monotonic, exactly
    // the mangled-mtime scenario takeWhile-based resolution must not
    // mis-resolve on. The running-max adjustment (Delta's recipe)
    // restores version-order monotonicity.
    val m1 = new java.io.File(root, "_log/v00000001.manifest.json")
    LogDocs.edit(m1.toPath)(_.remove("cts"))
    val future = System.currentTimeMillis() + 86400000L
    assert(m1.setLastModified(future))
    val stamps = VersionedTable.commitTimestamps(spark, root)
    assert(stamps.map(_._1) == Seq(1, 2), stamps.toString)
    assert(stamps(0)._2 <= stamps(1)._2,
      s"adjusted sequence must be monotone in version order: $stamps")
    assert(stamps(0)._2 >= future, "v1 carries the restore-time fallback")
    // resolution over the adjusted sequence is total-order consistent:
    // at/after the newest adjusted stamp every version resolves
    assert(VersionedTable.versionAsOf(spark, root, stamps(1)._2) == 2)
  }

  test("truthful sizeInBytes lets a small snapshot broadcast in a join") {
    import spark.implicits._
    val root = freshRoot()
    Seq((1L, "a"), (2L, "b")).toDF("id", "tag").write
      .format("graft-versioned").save(root)
    val dim = spark.read.format("graft-versioned").load(root)
    val fact = (0L until 1000L).toDF("id")
    val joined = fact.join(dim, "id")
    val physical = joined.queryExecution.executedPlan.toString
    assert(physical.contains("BroadcastHashJoin"),
      s"2-row versioned dim must broadcast:\n$physical")
    assert(joined.count() == 2L)
  }
}
