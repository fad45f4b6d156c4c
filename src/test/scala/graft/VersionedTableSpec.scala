package graft

import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** Contract tests for the manifest-based versioned table format:
  * time travel, snapshot isolation across commits and compaction,
  * rollback-as-commit, schema-on-write enforcement, and expiry GC. */
class VersionedTableSpec extends SparkSpec {

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_vt").resolve("t").toString

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toSeq.toDF("id").withColumn("payload", col("id") * 10)
  }

  private def idsOf(frame: org.apache.spark.sql.DataFrame): Seq[Long] =
    frame.select("id").collect().map(_.getLong(0)).sorted.toSeq

  /** Does this manifest entry belong to commit `v`? Matches the
    * `cV-nonce-` prefix of the FILE NAME component only — a bare
    * substring test ("c1-") can false-match the random parquet task
    * UUID embedded later in the name (observed: a c2 file whose uuid
    * contained "c1-" flaked two suites). */
  private def ofCommit(entry: String, v: Int): Boolean =
    entry.split('/').last.startsWith(s"c$v-")

  test("create/append/overwrite produce time-travelable versions") {
    val root = freshRoot()
    assert(VersionedTable.create(spark, root, df(1, 2)) == 1)
    assert(VersionedTable.append(spark, root, df(3)) == 2)
    assert(VersionedTable.overwrite(spark, root, df(9)) == 3)
    assert(VersionedTable.versions(spark, root) == Seq(1, 2, 3))
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(9L))
    assert(idsOf(VersionedTable.read(spark, root, Some(2))) == Seq(1L, 2L, 3L))
    assert(idsOf(VersionedTable.read(spark, root, Some(1))) == Seq(1L, 2L))
  }

  test("a resolved reader is isolated from later commits and compaction") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))
    val snapshot = VersionedTable.read(spark, root, Some(1))
    VersionedTable.append(spark, root, df(3, 4))
    VersionedTable.compact(spark, root, targetBytes = 1L) // no-op or rewrite
    VersionedTable.overwrite(spark, root, df(99))
    // the old frame still reads version 1's immutable files
    assert(idsOf(snapshot) == Seq(1L, 2L))
  }

  test("describeHistory: ops, counts, and live rows from manifests alone") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*))
    VersionedTable.append(spark, root, df(11L, 12L))
    VersionedTable.deleteWhereVectored(spark, root,
      Map("id" -> (Some(1L), Some(3L))), col("id") <= 3)
    VersionedTable.indexBloom(spark, root, Seq("id"))
    VersionedTable.rollback(spark, root, to = 2)
    val h = VersionedTable.describeHistory(spark, root)
      .select("version", "op", "n_live_rows", "n_deleted_rows")
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(h(1) == (("create", 10L, 0L)))
    assert(h(2) == (("append", 12L, 0L)))
    assert(h(3) == (("delete-vectored", 9L, 3L)))
    assert(h(4) == (("index-bloom", 9L, 3L)))
    assert(h(5) == (("rollback", 12L, 0L)))
    // a manifest from before the op field reads back as NULL, and a
    // missing row count turns n_live_rows NULL — never a wrong number
    LogDocs.edit(java.nio.file.Paths.get(root, "_log", "v00000001.manifest.json")) {
      d => d.remove("op"); d.remove("nrows")
    }
    val v1 = VersionedTable.describeHistory(spark, root)
      .filter(col("version") === 1).collect().head
    assert(v1.isNullAt(1) && v1.isNullAt(4))
  }

  test("rollback publishes an old file list as a new version") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))
    VersionedTable.overwrite(spark, root, df(2))
    val v = VersionedTable.rollback(spark, root, to = 1)
    assert(v == 3)
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L))
    // history is intact: the overwritten state is still version 2
    assert(idsOf(VersionedTable.read(spark, root, Some(2))) == Seq(2L))
  }

  test("append enforces the table schema by NAME; missing nullable columns null-fill") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))
    import spark.implicits._
    // unknown columns refuse
    val bad = Seq(("x", 1)).toDF("name", "n")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root, bad)
    }
    assert(e.getMessage.contains("not in the table"))
    // type mismatches refuse
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root,
        Seq(("2", 20L)).toDF("id", "payload"))
    }
    assert(e2.getMessage.contains("schema mismatch on id"))
    assert(VersionedTable.versions(spark, root) == Seq(1))
    // column ORDER aligns by name
    VersionedTable.append(spark, root,
      Seq((20L, 2L)).toDF("payload", "id"))
    assert(VersionedTable.read(spark, root).filter(col("id") === 2)
      .select("payload").collect().head.getLong(0) == 20L)
    // the Delta rule: after an addColumn, an OLD writer's frame (missing
    // the new nullable column) still appends — the column null-fills,
    // exactly what a pre-evolution file reads for it
    VersionedTable.addColumn(spark, root, "note", "string")
    VersionedTable.append(spark, root, df(3))
    val r3 = VersionedTable.read(spark, root).filter(col("id") === 3)
      .select("payload", "note").collect().head
    assert(r3.getLong(0) == 30L && r3.isNullAt(1))
    // missing NON-nullable columns still refuse (id/payload are NOT NULL)
    val e3 = intercept[IllegalArgumentException] {
      VersionedTable.append(spark, root, Seq(4L).toDF("id"))
    }
    assert(e3.getMessage.contains("missing non-nullable column payload"))
  }

  test("compact reduces file count as a new version; old versions intact") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 50L: _*).repartition(8))
    val before = VersionedTable.read(spark, root).inputFiles.length
    assert(before >= 4, s"expected a fragmented table, got $before files")
    val v = VersionedTable.compact(spark, root) // default target: 1 file here
    assert(v == 2)
    assert(VersionedTable.read(spark, root).inputFiles.length < before)
    assert(idsOf(VersionedTable.read(spark, root)) == (1L to 50L))
    assert(idsOf(VersionedTable.read(spark, root, Some(1))) == (1L to 50L))
  }

  test("expire drops old manifests and GCs unreferenced data files") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))     // v1
    VersionedTable.overwrite(spark, root, df(3))     // v2 (v1 files now dead)
    VersionedTable.append(spark, root, df(4))        // v3 (shares v2's files)
    val (manifests, files) = VersionedTable.expire(spark, root, keepLast = 2)
    assert(manifests == 1)
    assert(files >= 1, "v1's unreferenced files are GC'd")
    assert(VersionedTable.versions(spark, root) == Seq(2, 3))
    // surviving versions still read correctly (shared files kept)
    assert(idsOf(VersionedTable.read(spark, root, Some(2))) == Seq(3L))
    assert(idsOf(VersionedTable.read(spark, root, Some(3))) == Seq(3L, 4L))
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(1))
    }
  }

  test("appendTxn is idempotent per transaction id") {
    val root = freshRoot()
    assert(VersionedTable.appendTxn(spark, root, df(1), txn = 0L) == 1)
    assert(VersionedTable.appendTxn(spark, root, df(2), txn = 1L) == 2)
    // replay of txn 1 with DIFFERENT data must be a no-op
    assert(VersionedTable.appendTxn(spark, root, df(99), txn = 1L) == 2)
    assert(VersionedTable.versions(spark, root) == Seq(1, 2))
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L))
    assert(VersionedTable.committedTxns(spark, root) == Set(0L, 1L))
  }

  test("streaming versioned sink is exactly-once across checkpoint loss") {
    import graft.streaming.EventsStream
    val root = freshRoot()
    val src = EventsStream.stageEvents(sf, copies = 1)
    val expected = spark.read.parquet(src).count()
    def ckpt() = java.nio.file.Files.createTempDirectory("graft_vt_ck").toString
    EventsStream.appendVersionedStreaming(spark, src, root, ckpt())
    assert(VersionedTable.read(spark, root).count() == expected)
    // a FRESH checkpoint re-delivers batch 0; the txn ledger refuses the
    // double-apply, so the table does not double-count
    EventsStream.appendVersionedStreaming(spark, src, root, ckpt())
    assert(VersionedTable.read(spark, root).count() == expected)
  }

  // ---- manifest column stats + data skipping --------------------------------

  test("filtered reads open ONLY the files whose recorded [lo, hi] can match") {
    val root = freshRoot()
    // three appends with DISJOINT id ranges, one file per commit
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(11L to 20L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(21L to 30L: _*).coalesce(1))
    val all = VersionedTable.prunedFiles(spark, root, Map.empty)
    assert(all.size == 3)
    // point-ish range inside the middle commit → exactly the c2 file
    val mid = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(14L), Some(16L))))
    assert(mid.size == 1 && ofCommit(mid.head, 2),
      s"expected only commit 2's file, got $mid")
    // the pruned READ opens just that file and still answers correctly
    val r = VersionedTable.readWhere(spark, root, Map("id" -> (Some(14L), Some(16L))))
    assert(r.inputFiles.length == 1)
    assert(idsOf(r.filter(col("id").between(14, 16))) == Seq(14L, 15L, 16L))
    // range spanning two commits keeps both, drops the third
    val two = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(8L), Some(12L))))
    assert(two.size == 2 && two.forall(f => ofCommit(f, 1) || ofCommit(f, 2)))
    // open-ended bound: everything >= 21 → only commit 3
    val hi = VersionedTable.prunedFiles(spark, root, Map("id" -> (Some(21L), None)))
    assert(hi.size == 1 && ofCommit(hi.head, 3))
    // a provably-empty range prunes every file; the read is empty but typed
    val none = VersionedTable.readWhere(spark, root, Map("id" -> (Some(500L), None)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "payload"))
  }

  test("string-column stats prune; derived double column prunes independently") {
    import spark.implicits._
    val root = freshRoot()
    def sdf(names: (String, Double)*) = names.toSeq.toDF("name", "score")
    VersionedTable.create(spark, root, sdf("apple" -> 0.1, "banana" -> 0.2).coalesce(1))
    VersionedTable.append(spark, root, sdf("melon" -> 0.8, "peach" -> 0.9).coalesce(1))
    val m = VersionedTable.prunedFiles(spark, root,
      Map("name" -> (Some("m"), Some("z"))))
    assert(m.size == 1 && ofCommit(m.head, 2), s"expected only c2, got $m")
    val s = VersionedTable.prunedFiles(spark, root,
      Map("score" -> (None, Some(0.5))))
    assert(s.size == 1 && ofCommit(s.head, 1), s"expected only c1, got $s")
  }

  test("stats survive append carry-over, rollback, and time travel; compact recomputes") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))   // v1
    VersionedTable.append(spark, root, df(11L to 20L: _*).coalesce(1))  // v2
    // time travel: pruning at v1 sees only v1's file
    assert(VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(1L), Some(5L))), version = Some(1)).size == 1)
    // v2's carried-over v1 file kept its stats: a high range prunes it
    val hi2 = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(15L), None)), version = Some(2))
    assert(hi2.size == 1 && ofCommit(hi2.head, 2))
    VersionedTable.overwrite(spark, root, df(21L to 30L: _*).coalesce(1)) // v3
    val v4 = VersionedTable.rollback(spark, root, to = 2)                 // v4 = v2's files
    val hi4 = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(15L), None)), version = Some(v4))
    assert(hi4.size == 1 && ofCommit(hi4.head, 2),
      "rollback must carry the rolled-back version's stats")
    // compaction rewrites files; the new version re-records stats
    VersionedTable.compact(spark, root, targetBytes = Long.MaxValue)
    val afterCompact = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(500L), None)))
    assert(afterCompact.isEmpty, "compacted file's recorded max must prune id>=500")
  }

  test("deleteWhere rewrites ONLY the stats-matching files; history intact") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(11L to 20L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(21L to 30L: _*).coalesce(1))
    val before = VersionedTable.prunedFiles(spark, root, Map.empty)
    // delete ids 14-16: only commit 2's file can contain them
    val v = VersionedTable.deleteWhere(spark, root,
      Map("id" -> (Some(14L), Some(16L))), col("id").between(14, 16))
    assert(v == 4)
    val after = VersionedTable.prunedFiles(spark, root, Map.empty)
    // c1 and c3 files carried over BYTE-identical (same names); c2's file
    // was replaced by a c4 rewrite
    assert(after.count(f => ofCommit(f, 1) || ofCommit(f, 3)) == 2)
    assert(before.filter(f => ofCommit(f, 1) || ofCommit(f, 3))
      .forall(after.contains))
    assert(after.exists(ofCommit(_, 4)) && !after.exists(ofCommit(_, 2)))
    assert(idsOf(VersionedTable.read(spark, root)) ==
      ((1L to 13L) ++ (17L to 30L)))
    // time travel still sees the pre-delete data
    assert(idsOf(VersionedTable.read(spark, root, Some(3))) == (1L to 30L))
    // the rewritten file re-recorded stats: the deleted range now prunes
    // down to nothing inside the old c2 span except the surviving rows
    val survivors = VersionedTable.readWhere(spark, root,
      Map("id" -> (Some(11L), Some(20L))))
    assert(idsOf(survivors.filter(col("id").between(11, 20))) ==
      ((11L to 13L) ++ (17L to 20L)))
    // deleting an absent range is a pure carry-over commit (no rewrite)
    val v2 = VersionedTable.deleteWhere(spark, root,
      Map("id" -> (Some(500L), None)), col("id") >= 500)
    assert(v2 == 5)
    assert(VersionedTable.prunedFiles(spark, root, Map.empty).toSet == after.toSet)
  }

  test("mergeInto upserts by key, rewriting only the source-key-range files") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(11L to 20L: _*).coalesce(1))
    VersionedTable.append(spark, root, df(21L to 30L: _*).coalesce(1))
    // source: update 14/15 (payload no longer id*10) and insert 17 new ids
    // 31..47 — key span [14, 47] prunes commit 1's file (ids 1..10) only
    val source = (Seq(14L, 15L) ++ (31L to 45L)).toDF("id")
      .withColumn("payload", col("id") * 1000)
    val v = VersionedTable.mergeInto(spark, root, source, Seq("id"))
    // diagnostic context for the intermittent failure (NOTES "flake
    // watch"): the pruning decision + pre-merge stats visibility, so a
    // failure under full-suite load shows WHICH file kept/lost its
    // stats rather than just a mismatched id list
    def pruneDbg = "touched=" +
      VersionedTable.prunedFiles(spark, root,
        Map("id" -> (Some(14L), Some(45L))), Some(3)).mkString(",") +
      " all=" + VersionedTable.filesOf(spark, root).mkString(",")
    assert(v == 4, s"v=$v $pruneDbg")
    val files = VersionedTable.prunedFiles(spark, root, Map.empty)
    assert(files.exists(ofCommit(_, 1)),
      s"out-of-range file must carry over; $pruneDbg")
    assert(!files.exists(ofCommit(_, 2)) && !files.exists(ofCommit(_, 3)),
      s"in-range files must be rewritten: $files; $pruneDbg")
    val now = VersionedTable.read(spark, root)
    assert(idsOf(now) == (1L to 45L), s"ids=${idsOf(now)}; $pruneDbg")
    // replaced rows carry the SOURCE payload; unmatched target rows kept
    val payloads = now.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(payloads(14L) == 14000L && payloads(15L) == 15000L)
    assert(payloads(13L) == 130L && payloads(21L) == 210L)
    assert(payloads(40L) == 40000L)
    // pre-merge snapshot is intact
    assert(idsOf(VersionedTable.read(spark, root, Some(3))) == (1L to 30L))
    assert(VersionedTable.read(spark, root, Some(3))
      .filter(col("id") === 14).head.getLong(1) == 140L)
    // schema enforcement
    intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, root,
        Seq((1L, "x")).toDF("id", "name"), Seq("id"))
    }
  }

  test("mergeInto applies deletes in the same commit and is txn-idempotent") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))
    val ups = Seq(5L).toDF("id").withColumn("payload", col("id") * 1000)
    val dels = Seq(7L).toDF("id")
    assert(VersionedTable.mergeInto(spark, root, ups, Seq("id"),
      Some(dels), txn = Some(0L)) == 2)
    assert(idsOf(VersionedTable.read(spark, root)) == ((1L to 6L) ++ (8L to 10L)))
    assert(VersionedTable.read(spark, root).filter(col("id") === 5)
      .head.getLong(1) == 5000L)
    // replay of txn 0 with DIFFERENT data must be a no-op
    val replay = Seq(9L).toDF("id").withColumn("payload", col("id") * 9999)
    assert(VersionedTable.mergeInto(spark, root, replay, Seq("id"),
      None, txn = Some(0L)) == 2)
    assert(VersionedTable.versions(spark, root) == Seq(1, 2))
    assert(VersionedTable.read(spark, root).filter(col("id") === 9)
      .head.getLong(1) == 90L)
  }

  test("merge releases its materialized source blocks after the commit") {
    // the merge paths materialize source+deletes as persisted RDDs
    // (Bridge.materializeReleasable); a long-lived CDC writer replaying
    // thousands of batches must not accumulate cached blocks — every
    // merge unpersists in a finally after its commit (r19)
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def releases(what: String)(merge: => Unit): Unit = {
      merge
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(leaked.isEmpty,
        s"$what left persisted RDD(s) behind: ids $leaked")
    }
    def payloads = VersionedTable.read(spark, root).select("id", "payload")
      .as[(Long, Long)].collect().toMap
    releases("mergeInto")(VersionedTable.mergeInto(spark, root,
      Seq(5L).toDF("id").withColumn("payload", col("id") * 1000),
      Seq("id"), Some(Seq(7L).toDF("id"))))
    releases("mergeIntoVectored")(VersionedTable.mergeIntoVectored(spark, root,
      Seq(6L).toDF("id").withColumn("payload", col("id") * 1000),
      Seq("id"), Some(Seq(8L).toDF("id"))))
    // and the merges themselves landed (release happens AFTER the commit)
    assert(idsOf(VersionedTable.read(spark, root)) ==
      ((1L to 6L) ++ Seq(9L, 10L)))
    // applyChanges over local rows materializes its winner set too
    // (payload is the sequence column: 2000 > 20 wins, 10 < 30 is stale)
    releases("applyChanges")(VersionedTable.applyChanges(spark, root,
      Seq(2L -> 2000L, 3L -> 10L).toDF("id", "payload"), Seq("id"), "payload"))
    assert(payloads(2L) == 2000L && payloads(3L) == 30L)
    // the WHEN grammar, copy-on-write and then merge-on-read, over a
    // table of NULLABLE columns: the grammar's built rows are nullable,
    // so a NOT NULL target refuses them (see MergeWhenSpec's seed)
    val rootW = freshRoot()
    VersionedTable.create(spark, rootW, df(1L to 4L: _*)
      .select(Seq("id", "payload").map(c => when(col(c).isNotNull, col(c)).as(c)): _*)
      .coalesce(1))
    Seq(false -> 4000L, true -> 4001L).foreach { case (vectored, p) =>
      releases(s"mergeIntoWhenFull(vectored = $vectored)")(
        VersionedTable.mergeIntoWhenFull(spark, rootW,
          Seq(4L -> p).toDF("id", "payload"), Seq("id"),
          matched = Seq((None: Option[org.apache.spark.sql.Column]) ->
            (VersionedTable.MatchedUpdate(Map("payload" -> col("s.payload")))
              : VersionedTable.MatchedAction)),
          notMatched = Seq.empty, vectored = vectored))
      assert(VersionedTable.read(spark, rootW).select("id", "payload")
        .as[(Long, Long)].collect().toMap ==
        Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 4L -> p), s"vectored = $vectored")
    }
  }

  test("changesBetween diffs only the rewritten files; compaction reports no changes") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 10L: _*).coalesce(1))   // v1
    VersionedTable.append(spark, root, df(11L to 20L: _*).coalesce(1))  // v2
    // v3: update 14, delete 16, insert 21 — touches only commit 2's file
    val ups = Seq(14L, 21L).toDF("id").withColumn("payload", col("id") * 1000)
    VersionedTable.mergeInto(spark, root, ups, Seq("id"),
      Some(Seq(16L).toDF("id")))                                        // v3
    val (added, removed) = VersionedTable.changesBetween(spark, root, 2, 3)
    val addedRows = added.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val removedRows = removed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(addedRows == Set((14L, 14000L), (21L, 21000L)))
    // removed: the deleted 16 and the pre-update image of 14
    assert(removedRows == Set((16L, 160L), (14L, 140L)))
    // the append itself diffs as pure inserts
    val (a12, r12) = VersionedTable.changesBetween(spark, root, 1, 2)
    assert(a12.count() == 10 && r12.count() == 0)
    // compaction rewrites files with IDENTICAL rows -> empty diff
    val v4 = VersionedTable.compact(spark, root, targetBytes = 1L)
    if (v4 > 3) {
      val (a34, r34) = VersionedTable.changesBetween(spark, root, 3, v4)
      assert(a34.count() == 0 && r34.count() == 0,
        "compaction must not surface as data change")
    }
  }

  test("addColumn is metadata-only; old rows read NULL; history keeps the old schema") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))                        // v1
    val m1files = VersionedTable.read(spark, root).inputFiles.toSet
    val v2 = VersionedTable.addColumn(spark, root, "tag", "STRING")     // v2
    assert(v2 == 2)
    // same data files — nothing was rewritten
    assert(VersionedTable.read(spark, root).inputFiles.toSet == m1files)
    // the evolution commit is a zero-data-change commit in the CDC feed
    val (a12, r12) = VersionedTable.changesBetween(spark, root, 1, 2)
    assert(a12.count() == 0 && r12.count() == 0)
    // pre-evolution rows surface NULL in the new column
    val evolved = VersionedTable.read(spark, root)
    assert(evolved.schema.fieldNames.toSeq == Seq("id", "payload", "tag"))
    assert(evolved.filter(col("tag").isNull).count() == 2)
    // appends now carry the widened schema; mixed-vintage reads line up
    VersionedTable.append(spark, root,
      df(3).withColumn("tag", lit("new")))                              // v3
    val rows = VersionedTable.read(spark, root)
      .select("id", "tag").as[(Long, Option[String])].collect().toSet
    assert(rows == Set((1L, None), (2L, None), (3L, Some("new"))))
    // time travel: v1 still reads with the ORIGINAL two-column schema
    assert(VersionedTable.read(spark, root, Some(1))
      .schema.fieldNames.toSeq == Seq("id", "payload"))
    // copy-on-write DML works across the boundary: replace id=1, filling
    // its tag — the pre-evolution file rewrites under the new schema
    VersionedTable.mergeInto(spark, root,
      df(1).withColumn("payload", lit(111L)).withColumn("tag", lit("up")),
      Seq("id"))                                                        // v4
    val after = VersionedTable.read(spark, root)
      .select("id", "payload", "tag").as[(Long, Long, Option[String])]
      .collect().toSet
    assert(after == Set((1L, 111L, Some("up")), (2L, 20L, None),
      (3L, 30L, Some("new"))))
    // re-adding an existing column (any case) is refused
    intercept[IllegalArgumentException] {
      VersionedTable.addColumn(spark, root, "TAG", "STRING")
    }
  }

  test("indexBloom(onlyMissing) indexes exactly the un-bloomed files and no-ops when complete") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 100L).toDF("id").withColumn("payload", col("id")).coalesce(2)) // v1
    VersionedTable.indexBloom(spark, root, Seq("id"))                          // v2 (full)
    VersionedTable.append(spark, root,
      (100L until 150L).toDF("id").withColumn("payload", col("id")).coalesce(1)) // v3
    // incremental: only the appended file is scanned and bloomed
    val v4 = VersionedTable.indexBloom(spark, root, Seq("id"), onlyMissing = true)
    assert(v4 == 4)
    // every file now carries a bloom, so an absent key prunes EVERYTHING
    assert(VersionedTable.bloomCandidateFiles(spark, root, "id",
      Seq("99999").toDF("k")).isEmpty,
      "fully-indexed table must prune an absent key to zero files")
    // nothing missing → version-preserving no-op, not a fresh manifest
    assert(VersionedTable.indexBloom(spark, root, Seq("id"), onlyMissing = true) == 4,
      "complete index must be a no-op")
    // and the incremental index is sound: the appended key is found
    val cand = VersionedTable.bloomCandidateFiles(spark, root, "id",
      Seq("120").toDF("k"))
    assert(cand.nonEmpty)
    assert(VersionedTable.readSubset(spark, root, cand)
      .filter(col("id") === 120L).count() == 1)
  }

  test("bloomCandidateFiles: a key-SET probe keeps every file holding some key, drops irrelevant ones") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 400L).toDF("id").withColumn("payload", col("id"))
        .repartitionByRange(4, col("id")))
    VersionedTable.indexBloom(spark, root, Seq("id"))
    val files = VersionedTable.filesOf(spark, root)
    val idsIn: Map[String, Set[Long]] = files.map(f =>
      f -> VersionedTable.readSubset(spark, root, Seq(f))
        .select("id").as[Long].collect().toSet).toMap
    val probe = (0L until 100L).toSet
    val cand = VersionedTable.bloomCandidateFiles(spark, root, "id",
      probe.toSeq.map(_.toString).toDF("k")).toSet
    // soundness: every file actually holding a probe key MUST survive
    idsIn.foreach { case (f, ids) =>
      if ((ids & probe).nonEmpty)
        assert(cand.contains(f), s"file $f holds probe keys but was pruned")
    }
    // effectiveness: at least one file with NO probe key is excluded
    val irrelevant = files.filter(f => (idsIn(f) & probe).isEmpty)
    assert(irrelevant.nonEmpty && irrelevant.exists(f => !cand.contains(f)),
      s"an irrelevant file must be pruned (cand=$cand)")
    // and the anti-join over the candidate subset equals the full-scan one
    val fullFresh = probe.toSeq.toDF("event_id")
      .join(VersionedTable.read(spark, root).select(col("id").as("event_id")),
        Seq("event_id"), "left_anti").count()
    val prunedFresh = probe.toSeq.toDF("event_id")
      .join(VersionedTable.readSubset(spark, root, cand.toSeq)
        .select(col("id").as("event_id")), Seq("event_id"), "left_anti").count()
    assert(fullFresh == prunedFresh)
  }

  test("bloom index prunes point lookups that range stats cannot") {
    import spark.implicits._
    val root = freshRoot()
    // 4 files with INTERLEAVED ids: every file's [lo, hi] covers the whole
    // domain, so range-stat pruning keeps all 4 — the bloom's case
    val rows = (0L until 400L).toDF("id")
      .withColumn("payload", col("id") * 10)
      .repartitionByRange(4, col("id") % 4)
    VersionedTable.create(spark, root, rows)                            // v1
    val v2 = VersionedTable.indexBloom(spark, root, Seq("id"))          // v2
    assert(v2 == 2)
    // same data files: index maintenance is a metadata+scan commit
    assert(VersionedTable.read(spark, root, Some(1)).inputFiles.toSet ==
      VersionedTable.read(spark, root, Some(2)).inputFiles.toSet)

    val all = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(7L), Some(7L))))
    assert(all.size == 4, "interleaved ids must defeat range pruning")
    val may = VersionedTable.bloomPrunedFiles(spark, root, "id", "7")
    assert(may.size < 4, "bloom must prune some files for a point lookup")
    // soundness: the lookup still finds its row, and only its row
    val hit = VersionedTable.readEq(spark, root, "id", "7")
      .filter(col("id") === 7L).select("payload").as[Long].collect().toSeq
    assert(hit == Seq(70L))
    // an absent key prunes everything or yields no rows after the filter
    val miss = VersionedTable.readEq(spark, root, "id", "100000")
      .filter(col("id") === 100000L)
    assert(miss.isEmpty)

    // blooms carry over appends for untouched files; new files survive
    // un-indexed (absent bloom is never wrong)
    VersionedTable.append(spark, root,
      Seq(100000L).toDF("id").withColumn("payload", col("id") * 10))    // v3
    val after = VersionedTable.bloomPrunedFiles(spark, root, "id", "7")
    assert(after.size == may.size + 1, "new un-indexed file must survive")
    val hit2 = VersionedTable.readEq(spark, root, "id", "100000")
      .filter(col("id") === 100000L).select("payload").as[Long].collect().toSeq
    assert(hit2 == Seq(1000000L))
  }

  test("clustered compaction makes range stats prune where scattered files cannot") {
    import spark.implicits._
    val root = freshRoot()
    // ids scattered: every file's [lo, hi] spans the whole domain
    val rows = (0L until 400L).toDF("id")
      .withColumn("payload", col("id") * 10)
      .repartitionByRange(4, col("id") % 4)
    VersionedTable.create(spark, root, rows)                            // v1
    val before = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(10L), Some(19L))))
    assert(before.size == 4, "scattered layout must defeat range pruning")

    val v2 = VersionedTable.compact(spark, root,
      targetBytes = 4096L, clusterBy = Seq("id"))                       // v2
    assert(v2 == 2)
    // clustering is a rewrite of identical rows: CDC reports no change
    val (a12, r12) = VersionedTable.changesBetween(spark, root, 1, 2)
    assert(a12.count() == 0 && r12.count() == 0)
    // now each file covers a disjoint narrow range: the same predicate
    // opens a strict subset
    val after = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(10L), Some(19L))))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total > 1 && after.size < total,
      s"clustered layout must prune (kept ${after.size} of $total)")
    // soundness: the filtered read still returns exactly the range
    val got = VersionedTable.readWhere(spark, root,
        Map("id" -> (Some(10L), Some(19L))))
      .filter(col("id").between(10L, 19L))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == (10L to 19L).toSeq)
  }

  test("z-order clustering gives 2-D file pruning from 1-D range stats") {
    import spark.implicits._
    val root = freshRoot()
    // 64x64 grid; z = 6-bit Morton interleave. Clustering by z makes each
    // file a spatial quad, so BOTH x and y get narrow [lo, hi] stats —
    // the q109/q123 layout keys feeding compact(clusterBy) as designed.
    val zExpr = (0 until 6).map { j =>
      val p2 = 1L << j
      s"((x div $p2) % 2) * ${1L << (2 * j)} + ((y div $p2) % 2) * ${1L << (2 * j + 1)}"
    }.mkString(" + ")
    val rows = (0L until 4096L).toDF("i")
      .select((col("i") % 64).as("x"), (col("i") / 64).cast("long").as("y"))
      .withColumn("z", expr(zExpr))
    VersionedTable.create(spark, root, rows.repartition(4))            // scattered
    VersionedTable.compact(spark, root, targetBytes = 2000L,
      clusterBy = Seq("z"))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total >= 6, s"want several files, got $total")
    val onX = VersionedTable.prunedFiles(spark, root,
      Map("x" -> (Some(0L), Some(7L))))
    val onY = VersionedTable.prunedFiles(spark, root,
      Map("y" -> (Some(0L), Some(7L))))
    val onBoth = VersionedTable.prunedFiles(spark, root,
      Map("x" -> (Some(0L), Some(7L)), "y" -> (Some(0L), Some(7L))))
    assert(onX.size <= total / 2, s"x alone must prune: ${onX.size}/$total")
    assert(onY.size <= total / 2, s"y alone must prune: ${onY.size}/$total")
    assert(onBoth.size <= onX.size && onBoth.size <= onY.size)
    // soundness: the pruned read still returns the full query box
    val got = VersionedTable.readWhere(spark, root,
        Map("x" -> (Some(0L), Some(7L)), "y" -> (Some(0L), Some(7L))))
      .filter(col("x") <= 7 && col("y") <= 7).count()
    assert(got == 64L)
  }

  test("concurrent appendCas writers all land: rebase-on-conflict loses no rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    VersionedTable.create(spark, root, df(0))                          // v1
    // 4 writers x 3 appends race the same table; every attempt stages
    // under its own nonce and publishes at its read-base+1 — losers see
    // the refused rename and rebase, never silently drop the winner
    val writers = (1 to 4).map { w =>
      Future {
        (1 to 3).foreach { k =>
          VersionedTable.appendCas(spark, root, df(w * 100L + k))
        }
      }
    }
    Await.result(Future.sequence(writers), 120.seconds)
    val expected = (Seq(0L) ++
      (for (w <- 1 to 4; k <- 1 to 3) yield w * 100L + k)).sorted
    assert(idsOf(VersionedTable.read(spark, root)) == expected,
      "every concurrent append must survive")
    assert(VersionedTable.versions(spark, root) == (1 to 13),
      "13 commits, strictly sequential versions")
  }

  test("hive partition columns: layout, reads, pruning, DML, GC") {
    import graft.sink.VersionedTable.{ColStat => _, _}
    val root = freshRoot()
    val df0 = df(1, 2, 3, 12, 13).withColumn("bucket",
      (col("id") % 10).cast("int"))
    VersionedTable.create(spark, root, df0, partitionBy = Seq("bucket"))   // v1
    assert(VersionedTable.partitionColsOf(spark, root) == Seq("bucket"))
    // files live under data/bucket=k/ and the manifest records them so
    val files1 = VersionedTable.filesOf(spark, root)
    assert(files1.nonEmpty && files1.forall(_.startsWith("data/bucket=")),
      s"expected hive layout, got $files1")
    // full read restores partition values and declared column order
    val got = VersionedTable.read(spark, root)
    assert(got.columns.toSeq == Seq("id", "payload", "bucket"))
    assert(got.select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 1), (2L, 2), (3L, 3), (12L, 2), (13L, 3)))
    // partition predicate prunes from the manifest alone: only bucket=2
    // files open
    val keep = VersionedTable.prunedFiles(spark, root,
      Map("bucket" -> (Some(2L), Some(2L))))
    assert(keep.nonEmpty && keep.forall(_.startsWith("data/bucket=2/")),
      s"pruning must keep only bucket=2 files: $keep")
    assert(idsOf(VersionedTable.readWhere(spark, root,
      Map("bucket" -> (Some(2L), Some(2L))))) == Seq(2L, 12L))
    // append keeps the layout; time travel sees the old snapshot
    VersionedTable.append(spark, root,
      df(22).withColumn("bucket", (col("id") % 10).cast("int")))           // v2
    assert(VersionedTable.filesOf(spark, root).forall(_.startsWith("data/bucket=")))
    assert(idsOf(VersionedTable.read(spark, root, Some(1))) ==
      Seq(1L, 2L, 3L, 12L, 13L))
    assert(idsOf(VersionedTable.readWhere(spark, root,
      Map("bucket" -> (Some(2L), Some(2L))))) == Seq(2L, 12L, 22L))
    // copy-on-write delete bounded by the partition stat
    VersionedTable.deleteWhere(spark, root,
      Map("bucket" -> (Some(3L), Some(3L))), col("bucket") === 3)          // v3
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 12L, 22L))
    // change feed across partitioned commits
    val (adds, rems) = VersionedTable.changesBetween(spark, root, 2, 3)
    assert(adds.count() == 0 && rems.select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(3L, 13L))
    // expire GCs dropped versions' files inside partition dirs
    val (dropped, removed) = VersionedTable.expire(spark, root, keepLast = 1)
    assert(dropped == 2 && removed > 0)
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 12L, 22L))
  }

  test("partitioned table through the SQL face and the stream source") {
    val root = freshRoot()
    val d = df(1, 2, 3, 12).withColumn("bucket", (col("id") % 10).cast("int"))
    d.write.format("graft-versioned").option("partitionBy", "bucket").save(root)
    assert(VersionedTable.partitionColsOf(spark, root) == Seq("bucket"))
    // pushed equality on the partition column prunes files before scan
    val frame = spark.read.format("graft-versioned").load(root)
      .filter(col("bucket") === 2).select("id")
    assert(frame.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 12L))
    val scan = graft.sources.VersionedSource.lastScan.get
    assert(scan.openedFiles < scan.totalFiles,
      s"partition filter should prune: $scan")
    // the streaming source reconstitutes partition values from the dirs
    import org.apache.spark.sql.streaming.Trigger
    val out = java.nio.file.Files.createTempDirectory("vtp_out").toString
    val q = spark.readStream.format("graft-versioned").load(root)
      .writeStream.outputMode("append").format("parquet")
      .option("path", out)
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("vtp_ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.read.parquet(out).select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(streamed == Set((1L, 1), (2L, 2), (3L, 3), (12L, 2)))
  }

  test("compactWhere rewrites only the predicate-matched partition; cold files untouched") {
    val root = freshRoot()
    val d = df(1L to 40L: _*)
      .withColumn("bucket", (col("id") % 2).cast("int"))
    VersionedTable.create(spark, root, d.repartition(8), partitionBy = Seq("bucket"))
    val before = VersionedTable.filesOf(spark, root)
    val cold = before.filter(_.contains("bucket=0"))
    assert(before.count(_.contains("bucket=1")) > 1, s"need a small-file spray: $before")
    // compact ONLY bucket=1
    val v = VersionedTable.compactWhere(spark, root,
      Map("bucket" -> (Some(1L), Some(1L))), targetBytes = 1L << 30)
    assert(v == 2)
    val after = VersionedTable.filesOf(spark, root)
    assert(after.filter(_.contains("bucket=0")).sorted == cold.sorted,
      "cold partition files must carry over BY NAME")
    assert(after.count(_.contains("bucket=1")) == 1,
      s"hot partition must compact to one file: $after")
    // content identical, stats still prune, history intact
    assert(idsOf(VersionedTable.read(spark, root)) == (1L to 40L))
    assert(idsOf(VersionedTable.readWhere(spark, root,
      Map("bucket" -> (Some(1L), Some(1L))))) == (1L to 39L by 2))
    assert(idsOf(VersionedTable.read(spark, root, Some(1))) == (1L to 40L))
    // no-op outside any data: same version back
    assert(VersionedTable.compactWhere(spark, root,
      Map("bucket" -> (Some(7L), Some(7L)))) == 2)
  }

  test("shallow clone: O(1) copy sharing data files, then diverging safely") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))       // src v1
    VersionedTable.append(spark, root, df(3))          // src v2
    val cloneRoot = freshRoot()
    assert(VersionedTable.cloneShallow(spark, root, cloneRoot) == 1)
    // the clone reads the source snapshot without owning any data files
    assert(idsOf(VersionedTable.read(spark, cloneRoot)) == Seq(1L, 2L, 3L))
    val f = new java.io.File(cloneRoot, "data")
    assert(!f.exists() || f.listFiles().isEmpty, "clone copied data files")
    // divergence: clone commits stage locally, source never sees them
    VersionedTable.append(spark, cloneRoot, df(99))
    assert(idsOf(VersionedTable.read(spark, cloneRoot)) == Seq(1L, 2L, 3L, 99L))
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 3L))
    // ...and source commits after the clone point stay invisible to it
    VersionedTable.append(spark, root, df(4))
    assert(idsOf(VersionedTable.read(spark, cloneRoot)) == Seq(1L, 2L, 3L, 99L))
    // carried-over stats still prune on the clone (remapped file keys)
    val keep = VersionedTable.prunedFiles(spark, cloneRoot,
      Map("id" -> (Some(99L), Some(99L))))
    assert(keep.size < VersionedTable.filesOf(spark, cloneRoot).size,
      s"stats must prune the cloned snapshot: kept $keep")
    // the clone's GC never reaches into the source
    VersionedTable.expire(spark, cloneRoot, keepLast = 1)
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 3L, 4L))
    assert(idsOf(VersionedTable.read(spark, cloneRoot)) == Seq(1L, 2L, 3L, 99L))
  }

  test("expire keeps files a registered clone references; retires dead markers") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))       // src v1
    val cloneRoot = freshRoot()
    VersionedTable.cloneShallow(spark, root, cloneRoot)
    // source moves on: overwrite orphans v1's files FROM THE SOURCE's view
    VersionedTable.overwrite(spark, root, df(9))       // src v2
    val (dropped, removed) = VersionedTable.expire(spark, root, keepLast = 1)
    assert(dropped == 1 && removed == 0,
      s"v1 files are clone-referenced and must survive GC (removed=$removed)")
    assert(idsOf(VersionedTable.read(spark, cloneRoot)) == Seq(1L, 2L),
      "the clone still reads its snapshot after the source expired it")
    // delete the clone wholesale -> next expire retires the marker and GCs
    def rmTree(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmTree); p.delete()
    }
    rmTree(new java.io.File(cloneRoot))
    val (_, removed2) = VersionedTable.expire(spark, root, keepLast = 1)
    assert(removed2 > 0, "with the clone gone its files must finally GC")
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(9L))
  }

  test("shallow clone of a partitioned table resolves partition values") {
    val root = freshRoot()
    val d = df(1, 2, 3, 12).withColumn("bucket", (col("id") % 10).cast("int"))
    VersionedTable.create(spark, root, d, partitionBy = Seq("bucket"))
    val cloneRoot = freshRoot()
    VersionedTable.cloneShallow(spark, root, cloneRoot)
    assert(VersionedTable.partitionColsOf(spark, cloneRoot) == Seq("bucket"))
    val got = VersionedTable.read(spark, cloneRoot)
    assert(got.columns.toSeq == Seq("id", "payload", "bucket"))
    assert(got.select("id", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet ==
      Set((1L, 1), (2L, 2), (3L, 3), (12L, 2)))
    // a local append yields a MIXED snapshot (cloned-from + local files);
    // both partition bases must resolve
    VersionedTable.append(spark, cloneRoot,
      df(22).withColumn("bucket", (col("id") % 10).cast("int")))
    assert(VersionedTable.read(spark, cloneRoot)
      .filter(col("bucket") === 2).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(2L, 12L, 22L))
    // partition predicate prunes the mixed snapshot from the manifest
    val keep = VersionedTable.prunedFiles(spark, cloneRoot,
      Map("bucket" -> (Some(2L), Some(2L))))
    assert(keep.nonEmpty &&
      keep.forall(p => p.contains("bucket=2")), s"pruned set: $keep")
  }

  test("a rewrite pinned to a stale base is refused, not silently applied") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))                          // v1
    val base = VersionedTable.currentVersion(spark, root).get
    VersionedTable.append(spark, root, df(2))                          // v2 lands in between
    // a compact/overwrite derived from v1 must NOT publish over v2's
    // commit — the pinned base turns the lost update into a refusal
    val e = intercept[java.io.IOException] {
      VersionedTable.overwrite(spark, root, df(9), baseVersion = Some(base))
    }
    assert(e.getMessage.contains("already committed"))
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L),
      "the intervening append survives the refused rewrite")
  }

  test("mixed churn: CAS writers race compaction and readers; no torn state") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = freshRoot()
    VersionedTable.create(spark, root, df(0))
    // 3 appendCas writers × 3 appends, a compactor that keeps rewriting
    // the table (retrying refused stale-base publishes), and a reader
    // polling full snapshots. Invariants: every append survives, every
    // read is a CONSISTENT snapshot (a prefix of the commit order, never
    // a torn mix), versions stay strictly sequential.
    val writers = (1 to 3).map { w =>
      Future {
        (1 to 3).foreach { k =>
          VersionedTable.appendCas(spark, root, df(w * 10L + k))
        }
      }
    }
    val compactor = Future {
      (1 to 4).foreach { _ =>
        try VersionedTable.compact(spark, root, targetBytes = 1L << 30)
        catch { case e: java.io.IOException
            if e.getMessage.contains("already committed") => () } // lost race: fine
        Thread.sleep(30)
      }
    }
    val readerOk = Future {
      (1 to 10).forall { _ =>
        val ids = idsOf(VersionedTable.read(spark, root))
        Thread.sleep(15)
        // consistent = contains the seed and never a partial duplicate mix
        ids.contains(0L) && ids.distinct == ids
      }
    }
    Await.result(Future.sequence(writers :+ compactor), 120.seconds)
    assert(Await.result(readerOk, 120.seconds), "reader saw a torn snapshot")
    val expected = (Seq(0L) ++ (for (w <- 1 to 3; k <- 1 to 3) yield w * 10L + k)).sorted
    assert(idsOf(VersionedTable.read(spark, root)) == expected,
      "every append survives the churn")
    val vs = VersionedTable.versions(spark, root)
    assert(vs == (vs.head to vs.last), "versions strictly sequential")
  }

  test("double-commit of the same version number is refused") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))
    intercept[IllegalArgumentException] {
      VersionedTable.create(spark, root, df(2))
    }
    assert(VersionedTable.versions(spark, root) == Seq(1))
  }

  test("compaction racing an append: exactly one wins the version, the loser rebases, no row lost or duplicated") {
    // deterministic interleaving of the classic Delta conflict class:
    // a compactor derives its rewrite from version 1, an append lands
    // version 2 IN BETWEEN, and the compactor's publish — pinned to the
    // base it actually read — must be REFUSED (its rewrite never saw the
    // appended rows; silently publishing would drop them). The retry
    // from current state then succeeds and must change no rows.
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1L to 40L: _*).repartition(8)) // v1, fragmented
    val compactedFromV1 = VersionedTable.read(spark, root, Some(1)).repartition(1)
    VersionedTable.append(spark, root, df(100L))                          // v2 wins the race
    val e = intercept[java.io.IOException] {
      VersionedTable.overwrite(spark, root, compactedFromV1, baseVersion = Some(1))
    }
    assert(e.getMessage.contains("version"), s"stale publish must be refused: ${e.getMessage}")
    // no partial state: v2 is still current and complete
    assert(VersionedTable.versions(spark, root) == Seq(1, 2))
    assert(idsOf(VersionedTable.read(spark, root)) == ((1L to 40L) :+ 100L).sorted)
    // loser rebases = re-runs compaction from current; the appended row
    // survives and the rewrite is row-invisible (CDC reports no change)
    val v3 = VersionedTable.compact(spark, root) // default target: 1 file here
    assert(v3 == 3)
    assert(idsOf(VersionedTable.read(spark, root)) == ((1L to 40L) :+ 100L).sorted)
    val (add, rem) = VersionedTable.changesBetween(spark, root, 2, 3)
    assert(add.count() == 0 && rem.count() == 0, "compaction must be row-invisible")

    // and the mirror image: compaction wins, the CAS append rebases onto
    // the compacted file list — nothing lost, nothing doubled
    VersionedTable.appendCas(spark, root, df(200L))                       // v4
    assert(idsOf(VersionedTable.read(spark, root)) ==
      (((1L to 40L) :+ 100L) :+ 200L).sorted)
    val vs = VersionedTable.versions(spark, root)
    assert(vs == (vs.head to vs.last), "versions strictly sequential, exactly one writer per number")
  }

  test("deleteWhere keeps rows where the predicate is NULL (SQL DELETE semantics)") {
    import spark.implicits._
    val root = freshRoot()
    // payload NULL for id=2: DELETE WHERE payload = 10 must not touch it —
    // NULL never MATCHES a delete predicate, so negating it must KEEP the
    // row, not drop it (the .filter(!cond) trap: NOT NULL is NULL).
    val rows = Seq((1L, Some(10L)), (2L, None), (3L, Some(30L)))
      .toDF("id", "payload")
    VersionedTable.create(spark, root, rows)
    VersionedTable.deleteWhere(spark, root,
      Map("id" -> (None, None)), col("payload") === 10L)
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(2L, 3L),
      "the NULL-payload row must survive the delete")
    // and consistently: the same delete phrased as a range that prunes to
    // a SUBSET of files must leave identical surviving rows
    val root2 = freshRoot()
    VersionedTable.create(spark, root2, rows.repartition(3))
    VersionedTable.deleteWhere(spark, root2,
      Map("id" -> (Some(1L), Some(1L))), col("payload") === 10L)
    assert(idsOf(VersionedTable.read(spark, root2)) == Seq(2L, 3L))
  }

  test("bloom index prunes on a hive-PARTITIONED table") {
    import spark.implicits._
    val root = freshRoot()
    // interleaved ids across 4 writer partitions × 2 hive partitions:
    // range stats keep everything, and the manifest entries carry k=v
    // subdirectories — the shape where a basename-keyed bloom index
    // silently indexes nothing
    val rows = (0L until 400L).toDF("id")
      .withColumn("payload", col("id") * 10)
      .withColumn("k", (col("id") % 2).cast("int"))
      .repartitionByRange(4, col("id") % 4)
    VersionedTable.create(spark, root, rows, partitionBy = Seq("k"))
    VersionedTable.indexBloom(spark, root, Seq("id"))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total >= 4, s"expected a multi-file partitioned table, got $total")
    val may = VersionedTable.bloomPrunedFiles(spark, root, "id", "7")
    assert(may.size < total,
      s"bloom must prune partitioned entries (kept ${may.size} of $total)")
    assert(may.forall(f => f.contains("k=")),
      "surviving entries must keep their hive subdirectories")
    val hit = VersionedTable.readEq(spark, root, "id", "7")
      .filter(col("id") === 7L).select("payload").as[Long].collect().toSeq
    assert(hit == Seq(70L), "pruning must never lose the matching row")
  }

  test("bloom probe agrees with the build for non-BMP (supplementary-plane) values") {
    import spark.implicits._
    val root = freshRoot()
    val emoji = new String(Character.toChars(0x1F600)) // two UTF-16 code units
    val names = Seq("alpha", "beta", s"x$emoji-suffix", "gamma")
    val rows = names.zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toDF("id", "name").repartition(4)
    VersionedTable.create(spark, root, rows)
    VersionedTable.indexBloom(spark, root, Seq("name"))
    // the build folds Unicode CODE POINTS (CharFoldExpr); a probe folding
    // UTF-16 code units would compute different bit positions for the
    // emoji value and WRONGLY prune the file that contains it
    val got = VersionedTable.readEq(spark, root, "name", s"x$emoji-suffix")
      .filter(col("name") === s"x$emoji-suffix")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(2L), "present non-BMP value must never be bloom-pruned")
  }

  test("decimal columns carry no long stats — scaled predicates never mis-prune") {
    import spark.implicits._
    val root = freshRoot()
    // DECIMAL(9,2) stores UNSCALED INT32 physically (1.11 -> 111). If the
    // manifest recorded those as "long" stats, a predicate in the scaled
    // domain could prove a false miss and prune a file holding matching
    // rows. The fix skips stats for decimal columns entirely: absent
    // stats are never wrong, so EVERY file must survive ANY range.
    val rows = Seq(1L, 2L).toDF("id")
      .withColumn("price", (col("id") * 111).cast("long").cast("decimal(9,2)") / 100)
    VersionedTable.create(spark, root, rows.repartition(2, col("id")))
    val total = VersionedTable.read(spark, root).inputFiles.length
    assert(total == 2)
    // had unscaled stats (111, 222) leaked in as longs, hi < 100000 would
    // prune BOTH files
    val keep = VersionedTable.prunedFiles(spark, root,
      Map("price" -> (Some(100000L), None)))
    assert(keep.size == total, "files must survive predicates on decimal columns")
    // id stats still prune normally alongside
    val onId = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(2L), Some(2L))))
    assert(onId.size == 1, "non-decimal stats keep working")
  }

  test("per-file HLL registers: dominated files skipped, estimate bit-identical from the subset") {
    import spark.implicits._
    val root = freshRoot()
    // key-partitioned history: 4 hash-disjoint key files, then an append
    // whose keys are ALL repeats — its registers are pointwise dominated
    val base = (0L until 200L).toDF("id").withColumn("payload", col("id") * 10)
    VersionedTable.create(spark, root, base.repartition(4, col("id")))     // v1
    VersionedTable.append(spark, root,
      (0L until 200L by 2L).toDF("id").withColumn("payload", col("id") * 10)) // v2: repeats
    // un-indexed table: the skip decision must REFUSE, never guess
    assert(VersionedTable.hllRelevantFiles(spark, root, "id").isEmpty)
    val v3 = VersionedTable.indexHll(spark, root, Seq("id"))               // v3
    assert(v3 == 3)
    // same files — index maintenance is a metadata+scan commit
    assert(VersionedTable.read(spark, root, Some(2)).inputFiles.toSet ==
      VersionedTable.read(spark, root, Some(3)).inputFiles.toSet)
    val total = VersionedTable.read(spark, root).inputFiles.length
    val relevant = VersionedTable.hllRelevantFiles(spark, root, "id").get
    assert(relevant.size < total,
      s"repeat-key files must be register-dominated (kept ${relevant.size} of $total)")
    assert(relevant.forall(f => ofCommit(f, 1)),
      "every relevant file comes from the disjoint-key commit")
    // reading ONLY the relevant files reproduces the register set —
    // and therefore any estimate — bit-identically
    def regsOf(df: org.apache.spark.sql.DataFrame) =
      graft.ext.Sketches.hllRegisters(df, col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
    val fromSubset = regsOf(VersionedTable.readSubset(spark, root, relevant))
    val fromAll = regsOf(VersionedTable.read(spark, root))
    assert(fromSubset == fromAll, "dominated files must not carry any bucket max")
    // the metadata-only union agrees with the data-derived registers
    val merged = VersionedTable.mergedHllRegisters(spark, root, "id").get
    val mergedMap = merged.zipWithIndex.collect {
      case (r, b) if r != 0 => (b.toLong, (r & 0xff).toLong) }.toMap
    assert(mergedMap == fromAll, "manifest registers == data registers")
    // registers carry over an append of NEW data; the new file is simply
    // un-indexed and the skip decision refuses again
    VersionedTable.append(spark, root, Seq(100000L).toDF("id")
      .withColumn("payload", col("id") * 10))                              // v4
    assert(VersionedTable.hllRelevantFiles(spark, root, "id").isEmpty)
    // history: v3's registers still answer at v3
    assert(VersionedTable.hllRelevantFiles(spark, root, "id", Some(3)).isDefined)
  }

  test("indexHll on a second column keeps the first column's registers") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.create(spark, root,
      (0L until 100L).toDF("id").withColumn("payload", col("id") * 10)
        .repartition(2))
    VersionedTable.indexHll(spark, root, Seq("id"))
    VersionedTable.indexHll(spark, root, Seq("payload"))
    // the old wholesale per-file replacement dropped id's registers here
    assert(VersionedTable.mergedHllRegisters(spark, root, "id").isDefined,
      "indexing payload must not drop id's registers")
    assert(VersionedTable.mergedHllRegisters(spark, root, "payload").isDefined)
  }

  test("manifest claim refuses non-atomic schemes (object-store lost-update guard)") {
    import spark.implicits._
    // a scheme whose rename is NOT fail-if-exists (the object-store
    // contract) must be refused at the claim, not silently clobbered
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockstore.impl", classOf[MockStoreFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_ms")
    val root = s"mockstore://host$dir/t"
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.create(spark, root, Seq(1L).toDF("id"))
    }
    assert(e.getMessage.contains("mockstore"))
    assert(e.getMessage.contains("atomic"))
    // the refusal tells the operator exactly which hook closes the gap
    assert(e.getMessage.contains("registerClaimProvider"))
  }

  test("conditional-put arbiter makes object-store commits safe: racing writers, one winner per claim") {
    import spark.implicits._
    // The adapter path for stores with replace-on-rename: an external
    // arbiter awards each manifest NAME to exactly one writer (the
    // public designs — a DynamoDB-style lock table's conditional put,
    // or S3 If-None-Match — are both putIfAbsent on the target name);
    // only the winner renames its staged manifest in, so the missing
    // fail-if-exists can no longer lose an update. Modeled here with
    // putIfAbsent as the conditional put, over the same mock store the
    // refusal test uses.
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockstore.impl", classOf[MockStoreFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_cp")
    val root = s"mockstore://host$dir/t"
    val puts = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val claims = new java.util.concurrent.atomic.AtomicInteger
    VersionedTable.registerClaimProvider("mockstore",
      new VersionedTable.ClaimProvider {
        override def claim(f: org.apache.hadoop.fs.FileSystem,
                           target: org.apache.hadoop.fs.Path): Boolean = {
          claims.incrementAndGet()
          puts.putIfAbsent(target.toString, "claimed") == null
        }
      })
    try {
      VersionedTable.create(spark, root, Seq(0L).toDF("id"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val writers = (1 to 4).map(i => Future {
        VersionedTable.appendCas(spark, root, Seq(i.toLong).toDF("id"))
      })
      Await.result(Future.sequence(writers), 120.seconds)
      val ids = VersionedTable.read(spark, root)
        .select("id").as[Long].collect().sorted.toSeq
      assert(ids == (0L to 4L), s"every racing append lands exactly once: $ids")
      val vs = VersionedTable.versions(spark, root)
      assert(vs == (vs.head to vs.last),
        "strictly sequential versions — exactly one winner per claim")
      assert(claims.get() >= 4, "every writer went through the arbiter")
    } finally VersionedTable.unregisterClaimProvider("mockstore")
    // provider gone → the refusal (and its pointer at the hook) returns
    val e = intercept[UnsupportedOperationException] {
      VersionedTable.overwrite(spark, root, Seq(9L).toDF("id"))
    }
    assert(e.getMessage.contains("registerClaimProvider"))
  }

  test("filesAddedByTxn refuses when the txn's true parent version was expired") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))              // v1
    VersionedTable.appendTxn(spark, root, df(2), txn = 100L) // v2
    VersionedTable.append(spark, root, df(3))              // v3
    // intact chain: exactly the txn's own added file
    assert(VersionedTable.filesAddedByTxn(spark, root, 100L).size == 1)
    // expire v1: v2's true parent is gone. Diffing against "nothing"
    // would credit the txn with v1's carried file — a bloom-maintenance
    // caller would then stamp a batch bloom onto a foreign file and
    // unsoundly prune. The only safe answer is EMPTY (the files just
    // stay un-bloomed until the next indexBloom).
    VersionedTable.expire(spark, root, keepLast = 2)
    assert(VersionedTable.versions(spark, root) == Seq(2, 3))
    assert(VersionedTable.filesAddedByTxn(spark, root, 100L).isEmpty)
  }

  /** Shared fixture for the arbiter failure-injection matrix: a
    * flaky-rename store behind a putIfAbsent arbiter. */
  private def withFlakyStore(test: String => Unit): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.flakystore.impl", classOf[FlakyStoreFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_fi")
    val root = s"flakystore://host$dir/t"
    val puts = new java.util.concurrent.ConcurrentHashMap[String, String]()
    VersionedTable.registerClaimProvider("flakystore",
      new VersionedTable.ClaimProvider {
        override def claim(f: org.apache.hadoop.fs.FileSystem,
                           target: org.apache.hadoop.fs.Path): Boolean =
          puts.putIfAbsent(target.toString, "claimed") == null
      })
    FlakyStoreFileSystem.mode = "ok"
    FlakyStoreFileSystem.remaining.set(0)
    try test(root)
    finally {
      FlakyStoreFileSystem.mode = "ok"
      VersionedTable.unregisterClaimProvider("flakystore")
    }
  }

  test("arbiter crash matrix: winner dies before publish — claim consumed, staged manifest recovers the version") {
    import spark.implicits._
    withFlakyStore { root =>
      VersionedTable.create(spark, root, Seq(0L).toDF("id"))
      // the store refuses every publish rename: the writer "dies" holding
      // a consumed claim — data files staged, manifest not published
      FlakyStoreFileSystem.mode = "crash"
      val e = intercept[java.io.IOException] {
        VersionedTable.append(spark, root, Seq(1L).toDF("id"))
      }
      assert(e.getMessage.contains("recover by copying"),
        "the failure must carry the recovery instruction")
      FlakyStoreFileSystem.mode = "ok"
      assert(VersionedTable.versions(spark, root) == Seq(1),
        "the failed publish must not half-commit")
      // the claim is exclusive FOREVER: another writer can never win
      // version 2 — appendCas exhausts its rebase budget and surfaces
      // the wedge rather than clobbering the consumed name
      val wedged = intercept[java.io.IOException] {
        VersionedTable.appendCas(spark, root, Seq(9L).toDF("id"),
          maxRetries = 2)
      }
      assert(wedged.getMessage.contains("lost the commit race"))
      // the documented recovery: copy the staged manifest into place
      // (the dead writer's data files already moved under data/)
      val f = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val log = new org.apache.hadoop.fs.Path(root, "_log")
      val tmp = f.listStatus(log).map(_.getPath)
        .filter(_.getName.startsWith(".v2-")).head
      val target = new org.apache.hadoop.fs.Path(log, "v00000002.manifest.json")
      val in = f.open(tmp)
      val bytes = try org.apache.commons.io.IOUtils.toByteArray(in)
                  finally in.close()
      val out = f.create(target, false)
      try out.write(bytes) finally out.close()
      assert(VersionedTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(0L, 1L),
        "recovery publishes the crashed writer's commit exactly once")
      // and the table moves on normally afterwards
      VersionedTable.append(spark, root, Seq(2L).toDF("id"))
      assert(VersionedTable.versions(spark, root) == Seq(1, 2, 3))
    }
  }

  test("arbiter crash matrix: transient store 500s mid-publish are retried to success") {
    import spark.implicits._
    withFlakyStore { root =>
      VersionedTable.create(spark, root, Seq(0L).toDF("id"))
      FlakyStoreFileSystem.mode = "transient"
      FlakyStoreFileSystem.remaining.set(2) // two 500s, then the store heals
      VersionedTable.append(spark, root, Seq(1L).toDF("id"))
      assert(VersionedTable.versions(spark, root) == Seq(1, 2))
      assert(VersionedTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(0L, 1L))
    }
  }

  test("arbiter crash matrix: a rename that completed server-side before throwing publishes exactly once") {
    import spark.implicits._
    withFlakyStore { root =>
      VersionedTable.create(spark, root, Seq(0L).toDF("id"))
      // object-store renames are copy+delete; a timeout can land AFTER
      // the server applied it. The retry loop must probe the target
      // (only this writer holds the claim, so an existing target IS our
      // publish) instead of failing five no-op retries and surfacing an
      // error for a commit that actually landed.
      FlakyStoreFileSystem.mode = "complete-then-throw"
      FlakyStoreFileSystem.remaining.set(1)
      VersionedTable.append(spark, root, Seq(1L).toDF("id"))
      assert(VersionedTable.versions(spark, root) == Seq(1, 2))
      assert(VersionedTable.read(spark, root).select("id").as[Long]
        .collect().sorted.toSeq == Seq(0L, 1L),
        "no duplicate append after the probe recognized the publish")
    }
  }
}

/** A local filesystem masquerading as an object store: reports a non-file,
  * non-HDFS scheme so the commit protocol's atomicity guard is exercised
  * without a real S3 endpoint. */
class MockStoreFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockstore"
  override def getUri: java.net.URI = java.net.URI.create("mockstore://host/")
}

/** [[MockStoreFileSystem]] with fault injection on MANIFEST publishes
  * only (data-file stage moves stay reliable, isolating the commit
  * point): "crash" refuses every publish rename, "transient" throws for
  * the next `remaining` attempts then heals, "complete-then-throw"
  * APPLIES the rename then throws — the object-store timeout-after-
  * server-side-completion shape. */
class FlakyStoreFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "flakystore"
  override def getUri: java.net.URI = java.net.URI.create("flakystore://host/")
  override def rename(src: org.apache.hadoop.fs.Path,
                      dst: org.apache.hadoop.fs.Path): Boolean =
    if (!dst.getName.endsWith(".manifest.json")) super.rename(src, dst)
    else FlakyStoreFileSystem.mode match {
      case "crash" =>
        throw new java.io.IOException("injected: store down at publish")
      case "transient" if FlakyStoreFileSystem.remaining.getAndDecrement() > 0 =>
        throw new java.io.IOException("injected: transient 500")
      case "complete-then-throw"
          if FlakyStoreFileSystem.remaining.getAndDecrement() > 0 =>
        super.rename(src, dst)
        throw new java.io.IOException(
          "injected: timeout after server-side completion")
      case _ => super.rename(src, dst)
    }
}

object FlakyStoreFileSystem {
  @volatile var mode: String = "ok"
  val remaining = new java.util.concurrent.atomic.AtomicInteger(0)
}
