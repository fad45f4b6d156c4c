package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** APPLY CHANGES — sequence-guarded CDC fold. Contract under test:
  * last-writer-wins per key within a batch; a late batch (lower
  * sequences) can never regress a key the table already advanced;
  * batch order does not matter (applying B1;B2 ≡ B2;B1); deletes are
  * guarded by sequence too; replaying a batch is a no-op; txn rides
  * the idempotence ledger. */
class ApplyChangesSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cdc").resolve("t").toString

  private def snap(root: String): Map[Long, (Long, String)] =
    VersionedTable.read(spark, root).select("k", "seq", "v")
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("in-batch last-writer-wins; upserts and inserts land in one commit") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a0")).toDF("k", "seq", "v").coalesce(1))
    val v0 = VersionedTable.currentVersion(spark, root).get
    // key 1 updated twice in-batch (seq 11 then 12 wins), key 2 inserted
    val v = VersionedTable.applyChanges(spark, root,
      Seq((1L, 11L, "a1"), (1L, 12L, "a2"), (2L, 5L, "b0"))
        .toDF("k", "seq", "v").coalesce(1), Seq("k"), "seq")
    assert(v == v0 + 1, "applyChanges is ONE commit")
    assert(snap(root) == Map(1L -> (12L, "a2"), 2L -> (5L, "b0")))
  }

  test("a late batch never regresses; apply order does not matter") {
    val b1 = Seq((1L, 100L, "new"), (2L, 50L, "x")).toDF("k", "seq", "v")
    val b2 = Seq((1L, 90L, "old"), (3L, 10L, "y")).toDF("k", "seq", "v")
    def runOrder(batches: Seq[org.apache.spark.sql.DataFrame]) = {
      val root = freshRoot()
      VersionedTable.create(spark, root,
        Seq((1L, 80L, "base")).toDF("k", "seq", "v").coalesce(1))
      batches.foreach(b =>
        VersionedTable.applyChanges(spark, root, b.coalesce(1), Seq("k"), "seq"))
      snap(root)
    }
    val expected = Map(1L -> (100L, "new"), 2L -> (50L, "x"), 3L -> (10L, "y"))
    assert(runOrder(Seq(b1, b2)) == expected,
      "the late batch's seq-90 row must not regress key 1")
    assert(runOrder(Seq(b2, b1)) == expected,
      "reversed delivery must converge to the same state")
  }

  test("deletes drop the key but are sequence-guarded; replay is a no-op") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "seq", "v").coalesce(1))
    // delete key 1 at seq 20; a STALE delete of key 2 at seq 5 is ignored
    val batch = Seq((1L, 20L, "a", true), (2L, 5L, "b", true))
      .toDF("k", "seq", "v", "del").coalesce(1)
    VersionedTable.applyChanges(spark, root, batch, Seq("k"), "seq",
      deleteCol = Some("del"), txn = Some(42L))
    def live = VersionedTable.read(spark, root).select("k", "seq")
      .as[(Long, Long)].collect().toSet
    assert(live == Set((2L, 10L)),
      "key 1 deleted at seq 20; key 2's stale delete ignored")
    // replay of the same txn short-circuits to the ledger
    val v = VersionedTable.currentVersion(spark, root).get
    assert(VersionedTable.applyChanges(spark, root, batch, Seq("k"), "seq",
      deleteCol = Some("del"), txn = Some(42L)) == v)
    // replay WITHOUT the txn is still a semantic no-op (all rows stale)
    VersionedTable.applyChanges(spark, root, batch, Seq("k"), "seq",
      deleteCol = Some("del"))
    assert(live == Set((2L, 10L)))
    // a delete whose key was never present is a no-op, not an error
    VersionedTable.applyChanges(spark, root,
      Seq((9L, 1L, "z", true)).toDF("k", "seq", "v", "del").coalesce(1),
      Seq("k"), "seq", deleteCol = Some("del"))
    assert(live == Set((2L, 10L)))
  }

  test("a nondeterministic changes frame is materialized once (no torn evaluation)") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a")).toDF("k", "seq", "v").coalesce(1))
    // rand() makes every evaluation of the frame differ: the bounds,
    // the stale-guard join and the splits must all see the ONE
    // materialized evaluation — keys/seqs here are deterministic, so
    // the fold's outcome is checkable even though v is not
    val chg = Seq(1L -> 20L, 2L -> 5L).toDF("k", "seq")
      .withColumn("v", concat(lit("r"), (rand(7) * 1000).cast("int")))
    VersionedTable.applyChanges(spark, root, chg.coalesce(1), Seq("k"), "seq")
    val rows = VersionedTable.read(spark, root)
      .select("k", "seq").as[(Long, Long)].collect().toSet
    assert(rows == Set((1L, 20L), (2L, 5L)),
      s"one consistent evaluation must land, got $rows")
    assert(VersionedTable.read(spark, root).select("k").as[Long]
      .collect().toSeq.distinct.size == 2)
  }

  test("equal-seq delete+upsert with identical row images tiebreaks deterministically") {
    // same key, same sequence, same row image — only the delete flag
    // differs. The tiebreak hash must SEE the flag, or row_number picks
    // delete-vs-keep by partition layout. Both input orders (and a
    // NULL-flag variant, which coalesces to false) must converge.
    def run(rows: Seq[(Long, Long, String, java.lang.Boolean)]): Set[Long] = {
      val root = freshRoot()
      VersionedTable.create(spark, root,
        Seq((1L, 1L, "x")).toDF("k", "seq", "v").coalesce(1))
      VersionedTable.applyChanges(spark, root,
        rows.toDF("k", "seq", "v", "del").repartition(4),
        Seq("k"), "seq", deleteCol = Some("del"))
      VersionedTable.read(spark, root).select("k").as[Long].collect().toSet
    }
    val pair = Seq((1L, 9L, "same", java.lang.Boolean.TRUE),
      (1L, 9L, "same", java.lang.Boolean.FALSE))
    val a = run(pair)
    assert(a == run(pair.reverse),
      "input order must not flip the delete-vs-keep outcome")
    // NULL flag and false flag carry identical images: coalesce makes
    // them the SAME candidate, so the true-flag side of the tiebreak is
    // stable whichever null-variant appears
    val withNull = Seq((1L, 9L, "same", java.lang.Boolean.TRUE),
      (1L, 9L, "same", null: java.lang.Boolean))
    assert(run(withNull) == run(withNull.reverse))
  }

  test("SQL faces: CALL graft.apply_changes and graft.replace_where") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "seq", "v").coalesce(1))
    // apply_changes from a temp view, delete flag + txn included
    Seq((1L, 20L, "a2", false), (2L, 5L, "stale", false), (3L, 1L, "c", false))
      .toDF("k", "seq", "v", "del").createOrReplaceTempView("ac_chg")
    spark.sql(s"CALL graft.apply_changes('$root', 'ac_chg', 'k', 'seq', " +
      "'del', 900)")
    assert(snap(root) == Map(1L -> (20L, "a2"), 2L -> (10L, "b"),
      3L -> (1L, "c")))
    // replay with the same txn short-circuits
    val v = VersionedTable.currentVersion(spark, root).get
    spark.sql(s"CALL graft.apply_changes('$root', 'ac_chg', 'k', 'seq', " +
      "'del', 900)")
    assert(VersionedTable.currentVersion(spark, root).contains(v))
    // replace_where: swap the k in [2, 3] region for fresh rows
    Seq((2L, 100L, "B"), (3L, 100L, "C")).toDF("k", "seq", "v")
      .createOrReplaceTempView("rw_src")
    spark.sql(s"CALL graft.replace_where('$root', 'rw_src', 'k:2:3')")
    assert(snap(root) == Map(1L -> (20L, "a2"), 2L -> (100L, "B"),
      3L -> (100L, "C")))
  }

  test("replace_where SQL face parses bounds in the column's type, not by numeric look") {
    // zero-padded STRING keys: '0123' must compare lexicographically
    // ('0100' <= '0123' <= '0200'), never as the number 123 — a Long
    // coercion would define a different region for the row filter than
    // the stat-domain pruning uses and rows could survive a replace
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq(("0123", 1L), ("12", 2L), ("0400", 3L))
        .toDF("code", "n").coalesce(1))
    Seq(("0150", 10L)).toDF("code", "n").createOrReplaceTempView("rw_str")
    spark.sql(s"CALL graft.replace_where('$root', 'rw_str', 'code:0100:0200')")
    val out = VersionedTable.read(spark, root)
      .as[(String, Long)].collect().toMap
    // '0123' (inside lexically) replaced; '12' and '0400' (outside) kept
    assert(out == Map("0150" -> 10L, "12" -> 2L, "0400" -> 3L), out.toString)
    // date columns: ISO bounds parse to the epoch-day stat domain
    val root2 = freshRoot()
    VersionedTable.create(spark, root2,
      Seq((java.sql.Date.valueOf("2024-01-10"), 1L),
        (java.sql.Date.valueOf("2024-03-10"), 2L))
        .toDF("d", "n").coalesce(1))
    Seq((java.sql.Date.valueOf("2024-01-20"), 9L)).toDF("d", "n")
      .createOrReplaceTempView("rw_date")
    spark.sql(
      s"CALL graft.replace_where('$root2', 'rw_date', 'd:2024-01-01:2024-01-31')")
    assert(VersionedTable.read(spark, root2).select("n").as[Long]
      .collect().toSet == Set(9L, 2L))
  }

  test("a re-insert after a delete needs only a higher sequence") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10L, "a")).toDF("k", "seq", "v").coalesce(1))
    VersionedTable.applyChanges(spark, root,
      Seq((1L, 20L, "a", true)).toDF("k", "seq", "v", "del").coalesce(1),
      Seq("k"), "seq", deleteCol = Some("del"))
    assert(VersionedTable.read(spark, root).count() == 0)
    // deleted keys leave no tombstone row, so ANY later sequence lands
    VersionedTable.applyChanges(spark, root,
      Seq((1L, 15L, "back", false)).toDF("k", "seq", "v", "del").coalesce(1),
      Seq("k"), "seq", deleteCol = Some("del"))
    assert(VersionedTable.read(spark, root).select("v").as[String]
      .collect().toSeq == Seq("back"))
  }
}
