package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sink.VersionedTable

/** Conditional partial-assignment MERGE (the reference's K5
  * `ON CONFLICT … DO UPDATE SET <assignments>`,
  * load_to_postgis.py:260-269): WHEN MATCHED [AND cond] THEN UPDATE SET
  * col = expr …, WHEN NOT MATCHED THEN INSERT (cols) VALUES (…) — both
  * through the SQL face and the Scala mergeIntoWhen, vectored and CoW. */
class MergeWhenSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mergewhen").resolve("t").toString

  private def seed(root: String): Unit = {
    // when(lit(true), …) makes every column NULLABLE — tuple frames are
    // NOT NULL, which would refuse the (nullable) SQL merge sources
    val df = Seq((1L, 10.0, "a"), (2L, 20.0, "b"), (3L, 30.0, "c"))
      .toDF("k", "v", "note")
    VersionedTable.create(spark, root,
      df.select(df.columns.map(c =>
          when(col(c).isNotNull, col(c)).as(c)).toSeq: _*)
        .coalesce(1))
  }

  private def state(root: String): Map[Long, (Double, String)] =
    VersionedTable.read(spark, root).select("k", "v", "note")
      .as[(Long, Double, String)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap

  test("SQL: WHEN MATCHED AND cond THEN UPDATE SET …, WHEN NOT MATCHED INSERT") {
    val root = freshRoot(); seed(root)
    // source: k=1 (bigger v → update), k=2 (smaller v → cond false,
    // untouched), k=9 (no match → insert with note defaulted to NULL)
    spark.sql(s"""MERGE INTO '$root' USING (
        SELECT * FROM VALUES (1L, CAST(99.0 AS DOUBLE)),
                             (2L, CAST(5.0 AS DOUBLE)),
                             (9L, CAST(90.0 AS DOUBLE)) AS src(k, v)
      ) ON (k)
      WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v, note = 'upd'
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val got = state(root)
    assert(got(1L) == (99.0, "upd"), got.toString)
    assert(got(2L) == (20.0, "b"), "cond-false matched row stays untouched")
    assert(got(3L) == (30.0, "c"), "unmatched target row stays untouched")
    assert(got(9L)._1 == 90.0 && got(9L)._2 == null,
      "insert takes listed values, unlisted columns NULL")
    assert(got.size == 4)
  }

  test("no INSERT clause: unmatched source rows do nothing; CoW = vectored") {
    val rootV = freshRoot(); seed(rootV)
    val rootC = freshRoot(); seed(rootC)
    val src = Seq((1L, 1.5), (9L, 9.5)).toDF("k", "v")
    for ((root, vectored) <- Seq(rootV -> true, rootC -> false)) {
      VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"),
        matchedCond = None,
        set = Map("v" -> (col("t.v") + col("s.v"))),
        insert = None, vectored = vectored)
      val got = state(root)
      assert(got.size == 3, "no insert clause — k=9 must NOT land")
      assert(got(1L) == (11.5, "a"), got.toString)
      assert(got(2L) == (20.0, "b") && got(3L) == (30.0, "c"))
    }
    // and the two paths committed different ops over identical results
    assert(VersionedTable.describeHistory(spark, rootV)
      .select("op").as[String].collect().contains("merge-vectored"))
    assert(VersionedTable.describeHistory(spark, rootC)
      .select("op").as[String].collect().contains("merge"))
  }

  test("row tracking: matched keeps its id, insert gets fresh, cond-false untouched") {
    val root = freshRoot(); seed(root)
    VersionedTable.enableRowTracking(spark, root)
    def ids(): Map[Long, Long] = VersionedTable.read(spark, root)
      .select(col("k"), col("_row_id")).as[(Long, Long)].collect().toMap
    val before = ids()
    VersionedTable.mergeIntoWhen(spark, root,
      Seq((1L, 99.0), (2L, 5.0), (9L, 90.0)).toDF("k", "v"), Seq("k"),
      matchedCond = Some(col("s.v") > col("t.v")),
      set = Map("v" -> col("s.v")),
      insert = Some(Map("v" -> col("s.v"))))
    val after = ids()
    assert(after(1L) == before(1L), "updated row keeps its id")
    assert(after(2L) == before(2L) && after(3L) == before(3L))
    assert(!before.values.toSet.contains(after(9L)), "fresh insert id")
    assert(after.values.toSet.size == after.size)
  }

  test("WHEN MATCHED [AND cond] THEN DELETE, vectored and CoW, with insert") {
    val rootV = freshRoot(); seed(rootV)
    val rootC = freshRoot(); seed(rootC)
    // delete matched rows with v < 25 (k=1 v=10, k=2 v=20 — not k=3),
    // insert the unmatched k=9
    spark.sql(s"""MERGE INTO '$rootV' USING (
        SELECT * FROM VALUES (1L), (2L), (3L), (9L) AS src(k)
      ) ON (k)
      WHEN MATCHED AND t.v < 25.0 THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, CAST(90.0 AS DOUBLE))""")
    val gotV = state(rootV)
    assert(gotV.keySet == Set(3L, 9L), gotV.toString)
    assert(gotV(3L) == (30.0, "c") && gotV(9L)._1 == 90.0)
    // CoW path, same semantics through the Scala face
    VersionedTable.mergeIntoWhen(spark, rootC,
      Seq(1L, 2L, 3L, 9L).toDF("k"), Seq("k"),
      matchedCond = Some(col("t.v") < 25.0),
      set = Map.empty, insert = Some(Map("v" -> lit(90.0))),
      matchedDelete = true, vectored = false)
    val gotC = state(rootC)
    assert(gotC.keySet == Set(3L, 9L) && gotC(3L) == (30.0, "c") &&
      gotC(9L)._1 == 90.0, gotC.toString)
    // one action per WHEN MATCHED: SET + DELETE together refuses
    assert(intercept[IllegalArgumentException] {
      VersionedTable.mergeIntoWhen(spark, rootC, Seq(3L).toDF("k"),
        Seq("k"), None, Map("v" -> lit(0.0)), None, matchedDelete = true)
    }.getMessage.contains("exactly one action"))
  }

  test("row-tracked CoW merge preserves matched ids like the vectored path") {
    val root = freshRoot(); seed(root)
    VersionedTable.enableRowTracking(spark, root)
    def ids(): Map[Long, Long] = VersionedTable.read(spark, root)
      .select(col("k"), col("_row_id")).as[(Long, Long)].collect().toMap
    val before = ids()
    // a business frame WITHOUT _row_id through the CoW merge
    VersionedTable.mergeInto(spark, root,
      Seq((1L, 99.0, "upd"), (9L, 90.0, "new")).toDF("k", "v", "note"),
      Seq("k"))
    val after = ids()
    assert(after(1L) == before(1L), "CoW-matched key keeps its id")
    assert(after(2L) == before(2L) && after(3L) == before(3L))
    assert(!before.values.toSet.contains(after(9L)), "fresh insert id")
    assert(after.values.toSet.size == after.size, "ids stay unique")
    assert(state(root)(1L) == (99.0, "upd"))
    // and the raw-source contract matches the vectored path's
    val e = intercept[IllegalArgumentException] {
      VersionedTable.mergeInto(spark, root,
        Seq((1L, 1.0, "x", "oops")).toDF("k", "v", "note", "extra"),
        Seq("k"))
    }
    assert(e.getMessage.contains("schema mismatch"), e.getMessage)
  }

  test("ordered multi-clause WHEN MATCHED: first condition-true wins") {
    val root = freshRoot(); seed(root)
    // k=1 (v=10): s.v=99 > t.v -> clause 1 (update up)
    // k=2 (v=20): s.v=4 < t.v*0.5 -> clause 2 (delete)
    // k=3 (v=30): s.v=30 -> neither -> clause 3 (unconditional tail)
    // k=9: unmatched -> insert
    spark.sql(s"""MERGE INTO '$root' USING (
        SELECT * FROM VALUES (1L, CAST(99.0 AS DOUBLE)),
                             (2L, CAST(4.0 AS DOUBLE)),
                             (3L, CAST(30.0 AS DOUBLE)),
                             (9L, CAST(90.0 AS DOUBLE)) AS src(k, v)
      ) ON (k)
      WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v, note = 'up'
      WHEN MATCHED AND s.v < t.v * 0.5 THEN DELETE
      WHEN MATCHED THEN UPDATE SET note = 'meh'
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val got = state(root)
    assert(got.keySet == Set(1L, 3L, 9L), got.toString)
    assert(got(1L) == (99.0, "up"), got.toString)
    assert(got(3L) == (30.0, "meh"), "unconditional tail clause claims the rest")
    assert(got(9L)._1 == 90.0 && got(9L)._2 == null)
    // an unconditional clause BEFORE the end refuses (it would shadow)
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO '$root' USING (SELECT 1L AS k) ON (k)
        WHEN MATCHED THEN DELETE
        WHEN MATCHED THEN UPDATE SET note = 'x'""")
    }
    assert(e.getMessage.contains("only the LAST"), e.getMessage)
    // unparsed residue between clauses delegates, never reinterprets
    assert(intercept[Exception] {
      spark.sql(s"""MERGE INTO '$root' USING (SELECT 1L AS k) ON (k)
        WHEN MATCHED AND t.v > 0 THEN UPDATE SET note = 'y'
        WHEN MATCHED BY TARGET THEN DELETE""")
    } != null)
    assert(state(root)(1L) == (99.0, "up"), "failed statements change nothing")
  }

  test("WHEN NOT MATCHED BY SOURCE: ordered DELETE/UPDATE, SQL + Scala CoW") {
    val rootV = freshRoot(); seed(rootV)
    val rootC = freshRoot(); seed(rootC)
    // source carries only k=1: k=2 (v=20 < 25) deletes by source,
    // k=3 (v=30) takes the stale tag, k=1 updates from the source
    spark.sql(s"""MERGE INTO '$rootV' USING (
        SELECT 1L AS k, CAST(99.0 AS DOUBLE) AS v
      ) ON (k)
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND t.v < 25.0 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET note = 'stale'""")
    val gotV = state(rootV)
    assert(gotV.keySet == Set(1L, 3L), gotV.toString)
    assert(gotV(1L) == (99.0, "a") && gotV(3L) == (30.0, "stale"))
    // Scala face, CoW commit, same semantics
    VersionedTable.mergeIntoWhenFull(spark, rootC,
      Seq((1L, 99.0)).toDF("k", "v"), Seq("k"),
      matched = Seq((None: Option[org.apache.spark.sql.Column]) ->
        (VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))
          : VersionedTable.MatchedAction)),
      notMatched = Seq.empty,
      bySource = Seq(
        (Some(col("t.v") < 25.0): Option[org.apache.spark.sql.Column]) ->
          (VersionedTable.MatchedDelete: VersionedTable.MatchedAction),
        (None: Option[org.apache.spark.sql.Column]) ->
          (VersionedTable.MatchedUpdate(Map("note" -> lit("stale")))
            : VersionedTable.MatchedAction)),
      vectored = false)
    assert(state(rootC) == gotV, "CoW path hash-matches the vectored SQL path")
    // the ordering contract holds per family
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO '$rootV' USING (SELECT 1L AS k) ON (k)
        WHEN NOT MATCHED BY SOURCE THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.v > 0 THEN UPDATE SET note = 'x'""")
    }
    assert(e.getMessage.contains("only the LAST"), e.getMessage)
  }

  test("ordered conditional WHEN NOT MATCHED clauses: first-true inserts") {
    val root = freshRoot(); seed(root)
    // k=8 (v=8): second clause; k=9 (v=90): first clause;
    // k=7 (v=-1): NO clause — claimed by nothing, never lands
    spark.sql(s"""MERGE INTO '$root' USING (
        SELECT * FROM VALUES (8L, CAST(8.0 AS DOUBLE)),
                             (9L, CAST(90.0 AS DOUBLE)),
                             (7L, CAST(-1.0 AS DOUBLE)) AS src(k, v)
      ) ON (k)
      WHEN NOT MATCHED AND s.v > 50.0 THEN INSERT (k, v, note) VALUES (s.k, s.v, 'big')
      WHEN NOT MATCHED AND s.v > 0.0 THEN INSERT (k, v) VALUES (s.k, s.v)""")
    val got = state(root)
    assert(got.keySet == Set(1L, 2L, 3L, 8L, 9L), got.toString)
    assert(got(9L) == (90.0, "big"), got.toString)
    assert(got(8L)._1 == 8.0 && got(8L)._2 == null,
      "second clause's unlisted columns NULL")
    assert(!got.contains(7L), "cond-false everywhere: row never lands")
  }

  test("contract: assigning a key or unknown column refuses") {
    val root = freshRoot(); seed(root)
    val src = Seq((1L, 2.0)).toDF("k", "v")
    val e1 = intercept[IllegalArgumentException] {
      VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"), None,
        Map("k" -> lit(7L)), None)
    }
    assert(e1.getMessage.contains("key column"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"), None,
        Map("nope" -> lit(7L)), None)
    }
    assert(e2.getMessage.contains("unknown column"), e2.getMessage)
    // the canonical forms still parse through the new WHEN dispatch
    spark.sql(s"MERGE INTO '$root' USING (SELECT 3L AS k, " +
      "CAST(0.0 AS DOUBLE) AS v, 'z' AS note) ON (k) " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(state(root)(3L) == (0.0, "z"))
    spark.sql(s"MERGE INTO '$root' USING (SELECT 2L AS k) ON (k) " +
      "WHEN MATCHED THEN DELETE")
    assert(!state(root).contains(2L))
  }

  /** A table built from Scala primitives: every column NOT NULL. */
  private def seedPrimitive(root: String): Unit =
    VersionedTable.create(spark, root,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v").coalesce(1))

  private def primState(root: String): Map[Long, Long] =
    VersionedTable.read(spark, root).select("k", "v").as[(Long, Long)]
      .collect().toMap

  test("every merge face, CoW and vectored, merges into NOT NULL columns") {
    val src = Seq((1L, 11L), (9L, 90L)).toDF("k", "v")
    val want = Map(1L -> 11L, 2L -> 20L, 3L -> 30L, 9L -> 90L)
    Seq(false, true).foreach { vectored =>
      def fresh(): String = { val r = freshRoot(); seedPrimitive(r); r }
      val r1 = fresh()
      VersionedTable.mergeIntoWhen(spark, r1, src, Seq("k"), None,
        Map("v" -> col("s.v")), Some(Map("k" -> col("s.k"), "v" -> col("s.v"))),
        vectored = vectored)
      assert(primState(r1) == want, s"mergeIntoWhen vectored=$vectored")
      val r2 = fresh()
      VersionedTable.mergeIntoWhenMulti(spark, r2, src, Seq("k"),
        Seq(Some(col("s.v") > 100L) -> VersionedTable.MatchedDelete,
          None -> VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))),
        Some(Map("k" -> col("s.k"), "v" -> col("s.v"))), vectored = vectored)
      assert(primState(r2) == want, s"mergeIntoWhenMulti vectored=$vectored")
      val r3 = fresh()
      VersionedTable.mergeIntoWhenFull(spark, r3, src, Seq("k"),
        Seq(None -> VersionedTable.MatchedUpdate(Map("v" -> col("s.v")))),
        Seq(None -> Map("k" -> col("s.k"), "v" -> col("s.v"))),
        bySource = Seq(Some(col("t.k") === 3L) ->
          VersionedTable.MatchedUpdate(Map("v" -> (col("t.v") + 1L)))),
        vectored = vectored)
      assert(primState(r3) == want + (3L -> 31L),
        s"mergeIntoWhenFull vectored=$vectored")
      val r4 = fresh()
      VersionedTable.mergeIntoEvolve(spark, r4, src, Seq("k"),
        vectored = vectored)
      assert(primState(r4) == want, s"mergeIntoEvolve vectored=$vectored")
    }
    val r5 = freshRoot(); seedPrimitive(r5)
    spark.sql(s"""MERGE INTO '$r5' USING (
        SELECT * FROM VALUES (1L, 11L), (9L, 90L) AS src(k, v)) ON (k)
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    assert(primState(r5) == want, "SQL MERGE")
    assert(VersionedTable.schemaOf(spark, r5).fields.forall(!_.nullable),
      "the table keeps its NOT NULL columns")
  }

  test("a merge writing NULL into a NOT NULL column fails with NotNullViolation") {
    Seq(false, true).foreach { vectored =>
      val root = freshRoot(); seedPrimitive(root)
      val src = Seq((1L, 11L), (9L, 90L)).toDF("k", "v")
      // an insert that leaves v unlisted writes NULL into it
      val e1 = intercept[VersionedTable.NotNullViolation] {
        VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"), None,
          Map("v" -> col("s.v")), Some(Map("k" -> col("s.k"))),
          vectored = vectored)
      }
      assert(e1.column == "v" && e1.getMessage.contains("NOT NULL column v"))
      // an update assigning NULL only to a cond-false row passes; to a
      // claimed row it fails
      VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"),
        Some(col("s.v") > 100L), Map("v" -> lit(null).cast("bigint")), None,
        vectored = vectored)
      val before = VersionedTable.currentVersion(spark, root)
      val e2 = intercept[VersionedTable.NotNullViolation] {
        VersionedTable.mergeIntoWhen(spark, root, src, Seq("k"), None,
          Map("v" -> lit(null).cast("bigint")), None, vectored = vectored)
      }
      assert(e2.column == "v")
      assert(VersionedTable.currentVersion(spark, root) == before &&
        primState(root) == Map(1L -> 10L, 2L -> 20L, 3L -> 30L),
        "a failed merge commits nothing")
    }
  }
}
