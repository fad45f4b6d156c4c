package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** The batch change-feed face (spark.read + readChangeFeed +
  * startingVersion/endingVersion) and the contract-release fixes the
  * round-13 self-review found. Under test: per-version exact
  * _commit_version stamps; a rename INSIDE the range surfaces every
  * change under the ENDING version's name (never two half-null
  * columns); metadata-only versions deliver nothing; an overwrite that
  * drops an identity/generated column releases its contract — appends
  * keep working and a re-added name never resurrects the old
  * expression. */
class TableChangesSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_tc").resolve("t").toString

  /** Count each row image of a collected side. */
  private def multiset[R](rows: Seq[R]): Map[R, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** The reference change set of (from, to]: collect both snapshots and
    * count every (id, amt) image on each side; a positive count
    * difference is that many inserts, a negative one that many deletes.
    * Returns (inserts, deletes) as multisets. */
  private def naiveDiff(root: String, from: Int, to: Int)
      : (Map[(Long, Double), Int], Map[(Long, Double), Int]) = {
    def snap(v: Int) = multiset(VersionedTable.read(spark, root, Some(v))
      .select("id", "amt").as[(Long, Double)].collect().toSeq)
    val (old, cur) = (snap(from), snap(to))
    val d = (old.keySet ++ cur.keySet).toSeq
      .map(r => r -> (cur.getOrElse(r, 0) - old.getOrElse(r, 0)))
    (d.collect { case (r, n) if n > 0 => r -> n }.toMap,
     d.collect { case (r, n) if n < 0 => r -> -n }.toMap)
  }

  test("one-pass two-way diff: append ranges plan no aggregate; mixed commits match the exceptAll relation") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10.0), (2L, 20.0), (2L, 20.0)).toDF("id", "amt").coalesce(1)) // v1 (dup row: multiset)
    VersionedTable.append(spark, root,
      Seq((3L, 30.0)).toDF("id", "amt").coalesce(1))                 // v2 pure append
    // v3 CoW merge: rewrites v1's file (2L upserted), inserts 4L —
    // mixed commit (files removed + added)
    VersionedTable.mergeInto(spark, root,
      Seq((2L, 99.0), (4L, 40.0)).toDF("id", "amt"), Seq("id"))      // v3
    def diff(from: Int, to: Int) = {
      val (a, r) = VersionedTable.changesBetween(spark, root, from, to)
      def rows(df: org.apache.spark.sql.DataFrame) =
        multiset(df.select("id", "amt").as[(Long, Double)].collect().toSeq)
      (a, r, rows(a), rows(r))
    }
    // append-only range (1,2]: the one-sided fast path must skip the
    // diff aggregation outright — no Aggregate anywhere in either plan
    val (a2, _, a2Rows, r2Rows) = diff(1, 2)
    assert(!a2.queryExecution.optimizedPlan.exists(_.isInstanceOf[Aggregate]),
      s"append-only adds must not aggregate:\n${a2.queryExecution.optimizedPlan}")
    assert(r2Rows.isEmpty)
    assert((a2Rows, r2Rows) == naiveDiff(root, 1, 2))
    // mixed range (2,3]: the one-pass diff must produce exactly the
    // multiset difference of the two snapshots, with the carried
    // duplicate row's images cancelling
    val (_, _, aNew, rNew) = diff(2, 3)
    assert((aNew, rNew) == naiveDiff(root, 2, 3),
      s"one-pass diff diverged from the snapshot diff: $aNew/$rNew vs ${naiveDiff(root, 2, 3)}")
    assert(aNew.keySet == Set((2L, 99.0), (4L, 40.0)) &&
      rNew.keySet == Set((2L, 20.0)),
      s"v3 diff wrong: adds=$aNew rems=$rNew")
    // multiset multiplicity: the duplicate (2,20) pair both vanished —
    // removed side must carry BOTH copies
    assert(rNew.values.sum == 2, "both copies of the dup row removed")
  }

  test("fused changelog: one aggregate on mixed commits, relation matches the per-side union") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10.0), (2L, 20.0), (2L, 20.0), (5L, 0.0))
        .toDF("id", "amt").coalesce(1))                              // v1 (dup row)
    // v2 CoW merge: rewrites v1's file — 2L upserted (both copies),
    // 5L rewritten with an IDENTICAL image (must stay CDC-invisible),
    // 4L inserted: a mixed commit through the diff aggregation
    VersionedTable.mergeInto(spark, root,
      Seq((2L, 99.0), (5L, 0.0), (4L, 40.0)).toDF("id", "amt"), Seq("id"))
    val fused = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2").load(root)
      .select("id", "amt", "_change_type")
      .as[(Long, Double, String)].collect().toSeq.sorted
    // the reference: each side of the snapshot diff, tagged and unioned
    val unioned = {
      val (ins, del) = naiveDiff(root, 1, 2)
      def tagged(side: Map[(Long, Double), Int], tag: String) =
        side.toSeq.flatMap { case ((id, amt), n) => Seq.fill(n)((id, amt, tag)) }
      (tagged(ins, "insert") ++ tagged(del, "delete")).sorted
    }
    assert(fused == unioned, s"fused changelog diverged: $fused vs $unioned")
    // multiset multiplicity AND identical-image cancellation: both dup
    // copies of 2L surface as deletes, the no-op 5L rewrite is invisible
    assert(fused == Seq((2L, 20.0, "delete"), (2L, 20.0, "delete"),
      (2L, 99.0, "insert"), (4L, 40.0, "insert")).sorted,
      s"v2 changelog wrong: $fused")
    // plan shape: the fused frame carries exactly ONE diff aggregate
    val nAggs = VersionedTable.changelogBetween(spark, root, 1, 2)
      .queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    assert(nAggs == 1, "fused changelog must plan exactly one aggregate")
  }

  test("batch feed: exact per-version stamps; renames align to the ending schema") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10.0)).toDF("id", "amt").coalesce(1))                 // v1
    VersionedTable.append(spark, root,
      Seq((2L, 20.0)).toDF("id", "amt").coalesce(1))                 // v2
    VersionedTable.renameColumn(spark, root, "amt", "amount")        // v3 (no rows)
    VersionedTable.append(spark, root,
      Seq((3L, 30.0)).toDF("id", "amount").coalesce(1))              // v4
    val feed = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(root)
    assert(feed.schema.fieldNames.toSeq ==
      Seq("id", "amount", "_change_type", "_commit_version"),
      s"ONE amount column under the ending name, got ${feed.schema.fieldNames.toSeq}")
    val rows = feed.select("id", "amount", "_change_type", "_commit_version")
      .as[(Long, Double, String, Long)].collect().toSet
    assert(rows == Set((1L, 10.0, "insert", 1L), (2L, 20.0, "insert", 2L),
      (3L, 30.0, "insert", 4L)),
      s"pre-rename changes must surface under 'amount'; got $rows")
    // endingVersion bounds the range; v1 is the snapshot-as-inserts
    val first = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").option("endingVersion", "1").load(root)
    assert(first.count() == 1)
    // a delete shows with its pre-delete value
    VersionedTable.deleteWhereVectored(spark, root,
      Map("id" -> (Some(2L): Option[Any], Some(2L): Option[Any])),
      col("id") === 2L)                                              // v5
    val del = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "5").load(root)
      .select("id", "_change_type", "_commit_version")
      .as[(Long, String, Long)].collect().toSeq
    assert(del == Seq((2L, "delete", 5L)))
  }

  test("a rename CHAIN inside the range recovers data written under every alias") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10.0)).toDF("id", "x").coalesce(1))                   // v1: x
    VersionedTable.renameColumn(spark, root, "x", "y")               // v2
    VersionedTable.append(spark, root,
      Seq((2L, 20.0)).toDF("id", "y").coalesce(1))                   // v3: y
    VersionedTable.renameColumn(spark, root, "y", "z")               // v4
    VersionedTable.append(spark, root,
      Seq((3L, 30.0)).toDF("id", "z").coalesce(1))                   // v5: z
    val feed = spark.read.format("graft-versioned")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1").load(root)
    assert(feed.schema.fieldNames.count(_ == "z") == 1 &&
      !feed.schema.fieldNames.exists(Set("x", "y")))
    val rows = feed.select("id", "z").as[(Long, Double)].collect().toSet
    assert(rows == Set((1L, 10.0), (2L, 20.0), (3L, 30.0)),
      s"x-era AND y-era values must both surface under z, got $rows")
    // schema-only consultation must not force the union plan: cheap call
    assert(feed.schema.fieldNames.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"))
  }

  test("an overwrite dropping identity/generated columns releases their contracts") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq((1L, 10.0)).toDF("id", "v").coalesce(1))
    VersionedTable.addIdentityColumn(spark, root, "rid")
    VersionedTable.addGeneratedColumn(spark, root, "g", "double", "v * 2")
    VersionedTable.append(spark, root, Seq((2L, 20.0)).toDF("id", "v").coalesce(1))
    // overwrite WITHOUT rid/g: both contracts must release with the schema
    VersionedTable.overwrite(spark, root,
      Seq((5L, 50.0)).toDF("id", "v").coalesce(1))
    assert(VersionedTable.identityOf(spark, root).isEmpty,
      "a dropped identity column must not leave a dangling mark")
    assert(VersionedTable.generatedOf(spark, root).isEmpty,
      "a dropped generated column must not leave a dangling expression")
    // appends keep working (the dangling-ids bug wedged this forever)
    VersionedTable.append(spark, root, Seq((6L, 60.0)).toDF("id", "v").coalesce(1))
    assert(VersionedTable.read(spark, root).count() == 2)
    // re-adding the generated column's NAME as a plain column must read
    // NULL for history — never the resurrected old expression
    VersionedTable.addColumn(spark, root, "g", "double")
    assert(VersionedTable.read(spark, root).filter($"g".isNotNull).count() == 0,
      "a re-added plain column must read NULL, not the old generated expression")
  }
}
