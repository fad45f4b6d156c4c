package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** The change feed of copy-on-write merge commits, which write their
  * change rows at commit (`mergeInto` and every merge face over it),
  * against a reference computed here: the multiset difference of the two
  * snapshots, each collected in full and aligned by column name to the
  * ending version's schema. The reference never calls the file diff.
  * Every case checks both `changesBetween` and `changelogBetween`, over
  * single-commit ranges (served from the change files alone) and
  * multi-commit ranges (served from the file diff). Crash safety and
  * retention of the change files close the spec. */
class CowChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_cowcdf").resolve("t").toString

  private type Bag = Map[Seq[Any], Int]

  private def bag(rows: Seq[Seq[Any]]): Bag =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  /** Snapshot `v`'s rows projected onto `names`. A column the snapshot
    * knows under its earlier name (`renamed`: current -> earlier) reads
    * from that name; one it lacks (added later) reads NULL. */
  private def snapshot(root: String, v: Int, names: Seq[String],
                       renamed: Map[String, String]): Bag = {
    val df = VersionedTable.read(spark, root, Some(v))
    bag(df.select(names.map(n =>
        if (df.columns.contains(n)) col(n)
        else renamed.get(n).filter(df.columns.contains)
          .fold(lit(null).as(n))(col(_).as(n))): _*)
      .collect().toSeq.map(_.toSeq))
  }

  /** (inserts, deletes) of (from, to]: per row image, the count in `to`
    * minus the count in `from`. */
  private def reference(root: String, from: Int, to: Int,
                        renamed: Map[String, String]): (Bag, Bag) = {
    val names = VersionedTable.schemaOf(spark, root, Some(to)).fieldNames.toSeq
    val (old, cur) = (snapshot(root, from, names, renamed),
      snapshot(root, to, names, renamed))
    val d = (old.keySet ++ cur.keySet).toSeq
      .map(r => r -> (cur.getOrElse(r, 0) - old.getOrElse(r, 0)))
    (d.collect { case (r, n) if n > 0 => r -> n }.toMap,
      d.collect { case (r, n) if n < 0 => r -> -n }.toMap)
  }

  /** A change file commit `v` wrote is `c<v>-<nonce>-pre-…` (pre-images)
    * or `c<v>-<nonce>-post-…` (post-images, a data file too); any other
    * data file is `c<v>-<nonce>-part-…`. */
  private def nameParts(f: String): Array[String] = f.split('/').last.split('-')

  private def isChangeOf(v: Int)(f: String): Boolean =
    nameParts(f)(0) == s"c$v" && nameParts(f).lift(2).exists(Set("pre", "post"))

  private def isPre(f: String): Boolean = nameParts(f).lift(2).contains("pre")

  /** The files the feed of the single commit `v` reads. */
  private def feedFiles(root: String, v: Int): Seq[String] = {
    val (a, r) = VersionedTable.changesBetween(spark, root, v - 1, v)
    (a.inputFiles ++ r.inputFiles).distinct.toSeq
  }

  /** Whether commit `v` wrote change files: its feed reads them and
    * nothing else. A first version has no feed. */
  private def hasChangeFile(root: String, v: Int): Boolean = v > 1 && {
    val fs = feedFiles(root, v)
    fs.nonEmpty && fs.forall(isChangeOf(v))
  }

  /** `uri`'s path below the table root (`data/…`). */
  private def rel(uri: String): String = uri.substring(uri.lastIndexOf("/data/") + 1)

  private def rows(df: DataFrame, names: Seq[String]): Bag =
    bag(df.select(names.map(col): _*).collect().toSeq.map(_.toSeq))

  /** Both feed faces of (from, to] equal the reference. A single-commit
    * range that reads a change file reads no data file. */
  private def check(root: String, from: Int, to: Int,
                    renamed: Map[String, String] = Map.empty): Unit = {
    val names = VersionedTable.schemaOf(spark, root, Some(to)).fieldNames.toSeq
    val want = reference(root, from, to, renamed)
    val (adds, rems) = VersionedTable.changesBetween(spark, root, from, to)
    assert((rows(adds, names), rows(rems, names)) == want,
      s"changesBetween($from, $to) diverged from the snapshot diff")
    val log = VersionedTable.changelogBetween(spark, root, from, to)
    val typed = log.select((names :+ "_change_type").map(col): _*).collect().toSeq
    def side(t: String) = bag(typed.filter(_.getString(names.size) == t)
      .map(r => r.toSeq.take(names.size)))
    assert((side("insert"), side("delete")) == want,
      s"changelogBetween($from, $to) diverged from the snapshot diff")
    val read = Seq(adds, rems, log).flatMap(_.inputFiles)
    if (to == from + 1 && read.exists(isChangeOf(to)))
      assert(read.forall(isChangeOf(to)),
        s"v$to's feed must read only its change files, read $read")
  }

  /** Every consecutive range and every range from v1. */
  private def checkHistory(root: String,
                           renamed: Map[String, String] = Map.empty): Unit = {
    val n = VersionedTable.currentVersion(spark, root).get
    (2 to n).foreach(v => check(root, v - 1, v, renamed))
    (3 to n).foreach(v => check(root, 1, v, renamed))
  }

  test("CoW merges: upserts with same-commit deletes, identical images, NULL and duplicate keys") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq[(java.lang.Long, String, Double)]((1L, "a", 1.0), (2L, "b", 2.0),
        (2L, "b", 2.0), (3L, "c", 3.0), (null, "n", 0.0), (4L, "d", 4.0))
        .toDF("k", "s", "x").repartition(2))                          // v1
    // upsert 1 (changed), 3 (identical image: d = 0), insert 9 and a
    // NULL key (never matches: inserted); delete 4 in the same commit
    VersionedTable.mergeInto(spark, root,
      Seq[(java.lang.Long, String, Double)]((1L, "a", 10.0), (3L, "c", 3.0),
        (9L, "i", 9.0), (null, "m", 5.0)).toDF("k", "s", "x"),
      Seq("k"), deletes0 = Some(Seq(4L).toDF("k")))                   // v2
    // duplicate source keys insert twice; the duplicated target key 2
    // loses both copies
    VersionedTable.mergeInto(spark, root,
      Seq[(java.lang.Long, String, Double)]((2L, "b", 20.0), (2L, "b", 21.0))
        .toDF("k", "s", "x"), Seq("k"))                               // v3
    // a merge whose every row is an identical image: an empty feed
    VersionedTable.mergeInto(spark, root,
      Seq[(java.lang.Long, String, Double)]((1L, "a", 10.0))
        .toDF("k", "s", "x"), Seq("k"))                               // v4
    assert((2 to 4).forall(hasChangeFile(root, _)))
    checkHistory(root)
    val (a4, r4) = VersionedTable.changesBetween(spark, root, 3, 4)
    assert(a4.count() == 0 && r4.count() == 0,
      "identical-image updates cancel")
    val (a3, r3) = VersionedTable.changesBetween(spark, root, 2, 3)
    assert(a3.count() == 2 && r3.count() == 2, "multiset multiplicity")
  }

  test("a merge that touches no file writes no change rows; metadata commits carry none") {
    val root = freshRoot()
    VersionedTable.create(spark, root, Seq((1L, 1.0), (2L, 2.0))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.mergeInto(spark, root, Seq((1L, 5.0)).toDF("k", "x"),
      Seq("k"))                                                       // v2
    // keys outside every file's [lo, hi]: a pure append
    VersionedTable.mergeInto(spark, root, Seq((100L, 7.0)).toDF("k", "x"),
      Seq("k"))                                                       // v3
    VersionedTable.setTableProperty(spark, root, "p", "1")            // v4
    assert(hasChangeFile(root, 2))
    assert(!hasChangeFile(root, 3), "a one-sided merge writes no change file")
    assert(!hasChangeFile(root, 4), "the change file is per commit")
    VersionedTable.dropManifestCache()
    assert(hasChangeFile(root, 2) && !hasChangeFile(root, 4),
      "the field round-trips through manifest text")
    checkHistory(root)
    // read/filesOf never list a pre-image file
    assert(!VersionedTable.filesOf(spark, root, Some(2)).exists(isPre))
    assert(!VersionedTable.read(spark, root, Some(2)).inputFiles.exists(isPre))
  }

  test("row tracking, a renamed column and a partitioned table") {
    val tracked = freshRoot()
    VersionedTable.create(spark, tracked, Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("k", "x").coalesce(1))
    VersionedTable.enableRowTracking(spark, tracked)
    val v0 = VersionedTable.currentVersion(spark, tracked).get
    VersionedTable.mergeInto(spark, tracked,
      Seq((2L, 20.0), (7L, 7.0)).toDF("k", "x"), Seq("k"))
    VersionedTable.mergeInto(spark, tracked,
      Seq((3L, 3.0)).toDF("k", "x"), Seq("k"))                        // identical
    assert(hasChangeFile(tracked, v0 + 1) && hasChangeFile(tracked, v0 + 2))
    (v0 + 1 to v0 + 2).foreach(v => check(tracked, v - 1, v))
    assert(VersionedTable.changesBetween(spark, tracked, v0 + 1, v0 + 2)
      ._1.count() == 0, "a kept row id makes the identical image cancel")

    val mapped = freshRoot()
    VersionedTable.create(spark, mapped, Seq((1L, 1.0), (2L, 2.0))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.renameColumn(spark, mapped, "x", "amount")         // v2
    VersionedTable.mergeInto(spark, mapped,
      Seq((2L, 22.0), (5L, 5.0)).toDF("k", "amount"), Seq("k"))       // v3
    assert(hasChangeFile(mapped, 3))
    val physical = feedFiles(mapped, 3).flatMap(spark.read.parquet(_).columns)
    assert(physical.contains("x") && !physical.contains("amount"),
      s"change files carry the physical name, got $physical")
    checkHistory(mapped, renamed = Map("amount" -> "x"))

    val parted = freshRoot()
    VersionedTable.create(spark, parted,
      Seq((1L, "p", 1.0), (2L, "q", 2.0), (3L, "p", 3.0))
        .toDF("k", "part", "x"), partitionBy = Seq("part"))           // v1
    VersionedTable.mergeInto(spark, parted,
      Seq((1L, "p", 10.0), (4L, "q", 4.0)).toDF("k", "part", "x"),
      Seq("k"))                                                       // v2
    VersionedTable.deleteWhere(spark, parted, Map.empty, col("part") === "q") // v3
    assert(hasChangeFile(parted, 2) && !hasChangeFile(parted, 3))
    assert(feedFiles(parted, 2).forall(_.contains("/part=")),
      "change files sit in their rows' partition directories")
    checkHistory(parted)
  }

  test("an addColumn between commits, and the mergeIntoWhenFull CoW face") {
    val root = freshRoot()
    VersionedTable.create(spark, root, Seq((1L, 1.0), (2L, 2.0), (3L, 3.0))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.mergeInto(spark, root, Seq((1L, 5.0)).toDF("k", "x"),
      Seq("k"))                                                       // v2
    VersionedTable.addColumn(spark, root, "note", "string")           // v3
    VersionedTable.mergeInto(spark, root,
      Seq((2L, 2.0, "n"), (8L, 8.0, null)).toDF("k", "x", "note"),
      Seq("k"))                                                       // v4
    VersionedTable.mergeIntoWhenFull(spark, root,
      Seq((1L, 50.0), (3L, 0.0), (9L, 9.0)).toDF("k", "x"), Seq("k"),
      matched = Seq(
        Some(col("s.x") === 0.0) -> VersionedTable.MatchedDelete,
        None -> VersionedTable.MatchedUpdate(Map("x" -> col("s.x")))),
      notMatched = Seq(None -> Map("k" -> col("s.k"), "x" -> col("s.x"))),
      bySource = Seq(Some(col("t.k") === 8L) ->
        VersionedTable.MatchedUpdate(Map("note" -> lit("bys")))),
      vectored = false)                                               // v5
    assert(Seq(2, 4, 5).forall(hasChangeFile(root, _)) && !hasChangeFile(root, 3))
    checkHistory(root)
    check(root, 2, 5)
  }

  test("deleteWhere keeps the file diff: matched rows only, a NULL predicate keeps its row") {
    val root = freshRoot()
    VersionedTable.create(spark, root,
      Seq[(Long, java.lang.Double)]((1L, 1.0), (2L, null), (3L, 3.0), (4L, 4.0))
        .toDF("k", "x").coalesce(1))                                  // v1
    VersionedTable.deleteWhere(spark, root, Map.empty, col("x") > 2.0) // v2
    VersionedTable.deleteWhere(spark, root, Map.empty, col("x") > 100.0) // v3: none
    assert(!hasChangeFile(root, 2) && !hasChangeFile(root, 3))
    checkHistory(root)
    assert(VersionedTable.changesBetween(spark, root, 1, 2)._2
      .select("k").as[Long].collect().sorted.toSeq == Seq(3L, 4L))
  }

  test("ranges mixing change-row commits with appends, MoR commits and a rollback") {
    val root = freshRoot()
    VersionedTable.create(spark, root, (1L to 6L).map(k => (k, k.toDouble))
      .toDF("k", "x").repartition(2))                                 // v1
    VersionedTable.mergeInto(spark, root, Seq((2L, 20.0), (7L, 7.0))
      .toDF("k", "x"), Seq("k"))                                      // v2 CoW
    VersionedTable.append(spark, root, Seq((8L, 8.0)).toDF("k", "x")) // v3
    VersionedTable.mergeIntoVectored(spark, root, Seq((3L, 30.0))
      .toDF("k", "x"), Seq("k"))                                      // v4 MoR
    VersionedTable.deleteWhere(spark, root, Map.empty, col("k") === 2L) // v5
    VersionedTable.deleteWhereVectored(spark, root, Map.empty,
      col("k") === 8L)                                                // v6 MoR
    VersionedTable.rollback(spark, root, 3)                           // v7
    VersionedTable.mergeInto(spark, root, Seq((1L, 11.0)).toDF("k", "x"),
      Seq("k"))                                                       // v8 CoW
    assert((2 to 8).filter(hasChangeFile(root, _)) == Seq(2, 8))
    for (i <- 1 to 7; j <- i + 1 to 8) check(root, i, j)
  }

  test("a fault after staging publishes no change rows; orphanFiles reports the staged file") {
    val root = freshRoot()
    VersionedTable.create(spark, root, Seq((1L, 1.0), (2L, 2.0))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.raceBeforePublish = () =>
      throw new java.io.IOException("injected fault before publish")
    val e = intercept[java.io.IOException](VersionedTable.mergeInto(spark, root,
      Seq((1L, 9.0)).toDF("k", "x"), Seq("k")))
    assert(e.getMessage.contains("injected"))
    assert(VersionedTable.currentVersion(spark, root).contains(1),
      "nothing published")
    val orphans = VersionedTable.orphanFiles(spark, root).map(_._1)
    assert(orphans.exists(isPre) && orphans.exists(!isPre(_)),
      s"staged change files are orphans like the staged data: $orphans")
    // the next commit is unaffected and its change rows are its own
    VersionedTable.mergeInto(spark, root, Seq((2L, 7.0)).toDF("k", "x"),
      Seq("k"))                                                       // v2
    checkHistory(root)
    VersionedTable.expire(spark, root, keepLast = 2)
    assert(VersionedTable.orphanFiles(spark, root).isEmpty,
      "expire sweeps the failed commit's files")
    check(root, 1, 2)
  }

  test("vacuum and expire drop the change files of expired versions only") {
    val root = freshRoot()
    VersionedTable.create(spark, root, (1L to 4L).map(k => (k, k.toDouble))
      .toDF("k", "x").coalesce(1))                                    // v1
    (2 to 5).foreach(i => VersionedTable.mergeInto(spark, root,
      Seq((i.toLong - 1, i * 10.0)).toDF("k", "x"), Seq("k")))        // v2..v5
    // each version's pre-image files (its post-image files are data files,
    // kept while any retained version holds them)
    val cfs = (2 to 5).map(v => feedFiles(root, v).filter(isPre).map(rel))
    assert(cfs.forall(_.nonEmpty))
    def exist(fs: Seq[Seq[String]]) =
      fs.flatten.map(cf => new java.io.File(s"$root/$cf").exists).distinct
    assert(VersionedTable.orphanFiles(spark, root).isEmpty,
      "live change files are not orphans")
    val report = VersionedTable.vacuum(spark, root, keepLast = 2)
    val reported = report.filter(_._1 == "data").map(_._2).toSet
    assert(cfs.take(2).flatten.forall(reported.contains) &&
      !cfs.drop(2).flatten.exists(reported.contains),
      s"dry run: expired versions' change files only, got $reported")
    assert(exist(cfs) == Seq(true), "a dry run deletes nothing")
    VersionedTable.expire(spark, root, keepLast = 3)                  // keeps v3..v5
    assert(exist(cfs.take(1)) == Seq(false), "v2's change files went")
    assert(exist(cfs.drop(1)) == Seq(true),
      "kept versions keep theirs")
    (4 to 5).foreach(v => check(root, v - 1, v))
    VersionedTable.vacuum(spark, root, keepLast = 2, dryRun = false) // keeps v4, v5
    assert(exist(cfs.take(2)) == Seq(false) && exist(cfs.drop(2)) == Seq(true))
    // the newest version's feed still reads
    val (a, r) = VersionedTable.changesBetween(spark, root, 4, 5)
    assert(a.count() == 1 && r.count() == 1)
  }

  test("a shallow clone and a fast-forwarded branch keep reading change feeds") {
    val src = freshRoot()
    VersionedTable.create(spark, src, (1L to 4L).map(k => (k, k.toDouble))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.mergeInto(spark, src, Seq((2L, 20.0)).toDF("k", "x"),
      Seq("k"))                                                       // v2
    val dst = freshRoot()
    VersionedTable.cloneShallow(spark, src, dst)
    assert(!hasChangeFile(dst, 1), "a clone is not a DML commit")
    // the clone's own CoW merge rewrites a file the source owns; its
    // change rows land in the clone
    VersionedTable.mergeInto(spark, dst, Seq((3L, 30.0)).toDF("k", "x"),
      Seq("k"))
    assert(hasChangeFile(dst, 2) && feedFiles(dst, 2).forall(_.contains(dst)))
    check(dst, 1, 2)
    // the source's expire keeps what the clone references, and its own
    // newest feed
    VersionedTable.mergeInto(spark, src, Seq((4L, 40.0)).toDF("k", "x"),
      Seq("k"))                                                       // v3
    VersionedTable.expire(spark, src, keepLast = 2)
    check(src, 2, 3)
    check(dst, 1, 2)

    val main = freshRoot()
    VersionedTable.create(spark, main, (1L to 4L).map(k => (k, k.toDouble))
      .toDF("k", "x").coalesce(1))                                    // v1
    VersionedTable.createBranch(spark, main, "b")
    val bRoot = VersionedTable.branchRoot(main, "b")
    VersionedTable.mergeInto(spark, bRoot, Seq((1L, 10.0), (9L, 9.0))
      .toDF("k", "x"), Seq("k"))                                      // branch v2
    VersionedTable.deleteWhere(spark, bRoot, Map.empty, col("k") === 4L) // branch v3
    val published = VersionedTable.fastForward(spark, main, "b")
    assert(!hasChangeFile(main, published),
      "a fast-forward publishes several commits at once: no change file")
    checkHistory(bRoot)
    check(main, published - 1, published)
    VersionedTable.expire(spark, main, keepLast = 1)
    VersionedTable.expire(spark, bRoot, keepLast = 2)
    check(bRoot, 2, 3)
    assert(VersionedTable.read(spark, main).count() == 4)
  }
}
