package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.sink.VersionedTable

/** The delta-encoded manifest log: between checkpoints a commit's
  * manifest records only removed/added/metadata-touched files, so commit
  * metadata cost is O(touched), not O(table) — the property that keeps a
  * 100 TB table's append path off the metadata bottleneck. Contract under
  * test: delta JSON really omits carried entries, every version assembles
  * to the exact full snapshot (files, stats, blooms, vectors), the
  * checkpoint cadence bounds replay, expire writes a checkpoint before
  * dropping a delta's ancestors, and the CAS multi-writer and rollback
  * paths are unaffected. */
class ManifestDeltaSpec extends SparkSpec {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_md").resolve("t").toString

  private def df(ids: Long*) = {
    import spark.implicits._
    ids.toSeq.toDF("id").withColumn("payload", col("id") * 10).coalesce(1)
  }

  private def idsOf(frame: org.apache.spark.sql.DataFrame): Seq[Long] =
    frame.select("id").collect().map(_.getLong(0)).sorted.toSeq

  private def manifestText(root: String, v: Int): String =
    new String(Files.readAllBytes(manifestPath(root, v)), "UTF-8")

  private def manifestPath(root: String, v: Int) =
    Paths.get(root, "_log", f"v$v%08d.manifest.json")

  private def isDelta(root: String, v: Int): Boolean =
    LogDocs.isDelta(manifestPath(root, v))

  test("appends between checkpoints write deltas that OMIT carried files") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))     // v1: full
    VersionedTable.append(spark, root, df(3))        // v2: delta
    VersionedTable.append(spark, root, df(4))        // v3: delta
    val v1Files = VersionedTable.filesOf(spark, root, Some(1))
    val t2 = manifestText(root, 2)
    val t3 = manifestText(root, 3)
    assert(isDelta(root, 2) && isDelta(root, 3))
    // the carried v1 file never reappears in a delta — THE size property
    assert(!t2.contains(v1Files.head.split('/').last))
    assert(!t3.contains(v1Files.head.split('/').last))
    // and yet every version assembles to the exact snapshot
    assert(idsOf(VersionedTable.read(spark, root, Some(1))) == Seq(1L, 2L))
    assert(idsOf(VersionedTable.read(spark, root, Some(2))) == Seq(1L, 2L, 3L))
    assert(idsOf(VersionedTable.read(spark, root, Some(3))) == Seq(1L, 2L, 3L, 4L))
  }

  test("every CheckpointEvery-th commit is a full manifest again") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))
    (2 to VersionedTable.CheckpointEvery + 1).foreach(i =>
      VersionedTable.append(spark, root, df(i.toLong)))
    val full = manifestText(root, VersionedTable.CheckpointEvery)
    assert(!isDelta(root, VersionedTable.CheckpointEvery),
      s"v${VersionedTable.CheckpointEvery} must be a full checkpoint manifest")
    assert(full.contains("\"files\""))
    assert(isDelta(root, VersionedTable.CheckpointEvery + 1))
    // replay across the whole mixed chain
    assert(idsOf(VersionedTable.read(spark, root)) ==
      (1L to (VersionedTable.CheckpointEvery + 1).toLong))
  }

  test("stats, blooms and vectors survive delta round-trips exactly") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2, 3))         // v1 full
    VersionedTable.append(spark, root, df(10, 11))          // v2 delta
    VersionedTable.indexBloom(spark, root, Seq("id"))       // v3 delta (metadata touch)
    VersionedTable.deleteWhereVectored(spark, root,
      Map("id" -> (Some(10L), Some(10L))), col("id") === 10) // v4 delta (dv)
    // stats from v1 still prune through three delta layers
    val pruned = VersionedTable.prunedFiles(spark, root,
      Map("id" -> (Some(1L), Some(3L))))
    assert(pruned.size == 1, s"expected the v1 file only, got $pruned")
    // blooms assembled from the v3 delta prune point lookups
    assert(VersionedTable.bloomPrunedFiles(spark, root, "id", "11").size == 1)
    // the vector from the v4 delta applies
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 3L, 11L))
    // a delete rewrite expressed as a delta: removes + adds
    VersionedTable.deleteWhere(spark, root,
      Map("id" -> (Some(11L), Some(11L))), col("id") === 11) // v5 delta
    assert(manifestText(root, 5).contains("\"removes\""))
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L, 3L))
  }

  test("expire checkpoints a surviving delta before dropping its ancestors") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1))        // v1 full
    VersionedTable.append(spark, root, df(2))        // v2 delta
    VersionedTable.append(spark, root, df(3))        // v3 delta
    VersionedTable.append(spark, root, df(4))        // v4 delta
    VersionedTable.expire(spark, root, keepLast = 2) // drops v1, v2
    // v3 (a delta whose parent is gone) must resolve via its checkpoint
    assert(Files.exists(Paths.get(root, "_log", "v00000003.checkpoint.json")))
    assert(idsOf(VersionedTable.read(spark, root, Some(3))) == Seq(1L, 2L, 3L))
    assert(idsOf(VersionedTable.read(spark, root, Some(4))) == Seq(1L, 2L, 3L, 4L))
    // expired versions error as before
    intercept[IllegalArgumentException] {
      VersionedTable.read(spark, root, Some(2))
    }
  }

  test("rollback and clone fall back to full manifests and stay correct") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(1, 2))
    VersionedTable.append(spark, root, df(3))
    VersionedTable.rollback(spark, root, to = 1)     // v3
    assert(idsOf(VersionedTable.read(spark, root)) == Seq(1L, 2L))
    val dst = freshRoot()
    VersionedTable.cloneShallow(spark, root, dst, version = Some(2))
    assert(idsOf(VersionedTable.read(spark, dst)) == Seq(1L, 2L, 3L))
  }

  test("a delta manifest's size tracks the commit, not the table") {
    import spark.implicits._
    val root = freshRoot()
    // 30 data files with per-file stats in the full v1 manifest
    VersionedTable.create(spark, root,
      (1L to 300L).toDF("id").withColumn("payload", col("id") * 10)
        .repartition(30))
    VersionedTable.append(spark, root, df(1000))   // v2: one-file delta
    val full = Files.size(Paths.get(root, "_log", "v00000001.manifest.json"))
    val delta = Files.size(Paths.get(root, "_log", "v00000002.manifest.json"))
    assert(delta * 4 < full,
      s"delta manifest ($delta B) should be a small fraction of the full " +
        s"snapshot ($full B) — it must not re-serialize carried files")
  }

  test("concurrent appendCas writers still lose no rows under the delta log") {
    val root = freshRoot()
    VersionedTable.create(spark, root, df(0))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        (0 until 3).foreach(j =>
          VersionedTable.appendCas(spark, root, df((10 * i + j).toLong)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val expected = (0L +: (1 to 4).flatMap(i =>
      (0 until 3).map(j => (10 * i + j).toLong))).sorted
    assert(idsOf(VersionedTable.read(spark, root)) == expected)
    assert(VersionedTable.currentVersion(spark, root).contains(13))
  }
}
