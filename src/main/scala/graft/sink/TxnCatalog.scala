package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-table transactions over [[VersionedTable]] roots — the engine's
  * analog of the reference's staged commits inside one Postgres session
  * (load_to_postgis.py:370-384: aois → ndvi_full → ndvi_clipped →
  * ndvi_viz become visible together or not at all).
  *
  * Design: the COMMIT POINT moves up one level. Individual tables keep
  * their own manifest log and commit protocol unchanged (concurrent
  * single-table writers still CAS-rebase exactly as before); on top, a
  * transaction catalog holds a versioned sequence of txn manifests, each
  * recording the full (table → (root, pinned version)) map. Publishing a
  * txn is ONE atomic file claim — the same hard-link-EEXIST CAS the
  * table manifests use — so a reader resolving through the catalog
  * observes either the whole transaction or none of it:
  *
  *  - a writer first commits each table normally (new table versions
  *    exist but nothing in the catalog references them), then publishes
  *    one txn manifest pinning the batch of new versions;
  *  - a crash ANYWHERE before the catalog claim leaves the catalog — and
  *    therefore every catalog reader — on the previous consistent
  *    snapshot of ALL tables; the orphaned table versions are plain
  *    unreferenced history (swept by the tables' own expire);
  *  - snapshot reads pin table versions from one txn manifest, so even
  *    writers racing ahead on individual tables cannot tear a view;
  *  - time travel falls out: every txn manifest is a readable consistent
  *    cross-table snapshot.
  *
  * Catalog concurrency: txn numbers are claimed by CAS; a loser whose
  * update set is DISJOINT from the winner's rebases and retries
  * (independent pipelines sharing a catalog), while overlapping updates
  * are a real write-write conflict and are refused — the caller re-runs
  * its transaction from current state, mirroring the table-level
  * overwrite/stale-base contract.
  *
  * At 100 TB the catalog costs what a table manifest costs: one small
  * JSON file per txn, no data movement — the atomicity boundary is
  * metadata-only, exactly like catalog-level multi-table commits in
  * modern lakehouse designs.
  */
object TxnCatalog {

  /** One consistent cross-table state: every table pinned to the exact
    * version the transaction published. */
  final case class Snapshot(txn: Int, tables: Map[String, (String, Int)])

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir(catRoot: String) = new Path(catRoot, "txn")
  private def txnPath(catRoot: String, n: Int) =
    new Path(logDir(catRoot), f"t$n%09d.json")

  /** Committed txn numbers, ascending; empty for a fresh catalog. */
  def txns(spark: SparkSession, catRoot: String): Seq[Int] = {
    val dir = logDir(catRoot)
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).map(_.getPath.getName)
      .collect { case s if s.startsWith("t") && s.endsWith(".json") =>
        s.stripPrefix("t").stripSuffix(".json").toInt }
      .sorted.toSeq
  }

  def currentTxn(spark: SparkSession, catRoot: String): Option[Int] =
    txns(spark, catRoot).lastOption

  /** The consistent snapshot a txn published ([[currentTxn]] when `txn`
    * is None). Every read through this map is pinned — immune to any
    * table commit that happened after the transaction. */
  def snapshot(spark: SparkSession, catRoot: String,
               txn: Option[Int] = None): Snapshot = {
    val n = txn.orElse(currentTxn(spark, catRoot))
      .getOrElse(throw new IllegalArgumentException(s"no catalog at $catRoot"))
    val p = txnPath(catRoot, n)
    val f = fs(spark, p)
    require(f.exists(p), s"no txn $n at $catRoot (have ${txns(spark, catRoot)})")
    val in = f.open(p)
    val text = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8") finally in.close()
    Snapshot(n, ManifestJson.txnTables(p.toString, text))
  }

  /** One table of a snapshot, as the pinned-version frame. */
  def read(spark: SparkSession, catRoot: String, table: String,
           txn: Option[Int] = None): DataFrame = {
    val snap = snapshot(spark, catRoot, txn)
    val (root, v) = snap.tables.getOrElse(table,
      throw new IllegalArgumentException(
        s"table $table not in txn ${snap.txn} (have ${snap.tables.keys.toSeq.sorted})"))
    // through the RELATION face, not the raw snapshot read: the pinned
    // version is identical, but catalog readers then inherit pushed-
    // filter manifest pruning, truthful sizeInBytes for join planning,
    // and the metadata-only aggregate path (a catalog-consistent
    // `count(*)` is one manifest read)
    boundRelation(spark, root, v)
  }

  private def boundRelation(spark: SparkSession, root: String, v: Int): DataFrame =
    spark.read.format("graft-versioned")
      .option("versionAsOf", v.toString).load(root)

  /** Publish `updates` as the next transaction: the new txn manifest
    * carries the previous snapshot's pins for every unmentioned table
    * plus the updated pins — ONE atomic claim makes them all visible
    * together. `expectedTxn` (compare-and-set form) refuses to publish
    * over a catalog state the caller never saw; it is checked ONCE,
    * against the state observed at entry — a disjoint winner landing
    * after that check rebases per the normal contract (the caller's
    * precondition was verified before any claim was attempted). Losing
    * the claim to a DISJOINT concurrent txn rebases and retries
    * internally; losing to an overlapping one throws
    * `ConcurrentTxnException`.
    *
    * `onBeforeClaim` is a deterministic-interleaving seam for specs
    * (called with the txn number about to be claimed, after the
    * manifest is staged and immediately before the claim): production
    * callers leave the default no-op. */
  def commit(spark: SparkSession, catRoot: String,
             updates: Map[String, (String, Int)],
             expectedTxn: Option[Int] = None, maxRetries: Int = 16,
             onBeforeClaim: Int => Unit = _ => ()): Int = {
    require(updates.nonEmpty, "empty transaction")
    // GC back-references FIRST — before any claim attempt: a published
    // txn must never exist without its .txnpin markers, or a concurrent
    // table-level expire in the claim→register window could delete
    // manifest versions the live txn pins and break every catalog
    // reader. Registration is idempotent and a marker for a txn that
    // never publishes (crash, lost claim, conflict) pins nothing extra.
    updates.values.foreach { case (root, _) =>
      VersionedTable.registerTxnPin(spark, root, catRoot)
    }
    var attempt = 0
    while (true) {
      val cur = currentTxn(spark, catRoot)
      // checked on the FIRST iteration only: once the precondition held
      // at entry, a disjoint loser rebases (per the scaladoc contract)
      // rather than spuriously failing its own CAS check against the
      // winner it is rebasing over; overlap detection below still
      // refuses any real write-write conflict.
      if (attempt == 0) expectedTxn.foreach { e =>
        if (cur != Some(e) && !(e == 0 && cur.isEmpty))
          throw new ConcurrentTxnException(
            s"catalog advanced to $cur; expected txn $e — re-run the transaction")
      }
      val prev = cur.map(n => snapshot(spark, catRoot, Some(n)).tables)
        .getOrElse(Map.empty)
      val next = cur.getOrElse(0) + 1
      val json = ManifestJson.txn(next, prev ++ updates)
      val target = txnPath(catRoot, next)
      val f = fs(spark, target)
      f.mkdirs(logDir(catRoot))
      val tmp = new Path(logDir(catRoot),
        s".t$next-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(json) finally out.close()
      onBeforeClaim(next)
      if (VersionedTable.atomicClaim(f, tmp, target)) return next
      // lost the claim: disjoint winner → rebase (its pins are carried
      // by re-reading prev next loop); overlapping winner → conflict
      val winner = snapshot(spark, catRoot, Some(next)).tables
      val overlap = winner.keySet.intersect(updates.keySet)
        .filter(t => winner(t) != prev.get(t).orNull)
      if (overlap.nonEmpty)
        throw new ConcurrentTxnException(
          s"txn $next already committed touching ${overlap.toSeq.sorted} — re-run the transaction")
      attempt += 1
      if (attempt > maxRetries)
        throw new ConcurrentTxnException(s"gave up after $maxRetries rebases at $catRoot")
    }
    -1 // unreachable
  }

  /** Write-then-publish convenience for the common pipeline shape: stage
    * every frame as a normal table commit (create / overwrite per table),
    * then publish ONE txn pinning the batch. Returns the txn number. A
    * crash mid-staging leaves the catalog — and every snapshot reader —
    * on the previous consistent state of ALL tables. */
  def commitTables(spark: SparkSession, catRoot: String,
                   frames: Seq[(String, DataFrame)],
                   tableRootOf: String => String): Int = {
    val pinned = frames.map { case (name, df) =>
      val root = tableRootOf(name)
      val v =
        if (VersionedTable.currentVersion(spark, root).isEmpty)
          VersionedTable.create(spark, root, df)
        else VersionedTable.overwrite(spark, root, df)
      name -> (root, v)
    }
    commit(spark, catRoot, pinned.toMap)
  }

  /** SQL face of a snapshot: register every table of `txn` (default
    * current) as a temp view `prefix_<table>` pinned to its exact
    * version — `spark.sql` then reads the CONSISTENT cross-table state,
    * the `AT TXN n` time-travel UX without a custom parser. Returns the
    * registered view names. */
  def registerViews(spark: SparkSession, catRoot: String,
                    prefix: String = "txn",
                    txn: Option[Int] = None): Seq[String] = {
    val snap = snapshot(spark, catRoot, txn)
    snap.tables.toSeq.sortBy(_._1).map { case (name, (root, v)) =>
      val view = s"${prefix}_$name"
      boundRelation(spark, root, v).createOrReplaceTempView(view)
      view
    }
  }

  /** Expire all but the newest `keepLast` transactions. Old txn
    * manifests are deleted — and with them their pins, so the table
    * versions they protected age out through the TABLES' own expire on
    * its next run (GC ordering: catalog first, then tables; never the
    * reverse, which [[VersionedTable.expire]]'s pin check enforces). */
  def expire(spark: SparkSession, catRoot: String, keepLast: Int): Int = {
    require(keepLast >= 1, "must keep at least the newest txn")
    val ts = txns(spark, catRoot)
    val drop = ts.dropRight(keepLast)
    val f = fs(spark, logDir(catRoot))
    drop.foreach(t => f.delete(txnPath(catRoot, t), false))
    drop.size
  }

  final class ConcurrentTxnException(msg: String) extends RuntimeException(msg)
}
