package graft.sink

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-based versioned table format: snapshot-isolated reads, time
  * travel, rollback, compaction-as-commit, and snapshot expiry over plain
  * parquet — the single-writer core of what table formats (Iceberg/Delta,
  * public designs) provide, built here so the sink layer has a commit
  * protocol that scales past directory renames.
  *
  * Layout:
  * {{{
  *   root/
  *     _log/v00000001.manifest.json   // immutable: file list of version 1
  *     _log/v00000002.manifest.json
  *     data/c2-part-....parquet       // immutable data files (never
  *                                    // rewritten; GC'd only by expire)
  * }}}
  *
  * Commit = write data files under a version-unique prefix, then RENAME
  * the manifest into `_log/` — one atomic filesystem operation publishes
  * the version; a crash before it leaves only unreferenced orphan files
  * (removed by [[expire]]). The newest manifest in `_log/` IS the table
  * state: there is no mutable pointer file to corrupt.
  *
  * Why this matters at 100 TB: swapping a table directory by
  * rename-aside leaves a gap in which readers see no table; here a
  * compaction or overwrite is just a new manifest — concurrent readers
  * that resolved version N keep reading N's immutable files, and time
  * travel/rollback fall out for free.
  *
  * Concurrency: the manifest name itself is the CAS — exactly one writer
  * can claim a version number (hard link on local FS, fail-if-exists
  * rename on HDFS), so a racing commit is never LOST. On top sits a
  * complete conflict taxonomy (like Delta/Iceberg's rules, public
  * designs), one discipline per writer class:
  *  - APPENDS (incl. txn appends): empty file footprint — stage once,
  *    rebase across anything; a racing same-txn replay short-circuits
  *    to the idempotence ledger.
  *  - READ-MODIFY-WRITE (CoW + vectored DMLs, merges, compact, zorder):
  *    rebase iff every interleaved commit's removed/re-vectored set is
  *    disjoint from this commit's footprint; genuine overlap, a schema
  *    or layout change, or an unprovable (unreadable) interleaving
  *    refuses with ConcurrentModificationException. Semantics are
  *    snapshot-at-read (WriteSerializable): raced appends' rows are not
  *    subject to the DML's predicate.
  *  - INDEX BUILDS (sums/blooms/HLLs/reindex): always rebase; an entry
  *    for a file a racer removed or re-vectored is stale and silently
  *    DROPS (an index is a cache — missing is sound, wrong never is).
  *  - SCHEMA DDLs + ROLLBACK: metadata-only transforms re-derived from
  *    whatever head they land on — a lost race re-applies them, with
  *    their own validation re-run (evolve without quiescing ingest).
  *  - OVERWRITE stays refuse-only by design: its content derives from a
  *    snapshot, and silently replacing a commit it never saw is the
  *    lost update everything above exists to prevent.
  */
object VersionedTable {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** One Hadoop-configuration broadcast per (SparkContext, conf
    * fingerprint), shared by every DV-lazy read and DML pass —
    * re-broadcasting an identical serialized Configuration per read
    * would leak one broadcast per snapshot read until the
    * ContextCleaner catches up. Keyed on a content fingerprint (not
    * just the context): credentials or filesystem settings added AFTER
    * the first DV read — a second table on a newly configured store —
    * must reach executor-side sidecar loads, exactly as the live
    * driver-side conf always did. A stale conf's broadcast is freed so
    * the reconfigure doesn't strand executor memory. */
  @volatile private var confBcCache:
      (org.apache.spark.SparkContext, Long,
       org.apache.spark.broadcast.Broadcast[SerializableHadoopConf]) = null
  private def confFingerprint(c: org.apache.hadoop.conf.Configuration): Long = {
    // order-independent: sum of per-entry hashes (iteration order of a
    // Hadoop Configuration is not stable across instances)
    var h = 0L
    val it = c.iterator()
    while (it.hasNext) {
      val e = it.next()
      h += e.getKey.hashCode.toLong * 1000003L + e.getValue.hashCode.toLong
    }
    h
  }
  private def hadoopConfBc(spark: SparkSession)
      : org.apache.spark.broadcast.Broadcast[SerializableHadoopConf] =
    synchronized {
      val sc = spark.sparkContext
      val fp = confFingerprint(sc.hadoopConfiguration)
      if (confBcCache == null || (confBcCache._1 ne sc) || confBcCache._2 != fp) {
        if (confBcCache != null && (confBcCache._1 eq sc))
          scala.util.Try(confBcCache._3.unpersist(blocking = false))
        confBcCache =
          (sc, fp, sc.broadcast(new SerializableHadoopConf(sc.hadoopConfiguration)))
      }
      confBcCache._3
    }

  private def logDir(root: String) = new Path(root, "_log")
  private def dataDir(root: String) = new Path(root, "data")
  private def dvDir(root: String) = new Path(root, "dv")

  // ---- deletion-vector sidecar codec --------------------------------------
  // "GDV1" magic + LEB128 count + LEB128 deltas of the sorted positions:
  // position sets are local-dense (a delete predicate usually hits runs of
  // a clustered file), so deltas fit 1-2 bytes each.

  private[sink] def encodeDvPositions(sorted: Array[Long]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(8 + sorted.length * 2)
    out.write(Array[Byte]('G', 'D', 'V', '1'))
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    varint(sorted.length.toLong)
    var prev = 0L
    var i = 0
    while (i < sorted.length) { varint(sorted(i) - prev); prev = sorted(i); i += 1 }
    out.toByteArray
  }

  private[graft] def decodeDvPositions(bytes: Array[Byte]): Array[Long] = {
    require(bytes.length >= 4 && bytes(0) == 'G' && bytes(1) == 'D' &&
      bytes(2) == 'V' && bytes(3) == '1', "not a GDV1 deletion vector")
    var i = 4
    def varint(): Long = {
      var v = 0L; var shift = 0
      while ({ val b = bytes(i); i += 1; v |= (b & 0x7fL) << shift
               shift += 7; (b & 0x80) != 0 }) ()
      v
    }
    val n = varint().toInt
    val out = new Array[Long](n)
    var prev = 0L; var j = 0
    while (j < n) { prev += varint(); out(j) = prev; j += 1 }
    out
  }

  /** Java-serializable carrier for the Hadoop configuration, so
    * executor-side tasks (the distributed DV sidecar writes) resolve the
    * table's FileSystem exactly as the driver would. Hadoop's
    * Configuration is Writable but not Serializable; this is the standard
    * wrapper shape (Spark keeps its own equivalent private). */
  private[graft] class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit =
      value.write(out)
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  private def manifestPath(root: String, v: Int) =
    new Path(logDir(root), f"v$v%08d.manifest.json")
  private def checkpointPath(root: String, v: Int) =
    new Path(logDir(root), f"v$v%08d.checkpoint.json")

  private val ManifestRe = """v(\d{8})\.manifest\.json""".r

  /** Every Nth commit writes a FULL manifest; the ones in between write
    * DELTAS (removed files + added/metadata-touched files with their
    * stats). At 100 TB a full snapshot manifest is O(table files) JSON
    * per commit — the metadata write itself becomes the append
    * bottleneck; the delta log makes commit cost O(touched files) and
    * bounds read-side replay to this many segments (the Delta-log
    * checkpoint design, public). [[expire]] writes a `.checkpoint.json`
    * for any surviving version whose parent it drops, so chains never
    * dangle. */
  val CheckpointEvery = 8

  /** All committed versions, ascending (empty for a non-table path). */
  def versions(spark: SparkSession, root: String): Seq[Int] = {
    val dir = logDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toInt
    }.toSeq.sorted
  }

  /** Newest committed version, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Int] =
    versions(spark, root).lastOption

  /** Commit history as (version, commitTimeMillis), ascending. The
    * timestamp is the manifest file's modification time — the rename
    * that PUBLISHED the version stamped it (the Delta recipe: commit
    * time from the log file, no extra metadata to keep consistent). */
  def history(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    val dir = logDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).flatMap { st =>
      st.getPath.getName match {
        case ManifestRe(n) => Some(n.toInt -> st.getModificationTime)
        case _ => None
      }
    }.toSeq.sortBy(_._1)
  }

  /** Every version's commit time: the IN-COMMIT stamp where recorded
    * (manifests written since the field exists — immune to file copies
    * mangling mtimes, monotonic past the parent by construction), the
    * manifest file's mtime for older history — ADJUSTED to version
    * order by a running max (Delta's commit-timestamp adjustment), so
    * mixed-provenance stamps always yield a monotone sequence and every
    * consumer resolves a total order. */
  def commitTimestamps(spark: SparkSession, root: String): Seq[(Int, Long)] = {
    // the stamp is self-contained in EVERY manifest (full and delta
    // alike), so this is one decode per version — never a delta-chain
    // replay
    val f = fs(spark, new Path(root))
    val raw = history(spark, root).map { case (v, mtime) =>
      val ts = scala.util.Try(
        readDoc(f, manifestPath(root, v), v)._1.ts).getOrElse(0L)
      v -> (if (ts > 0L) ts else mtime)
    }
    // MONOTONIZE over version order (Delta's commit-timestamp
    // adjustment): mixed-provenance stamps — an mtime-fallback manifest
    // restored by cp -r carries the COPY time, possibly newer than a
    // later version's in-commit stamp — would otherwise make the
    // sequence non-monotonic and takeWhile-based resolution wrong.
    // Version order is the commit order; a running max restores the
    // total order without touching any stored stamp.
    raw.scanLeft((0, 0L)) { case ((_, hi), (v, ts)) =>
      (v, math.max(hi, ts))
    }.drop(1)
  }

  /** The ONE wall-clock-string parse every timestampAsOf face shares
    * (reader option, RESTORE statement): epoch millis, an ISO instant
    * with zone, or a zone-less local datetime resolved in the SESSION
    * timezone (`spark.sql.session.timeZone`) — Delta's convention, so a
    * time-travel query ported from Delta resolves the same version.
    * Divergent parses here would let the same string resolve DIFFERENT
    * versions on different faces — silently wrong data; epoch millis
    * and zone-carrying ISO strings are the unambiguous spellings. */
  def parseTsMillis(spark: SparkSession, t: String): Long =
    scala.util.Try(t.toLong).getOrElse {
      scala.util.Try(java.time.Instant.parse(t).toEpochMilli).getOrElse {
        val zone = java.time.ZoneId.of(
          spark.conf.get("spark.sql.session.timeZone"))
        java.time.LocalDateTime.parse(t.trim.replace(' ', 'T'))
          .atZone(zone).toInstant.toEpochMilli
      }
    }

  /** The streaming start a wall-clock bound resolves to: the FIRST
    * version committed at or after `tsMillis` (Delta's
    * `startingTimestamp` contract — "all changes committed at or after
    * the timestamp"), or None when every live commit predates it (the
    * caller then starts after the current head: future commits only).
    * Same in-commit stamps and running-max monotonization as
    * [[versionAsOf]], so the two bounds can never interleave. */
  def versionSince(spark: SparkSession, root: String,
                   tsMillis: Long): Option[Int] =
    commitTimestamps(spark, root).find(_._2 >= tsMillis).map(_._1)

  /** Time travel by wall clock: the newest version committed at or
    * before `tsMillis` (the snapshot a reader at that instant saw),
    * resolved against [[commitTimestamps]]. */
  def versionAsOf(spark: SparkSession, root: String, tsMillis: Long): Int =
    commitTimestamps(spark, root).takeWhile(_._2 <= tsMillis).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no version committed at or before $tsMillis at $root"))._1

  /** Per-file, per-column [lo, hi] recorded in the manifest at commit.
    * `typ` fixes the comparison domain ("long" | "double" | "string");
    * lo/hi are canonical string renderings of that domain. `nulls` is the
    * column's null count in the file when the footer recorded one (−1 =
    * unknown; manifests written before the field parse as unknown) — with
    * the per-file row counts this answers `count(col)` from metadata.
    *
    * `unit` records the parquet LOGICAL annotation behind a "long" stat
    * when the physical long alone is ambiguous — "ts-micros"/"ts-millis"/
    * "ts-nanos" (+"-ntz" when not UTC-adjusted) and "date" — which is
    * what lets [[graft.plans.MetaAggregates]] answer `min(ts)/max(ts)`
    * from the manifest (an unlabeled long bound can't prove its time
    * unit; manifests written before the field parse as "" and refuse).
    *
    * `live` marks a stat computed over the file's DV-SURVIVING rows (by
    * the vectored DMLs' refresh pass) rather than the raw footer: bounds
    * and null count are exact for the manifest's current deletion vector,
    * so metadata-only count/min/max stay answerable under merge-on-read
    * deletes. Invariant: every commit that grows a file's vector
    * re-derives that file's live stats in the same pass.
    *
    * `sum` is the file's EXACT column sum (integral columns only;
    * attached by [[indexSums]] and kept fresh by the vectored DMLs).
    * Exact-or-absent: builds use try_sum, so a file whose total
    * overflows Long stores NO sum rather than a wrapped one — which is
    * what lets a 100 TB `SELECT day, sum(x) GROUP BY day` collapse to
    * manifest arithmetic without ever serving a silently wrapped total
    * under ANSI. Parquet footers record no sums, so unlike bounds this
    * field needs one (incremental) scan to exist. */
  final case class ColStat(col: String, typ: String, lo: String, hi: String,
                           nulls: Long = -1L, unit: String = "",
                           live: Boolean = false, sum: Option[Long] = None)

  /** Per-file bloom filter over one column's non-null values (stringified
    * in Spark cast-to-string form): `mBits` bits / `k` probes, bit array
    * base64-encoded in the manifest. Answers point lookups where [lo, hi]
    * ranges can't — high-cardinality keys scattered across files. */
  final case class FileBloom(col: String, mBits: Int, k: Int, bits: String) {
    def mayContain(value: String): Boolean = {
      val raw = java.util.Base64.getDecoder.decode(bits)
      bloomPositions(value, mBits, k).forall(p =>
        (raw(p >> 3) & (1 << (p & 7))) != 0)
    }
  }

  /** The k bit positions of `value` — double hashing over the portable
    * charFold/hllMix chain, so the Column-side build ([[indexBloom]]) and
    * this driver-side probe cannot drift: both are the SAME integer
    * arithmetic on the same constants. */
  private[sink] def bloomPositions(value: String, mBits: Int, k: Int): Seq[Int] = {
    import graft.functions.Portable.FoldMod
    import graft.ext.Sketches.{HllA, HllB, HllP}
    // The fold MUST be the exact kernel the Column-side build runs
    // (CharFoldExpr.fold: Unicode CODE POINTS, not UTF-16 code units) —
    // a supplementary-plane value folded differently here would probe
    // different bit positions than the build set, and mayContain would
    // wrongly prune files that DO contain the value.
    def fold(s: String): Long = graft.functions.CharFoldExpr.fold(s)
    def mix(h: Long): Long = ((h % HllP) * HllA + HllB) % HllP
    val h1 = mix(fold(value) * FoldMod + fold(value + "#"))
    val h2 = mix(h1)
    (0 until k).map(i => ((h1 + i.toLong * h2) % mBits).toInt)
  }

  /** Per-file HLL register set over one column (the [[graft.ext.Sketches]]
    * construction: `m` buckets, one max-rho byte each, base64 in the
    * manifest). Registers answer distinct-count questions from METADATA:
    * the union of per-file registers (pointwise max — associative, so
    * file boundaries drop out) equals the whole table's register set,
    * and any file whose registers are dominated by the union of the
    * others can be skipped without changing the estimate. */
  final case class FileHll(col: String, m: Int, regs: String) {
    def registers: Array[Byte] = java.util.Base64.getDecoder.decode(regs)
  }

  /** A deletion vector: the sorted row positions of ONE data file that a
    * merge-on-read delete has removed, stored as a sidecar under `dv/`
    * (delta-varint coded — immutable per version like everything else the
    * manifest references, so time travel across a vectored delete works
    * by construction). `card` = number of deleted positions, kept in the
    * manifest so planners can reason about live-row counts without
    * opening the sidecar. */
  final case class FileDv(dvFile: String, card: Long)

  /** Column-mapping record: one live field's stable identity. `id` is
    * assigned once and never reused (dropped-then-re-added columns get a
    * FRESH id, so old data never resurrects under the new name); `phys`
    * is the name the field is written under in parquet — frozen at field
    * creation, which is what makes RENAME a metadata-only commit (every
    * data file ever written carries the physical name; only the
    * manifest's logical name moves). `prior` is the field's rename
    * lineage — every logical name it held before the current one — so a
    * consumer that pinned a HISTORICAL name (a stream started between
    * two renames) can still find the field; without it, a double-rename
    * makes the intermediate name resolve to nothing and null-fill. */
  final case class FieldMap(id: Int, name: String, phys: String,
                            prior: Seq[String] = Seq.empty)

  /** One table CHECK constraint: a named boolean SQL expression every
    * row must satisfy (SQL semantics: NULL passes, only FALSE
    * violates). Stored in the manifest, so constraints time-travel with
    * the snapshot and roll back with [[rollback]]. */
  final case class TableCheck(name: String, expr: String)

  private[sink] case class Manifest(version: Int, schemaDdl: String, files: Seq[String],
                              txn: Option[Long] = None,
                              stats: Map[String, Seq[ColStat]] = Map.empty,
                              blooms: Map[String, Seq[FileBloom]] = Map.empty,
                              partitionCols: Seq[String] = Seq.empty,
                              hlls: Map[String, Seq[FileHll]] = Map.empty,
                              dvs: Map[String, FileDv] = Map.empty,
                              rows: Map[String, Long] = Map.empty,
                              op: String = "",
                              colMap: Seq[FieldMap] = Seq.empty,
                              maxCid: Int = 0,
                              checks: Seq[TableCheck] = Seq.empty,
                              defaults: Map[String, String] = Map.empty,
                              noCol: Map[String, Seq[String]] = Map.empty,
                              gens: Map[String, String] = Map.empty,
                              ids: Map[String, Long] = Map.empty,
                              props: Map[String, String] = Map.empty,
                              // IN-COMMIT timestamp (epoch millis), stamped
                              // by writeManifest — 0 in manifests predating
                              // the field (readers fall back to file mtime)
                              ts: Long = 0L,
                              // SOURCE files THIS commit ingested (COPY
                              // INTO's idempotence ledger) — per-commit
                              // like op/txn, never cumulative
                              loads: Seq[String] = Seq.empty,
                              // THIS commit's change-row files (a
                              // copy-on-write merge's pre-images and the
                              // data files of its post-images,
                              // [[stageFiles]]) — per-commit like
                              // op/txn/loads, never carried to a later
                              // version
                              changes: Seq[String] = Seq.empty) {
    /** Every read-time fill expression: write DEFAULTS (constant
      * literals) plus GENERATED columns (deterministic expressions over
      * the row's other columns) — both substitute into files recorded
      * as physically lacking the column. */
    def fillExprs: Map[String, String] = defaults ++ gens
    /** Every data-directory file this version keeps alive: its data
      * files and its change files. Retention treats a change file like
      * a DV sidecar — live exactly while a manifest names it. */
    def dataRefs: Seq[String] = files ++ changes
    /** Whether a READ of this snapshot must resolve hive partition
      * directories. `partitionCols` alone is not enough once the layout
      * EVOLVES ([[setPartitionLayout]]): a now-unpartitioned table may
      * still reference files written under the old k=v layout, whose
      * partition-column values live only in their directory names. File
      * names are commit-generated (no '=' ever), so a k=v segment in
      * any referenced path is the exact signal. */
    def partitionedRead: Boolean =
      partitionCols.nonEmpty || files.exists(_.contains("="))

    /** logical → physical, only where they differ (empty = identity:
      * tables that never renamed/dropped pay nothing anywhere). */
    def physMap: Map[String, String] =
      colMap.collect { case f if f.name != f.phys => f.name -> f.phys }.toMap

    /** Any HISTORICAL logical name (a field's rename lineage, plus its
      * frozen physical name) → the field's CURRENT logical name, for
      * names no longer in the live schema. A name held by more than one
      * field over history maps to None — resolution must refuse, never
      * guess. Lets a consumer that pinned its schema between two renames
      * (a stream) find the field it meant instead of null-filling. */
    def lineage: Map[String, Option[String]] = {
      val live = colMap.map(_.name).toSet
      colMap.flatMap(f =>
          (f.prior :+ f.phys).distinct.filterNot(live).map(_ -> f.name))
        .groupBy(_._1).view.mapValues { vs =>
          val cur = vs.map(_._2).distinct
          if (cur.size == 1) Some(cur.head) else None
        }.toMap
    }
  }

  // Manifest JSON is [[ManifestJson]]: version, per-commit fields, table
  // metadata, schema, the file list and flat per-file metadata arrays.

  private def writeManifest(spark: SparkSession, root: String, m0: Manifest,
                            parent: Option[Manifest] = None): Unit = {
    // IN-COMMIT timestamp (Delta's in-commit-timestamps recipe): the
    // commit time travels IN the manifest, immune to file copies /
    // backup-restore mangling mtimes. Stamped here — the ONE place
    // every commit publish funnels through — UNCONDITIONALLY: the
    // metadata-only transforms build their manifest via m.copy, which
    // would otherwise carry the PARENT's stamp and make a day-30
    // property change time-travel-visible on day 1. Monotonic past the
    // parent so timestampAsOf resolves a total order under clock skew.
    // (Checkpoint assembly re-serializes via writeCheckpoint, not here,
    // so an existing version's stamp is never rewritten.)
    val m = m0.copy(ts = math.max(System.currentTimeMillis(),
      parent.map(_.ts + 1L).getOrElse(0L)))
    // every CheckpointEvery-th version is a full snapshot manifest, the
    // rest are deltas — commit metadata cost O(touched files), replay
    // bounded by the checkpoint spacing
    val json = parent match {
      case Some(p) if m.version % CheckpointEvery != 0 =>
        ManifestJson.delta(m, p).getOrElse(ManifestJson.full(m))
      case _ => ManifestJson.full(m)
    }
    val target = manifestPath(root, m.version)
    val f = fs(spark, target)
    f.mkdirs(logDir(root))
    // writer-unique tmp: two writers racing the same version must not
    // share (and overwrite) one staging file — only the CLAIM may meet
    val tmp = new Path(logDir(root),
      s".v${m.version}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(json) finally out.close()
    // The atomic publish: claim the manifest name with a primitive that
    // fails-if-exists ATOMICALLY. On local filesystems Hadoop rename
    // bottoms out in POSIX rename(2), which silently REPLACES an existing
    // destination — an exists()+rename() pair leaves a window two racing
    // writers both pass, and the loser clobbers the winner's manifest
    // (a lost update with both writers reporting success). link(2)
    // returns EEXIST atomically, so a hard link is the local-FS CAS; on
    // HDFS, rename itself has fail-if-exists semantics and stays the
    // claim. This is the commit-protocol core multi-writer safety rests
    // on — everything else (nonced staging, rebase-on-conflict) assumes
    // exactly one writer can own a version number.
    val claimed = atomicClaim(f, tmp, target)
    if (!claimed)
      throw new java.io.IOException(s"version ${m.version} already committed at $root")
    // the claim won: this in-memory snapshot IS the committed content —
    // seed the assembly cache so the writer's own next read replays nothing
    val st = f.getFileStatus(target)
    cachePut(cacheKey(f, target, st), m)
  }

  // ---- assembled-snapshot cache -------------------------------------------
  // Manifest content is immutable per (path, length, mtime) — the key a
  // re-created table at a reused path cannot collide with — so assembled
  // snapshots (a delta chain replayed to a full Manifest) cache safely.
  // Bounded LRU; existence is still checked on every read, so an expired
  // version errors exactly as before.
  private val manifestCache =
    new java.util.LinkedHashMap[String, Manifest](128, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Manifest]): Boolean = size > 256
    }
  private def cacheKey(f: FileSystem, p: Path,
                       st: org.apache.hadoop.fs.FileStatus): String =
    s"${f.makeQualified(p)}#${st.getLen}#${st.getModificationTime}"
  /** TEST seam: drop the manifest cache — simulates a COLD reader (a
    * different cluster/JVM) parsing committed manifest text from
    * scratch, which is how round-trip parse bugs actually surface. */
  private[graft] def dropManifestCache(): Unit =
    manifestCache.synchronized(manifestCache.clear())

  private def cacheGet(key: String): Option[Manifest] =
    manifestCache.synchronized(Option(manifestCache.get(key)))
  private def cachePut(key: String, m: Manifest): Unit =
    manifestCache.synchronized(manifestCache.put(key, m))

  /** Filesystems whose `rename` is an atomic fail-if-exists metadata op
    * (HDFS family) — safe as the manifest claim without a hard link. */
  private val AtomicRenameSchemes = Set("hdfs", "viewfs", "webhdfs", "swebhdfs")

  /** Register a transaction-catalog back-reference in `tableRoot`'s log:
    * [[expire]] will keep every version a live txn of `catRoot` pins.
    * Idempotent (marker name is a digest of the catalog path). */
  private[sink] def registerTxnPin(spark: SparkSession, tableRoot: String,
                                   catRoot: String): Unit = {
    val f = fs(spark, new Path(tableRoot))
    val id = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(catRoot))
    val mk = new Path(logDir(tableRoot), s".txnpin-$id")
    if (!f.exists(mk)) {
      f.mkdirs(logDir(tableRoot))
      val out = f.create(mk, true)
      try out.write(catRoot.getBytes("UTF-8")) finally out.close()
    }
  }

  /** External claim arbiter for stores whose rename cannot
    * fail-if-exists (object stores): `claim` must award the right to
    * publish `target` to EXACTLY ONE caller across every racing writer,
    * machine-wide or fleet-wide — the public designs are a lock table
    * with conditional put (one item per target name, DynamoDB-style)
    * or the store's own conditional PUT (S3 `If-None-Match: *`), both
    * of which refuse the second writer of a name. The format then
    * renames `tmp` into place only in the winner, so the store's
    * replace-on-rename can no longer lose an update. A provider must
    * answer `true` at most once per target name, ever — target names
    * are never reused (version numbers only grow), so no unlock/expiry
    * protocol is needed for correctness. */
  trait ClaimProvider {
    def claim(f: FileSystem, target: Path): Boolean
  }

  @volatile private var claimProviders: Map[String, ClaimProvider] = Map.empty

  /** Register `provider` as the claim arbiter for `scheme` (e.g. "s3a").
    * Without one, commits on non-atomic-rename schemes are REFUSED. */
  def registerClaimProvider(scheme: String, provider: ClaimProvider): Unit =
    synchronized { claimProviders = claimProviders + (scheme -> provider) }

  def unregisterClaimProvider(scheme: String): Unit =
    synchronized { claimProviders = claimProviders - scheme }

  /** Publish `tmp` under the name `target` iff no one else has — the CAS
    * every commit point in the format rests on (table manifests here,
    * txn manifests in [[TxnCatalog]]). Returns whether the claim won;
    * `tmp` is consumed either way (renamed into place or deleted). */
  private[sink] def atomicClaim(f: FileSystem, tmp: Path, target: Path): Boolean = {
    val claimed =
      if (f.getScheme == "file") {
        val qt = java.nio.file.Paths.get(f.makeQualified(target).toUri.getPath)
        val qs = java.nio.file.Paths.get(f.makeQualified(tmp).toUri.getPath)
        try { java.nio.file.Files.createLink(qt, qs); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else if (AtomicRenameSchemes(f.getScheme)) {
        // HDFS-family rename is a namenode metadata op that FAILS if the
        // destination exists — rename itself is the claim.
        !f.exists(target) && f.rename(tmp, target)
      } else claimProviders.get(f.getScheme) match {
        case Some(p) =>
          // arbitration decided a single winner; only the winner touches
          // `target`, so the store's replace-semantics rename is safe.
          // A won claim is exclusive FOREVER (version names are never
          // reused), which cuts both ways: the winner may freely RETRY a
          // transiently failing publish — and without retries a consumed
          // claim with no manifest would wedge the table for good (every
          // later attempt re-claims the same name and is refused).
          val won = p.claim(f, target)
          if (won) {
            var published = false
            var attempt = 0
            var lastErr: Throwable = null
            while (!published && attempt < 5) {
              try published = f.rename(tmp, target)
              catch { case e: java.io.IOException => lastErr = e }
              // a rename that THREW (or returned false) may still have
              // completed server-side — object-store renames are
              // copy+delete, and a timeout can land after the copy. A
              // later retry then sees tmp gone and keeps "failing" even
              // though the manifest is up. Only this writer holds the
              // claim, so an existing target IS our publish — probe
              // before counting the attempt as failed.
              if (!published) published =
                try f.exists(target) catch { case _: java.io.IOException => false }
              attempt += 1
              if (!published && attempt < 5) Thread.sleep(50L << attempt)
            }
            if (!published)
              throw new java.io.IOException(
                s"claimed $target but failed to publish it after $attempt " +
                  s"attempts; the claim stays with this writer — recover by " +
                  s"copying the staged manifest $tmp to $target", lastErr)
          }
          won
        case None =>
          // Object stores (s3a/gs/wasb/abfs/oss/...) implement rename as
          // copy+delete with NO fail-if-exists: two racing writers would
          // both "succeed" and one manifest is silently clobbered — the
          // exact lost update the hard-link CAS exists to prevent. Refuse
          // rather than corrupt; an external arbiter closes the gap.
          f.delete(tmp, false)
          throw new UnsupportedOperationException(
            s"scheme '${f.getScheme}' has no atomic fail-if-exists primitive; " +
              "refusing a non-atomic manifest claim (lost-update risk) — " +
              "register a conditional-put arbiter via " +
              "VersionedTable.registerClaimProvider(scheme, provider)")
      }
    if (f.getScheme == "file" || !claimed) f.delete(tmp, false)
    claimed
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    finally in.close()
  }

  /** The manifest or checkpoint at `p`, decoded as version `v`. */
  private def readDoc(f: FileSystem, p: Path, v: Int)
      : (Manifest, Option[ManifestJson.Delta]) =
    ManifestJson.decode(p.toString, v, readText(f, p))

  private def readManifest(spark: SparkSession, root: String, v: Int): Manifest = {
    val p = manifestPath(root, v)
    val f = fs(spark, p)
    val st =
      try f.getFileStatus(p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"no version $v at $root (have ${versions(spark, root)})")
      }
    val key = cacheKey(f, p, st)
    cacheGet(key).getOrElse {
      val m = readDoc(f, p, v) match {
        case (full, None) => full
        case (d, Some(delta)) =>
          // a checkpoint (written by expire when it drops a delta's
          // ancestors) REPLACES the replay: same assembled content.
          // Probed only on the cache-miss delta path, so the common
          // full-manifest read pays nothing for it.
          val ck = checkpointPath(root, v)
          if (f.exists(ck)) readDoc(f, ck, v)._1
          else try delta.replay(d, readManifest(spark, root, v - 1))
          catch {
            // a CONCURRENT expire can drop this delta's parent after our
            // no-checkpoint probe but before the recursion reads it — and
            // expire always writes the checkpoint FIRST, so re-probing
            // closes the window for a version expire deliberately kept
            case e: IllegalArgumentException =>
              if (f.exists(ck)) readDoc(f, ck, v)._1
              else throw e
          }
      }
      cachePut(key, m)
      m
    }
  }

  /** Write `m` as a full-snapshot `.checkpoint.json` — idempotent
    * (content-equivalent replacements), atomic via tmp + rename. */
  private def writeCheckpoint(spark: SparkSession, root: String, m: Manifest): Unit = {
    val target = checkpointPath(root, m.version)
    val f = fs(spark, target)
    val tmp = new Path(logDir(root),
      s".ck${m.version}-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    try out.write(ManifestJson.full(m)) finally out.close()
    if (!f.rename(tmp, target)) f.delete(tmp, false) // an existing one is fine
  }

  /** Transaction ids recorded by committed versions — the idempotence
    * ledger a streaming writer consults before re-applying a batch. */
  def committedTxns(spark: SparkSession, root: String): Set[Long] =
    versions(spark, root)
      .flatMap(v => readManifest(spark, root, v).txn).toSet

  /** Write `df`'s rows as immutable data files under a version-unique
    * prefix and return their table-relative paths. The parquet job writes
    * to a scratch dir; files are MOVED (renamed) under data/ — cheap and
    * local to the table root. */
  private def writeDataFiles(spark: SparkSession, root: String, df0: DataFrame,
                             version: Int,
                             partitionCols: Seq[String] = Seq.empty,
                             physMap: Map[String, String] = Map.empty): Seq[String] =
    stageFiles(spark, root, df0, version, partitionCols, physMap)._1

  /** [[writeDataFiles]] for a frame that may also carry the commit's
    * change rows. When `df0` has the [[ChangeSide]] column, ONE write job
    * splits its rows by that column into files of their own: `data` rows
    * are data files only, `pre` rows (the row images the commit removes)
    * change files only, and `post` rows (the row images it writes) files
    * that are both. Every file has the data files' physical names and
    * partition directories and is published with them; a change file
    * names its side ([[isPreImage]]), and a pre-image file is not a data
    * file: only the manifest's `changes` field names it. Returns (data
    * files, change files). */
  private def stageFiles(spark: SparkSession, root: String, df0: DataFrame,
                         version: Int, partitionCols: Seq[String],
                         physMap: Map[String, String])
      : (Seq[String], Seq[String]) = {
    // column mapping: data files always carry the PHYSICAL names, so a
    // post-rename append's files resolve identically to pre-rename ones
    val df1 =
      if (physMap.isEmpty) df0
      else df0.select(df0.schema.fields.toSeq.map(f =>
        org.apache.spark.sql.functions.col(f.name)
          .as(physMap.getOrElse(f.name, f.name))): _*)
    // partition TRANSFORMS: derive the synthetic directory column(s);
    // partitionBy removes exactly the dir columns from the data files,
    // so a transform's SOURCE column stays in the file (footer stats
    // keep range pruning exact) while an identity column moves to its
    // k=v directory as before
    val xforms = partitionCols.map(Layout.parse)
    val df2 = xforms.filterNot(_.isInstanceOf[Layout.Identity])
      .foldLeft(df1)((d, x) =>
        d.withColumn(x.dirKey, Layout.writeExpr(x, df1.schema)))
    val layoutCols = xforms.map(_.dirKey)
    val sided = df0.columns.contains(ChangeSide)
    val dirCols = (if (sided) Seq(ChangeSide) else Seq.empty) ++ layoutCols
    // optimized write (opt-in, the Delta optimizeWrite shape): align
    // the pre-write shuffle with the layout's own directory cells, so
    // each (day x bucket x ...) cell lands in ~one task and the hive
    // write emits ~one file per cell instead of (tasks x cells) small
    // files. Off by default: a caller who pre-clustered (compact,
    // zorder) must keep their ordering; an extra shuffle is not free.
    val df =
      if (layoutCols.isEmpty || !spark.conf
          .get("spark.graft.optimizeWrite", "false").toBoolean) df2
      else df2.repartition(layoutCols.map(
        org.apache.spark.sql.functions.col): _*)
    // writer-unique nonce: two writers optimistically staging the SAME
    // next version must not share a scratch dir or collide on data-file
    // names — isolation holds all the way to the manifest rename, which
    // is the one true CAS point
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val scratch = new Path(root, s".stage-v$version-$nonce")
    val f = fs(spark, scratch)
    // TABLE data files write timestamps as INT64 TIMESTAMP(MICROS), not
    // legacy INT96: INT96 footers carry no usable min/max, so manifest
    // stats (and the metadata-only min(ts)/max(ts) rewrite) need the
    // annotated physical type. Scoped to THIS write — a global session
    // default would also retype every consumer-facing parquet the engine
    // emits, which downstream naive-timestamp readers may not expect.
    // There is no per-write parquet option for this (checked: Spark 4's
    // ParquetOptions carries only compression/mergeSchema/rebase), so
    // timestamp-bearing writes run on a CLONED session (same
    // SparkContext, copied-then-private SQLConf): the retype can never
    // leak into an unrelated parquet write the user runs concurrently
    // on the original session, and no lock is needed. Schema-gated: the
    // common ts-free write stays on the caller's session untouched.
    def writeJob(frame: DataFrame): Unit = {
      val w = frame.write.mode("overwrite").option("compression", "zstd")
      (if (dirCols.isEmpty) w else w.partitionBy(dirCols: _*))
        .parquet(scratch.toString)
    }
    def hasTs(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case s: org.apache.spark.sql.types.StructType => s.fields.exists(x => hasTs(x.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasTs(a.elementType)
      case m: org.apache.spark.sql.types.MapType => hasTs(m.keyType) || hasTs(m.valueType)
      case _ => false
    }
    if (!df.schema.fields.exists(x => hasTs(x.dataType))) writeJob(df)
    else {
      import org.apache.spark.sql.graftbridge.Bridge
      val scoped = Bridge.cloneSession(spark)
      scoped.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      writeJob(Bridge.ofRows(scoped, df))
    }
    f.mkdirs(dataDir(root))
    // collect staged part files with their partition subpath (k=v dirs
    // between scratch and the file — hive layout when partitioned)
    def walk(p: Path, sub: String): Seq[(Path, String)] =
      f.listStatus(p).toSeq.flatMap { st =>
        val n = st.getPath.getName
        if (st.isDirectory && n.contains("="))
          walk(st.getPath, if (sub.isEmpty) n else s"$sub/$n")
        else if (n.startsWith("part-")) Seq(st.getPath -> sub)
        else Seq.empty
      }
    // publish moves are independent per file and driver-local FS calls:
    // lift them on a bounded pool (the addedMeta pattern) — a transform
    // layout's append legitimately stages hundreds of cell files, and a
    // serial walk of rename+chmod round-trips makes the PUBLISH step a
    // driver bottleneck right after the write was parallelized (r19)
    // a sided write's first directory level is the side: a change file
    // keeps the layout directories below it and names its side
    val staged = walk(scratch, "").map { case (src, sub0) =>
      if (!sided) (src, sub0, SideData)
      else {
        val (side, rest) = sub0.span(_ != '/')
        (src, rest.stripPrefix("/"), side.stripPrefix(s"$ChangeSide="))
      }
    }
    def mv(src: Path, sub: String, side: String): String = {
      val name =
        if (side == SideData) s"c$version-$nonce-${src.getName}"
        else s"c$version-$nonce-$side-${src.getName}"
      val dir = if (sub.isEmpty) dataDir(root) else new Path(dataDir(root), sub)
      f.mkdirs(dir)
      val dst = new Path(dir, name)
      require(f.rename(src, dst), s"stage move failed: $src")
      if (sub.isEmpty) s"data/$name" else s"data/$sub/$name"
    }
    val moved =
      if (staged.size <= 4) staged.map { case (src, sub, side) => mv(src, sub, side) }
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, staged.size))
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          Await.result(
            Future.sequence(staged.map { case (src, sub, side) =>
              Future(mv(src, sub, side)) }),
            scala.concurrent.duration.Duration(10, "min"))
        } finally pool.shutdown()
      }
    f.delete(scratch, true)
    val sides = moved.zip(staged.map(_._3))
    (sides.collect { case (f, side) if side != SidePre => f },
      sides.collect { case (f, side) if side != SideData => f })
  }

  /** The column that splits a [[stageFiles]] frame into data rows and
    * change rows, and its three values. */
  private val ChangeSide = "__graft_side"
  private val SideData = "data"
  private val SidePre = "pre"
  private val SidePost = "post"

  /** Whether change file `f` holds pre-images (signed −1) rather than
    * post-images (+1): [[stageFiles]] names it `c<v>-<nonce>-<side>-…`. */
  private def isPreImage(f: String): Boolean =
    new Path(f).getName.split('-')(2) == SidePre

  /** Exact [lo = hi = value] stats for partition columns, synthesized
    * from the file's hive directory path — a partitioned file trivially
    * has one value per partition column, so directory pruning IS range
    * pruning with a degenerate range; no new pruning machinery needed.
    * Types follow the table schema (long/double/string stat domains);
    * escaped or null partition values ("%xx", __HIVE_DEFAULT_PARTITION__)
    * and non-stat-typed columns contribute nothing (absent stats are
    * never wrong, only unhelpful). */
  private def partitionStats(schemaDdl: String, rel: String): Seq[ColStat] = {
    import org.apache.spark.sql.types._
    val schema = StructType.fromDDL(schemaDdl)
    rel.split("/").toSeq.dropRight(1).filter(_.contains("=")).flatMap { seg =>
      val k = seg.substring(0, seg.indexOf('='))
      val v = seg.substring(seg.indexOf('=') + 1)
      if (v.contains("%") || v == "__HIVE_DEFAULT_PARTITION__") None
      else schema.find(_.name == k).map(_.dataType).flatMap {
        case ByteType | ShortType | IntegerType | LongType =>
          Some(ColStat(k, "long", v, v, nulls = 0L))
        case FloatType | DoubleType =>
          Some(ColStat(k, "double", v.toDouble.toString, v.toDouble.toString,
            nulls = 0L))
        case StringType if v.forall(_ < 128) =>
          Some(ColStat(k, "string", v, v, nulls = 0L))
        case DateType =>
          // dir value "2024-01-01" → epoch days, the documented RangePreds
          // domain for dates — so date-partitioned pruning AND the
          // metadata GROUP BY day both work; unparseable dirs stay unstated
          scala.util.Try(java.time.LocalDate.parse(v).toEpochDay.toString)
            .toOption.map(d => ColStat(k, "long", d, d, nulls = 0L))
        case _ => None // timestamps: dir renderings don't share the
                       // pushed-filter stat domain (epoch micros)
      }
    }
  }

  /** Per-file column stats from the parquet FOOTER of a just-committed
    * file — metadata-only, no second data scan (the Iceberg/Delta recipe:
    * the writer already paid for row-group stats; commit lifts them to
    * file granularity so the READER can prune whole files from the
    * manifest without opening any footer). Row-group mins/maxes fold to
    * one [lo, hi] per column; a column with any stats-less row group is
    * omitted (absent stats = never pruned, always safe). Strings compare
    * in UTF-16 order on read, so record only those whose parquet unsigned-
    * byte order agrees (pure ASCII bounds) — else pruning could be wrong.
    *
    * Also returned: the file's exact ROW COUNT (sum of row-group counts —
    * the manifest's `nrows` entry, what metadata-only `count(*)` answers
    * from), and per recorded column the footer's NULL COUNT when every
    * row group set one (−1 = unknown → `count(col)` falls back to a
    * scan). */
  private def footerMeta(spark: SparkSession, root: String,
                         rel: String): (Seq[ColStat], Long) = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new Path(root, rel), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      if (blocks.isEmpty) return (Seq.empty, rowCount)
      val perBlock: Seq[Map[String, ColStat]] = blocks.map { b =>
        b.getColumns.asScala.flatMap { c =>
          val st = c.getStatistics
          val pt = c.getPrimitiveType
          val isAscii = (s: String) => s.forall(_ < 128)
          def nn: Long = if (st.isNumNullsSet) st.getNumNulls else -1L
          if (st == null || st.isEmpty || !st.hasNonNullValue) None
          else pt.getPrimitiveTypeName match {
            // DECIMAL(p<=18) stores UNSCALED ints in INT32/INT64: recording
            // them as plain longs would compare unscaled stats against
            // SCALED predicate values (123.45 vs 12345) and prune files that
            // hold matching rows. No safe shared domain exists in the
            // "long" stat type, so decimal columns are skipped — absent
            // stats are never wrong, only unhelpful. (Dates/timestamps
            // stay: their epoch-days/micros physical values ARE the
            // documented RangePreds domain.)
            case INT32 | INT64 if !pt.getLogicalTypeAnnotation
                .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
              // the logical annotation disambiguates what the long MEANS
              // (epoch micros vs millis vs days) — recorded so min/max over
              // timestamp columns can be answered from the manifest
              val unit = pt.getLogicalTypeAnnotation match {
                case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  val base = t.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MILLIS => "ts-millis"
                    case LogicalTypeAnnotation.TimeUnit.MICROS => "ts-micros"
                    case _ => "ts-nanos"
                  }
                  if (t.isAdjustedToUTC) base else base + "-ntz"
                case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => "date"
                case _ => ""
              }
              Some(ColStat(c.getPath.toDotString, "long",
                st.genericGetMin.toString, st.genericGetMax.toString, nn, unit))
            case FLOAT | DOUBLE => Some(ColStat(c.getPath.toDotString, "double",
              st.genericGetMin.toString.toDouble.toString,
              st.genericGetMax.toString.toDouble.toString, nn))
            case BINARY if pt.getLogicalTypeAnnotation ==
                LogicalTypeAnnotation.stringType() =>
              val lo = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              val hi = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary]
                .toStringUsingUTF8
              if (isAscii(lo) && isAscii(hi))
                Some(ColStat(c.getPath.toDotString, "string", lo, hi, nn))
              else None
            case _ => None
          }
        }.map(s => s.col -> s).toMap
      }
      // fold: keep a column only if EVERY row group recorded it
      val common = perBlock.map(_.keySet).reduce(_ intersect _)
      val stats = common.toSeq.sorted.map { col =>
        val cs = perBlock.map(_(col))
        val typ = cs.head.typ
        def lo2 = cs.map(_.lo).minBy(parse(typ, _))(ordering(typ))
        def hi2 = cs.map(_.hi).maxBy(parse(typ, _))(ordering(typ))
        val nulls =
          if (cs.exists(_.nulls < 0)) -1L else cs.map(_.nulls).sum
        ColStat(col, typ, lo2, hi2, nulls, cs.head.unit)
      }
      (stats, rowCount)
    } finally reader.close()
  }

  /** Footer metadata for a batch of freshly committed files: per-file
    * column stats (footer columns + degenerate hive partition-dir stats)
    * and exact per-file row counts — one footer open per file, zero data
    * re-scan. Shared by every path that adds data files to a manifest. */
  private def addedMeta(spark: SparkSession, root: String, ddl: String,
                        added: Seq[String],
                        physMap: Map[String, String] = Map.empty)
      : (Map[String, Seq[ColStat]], Map[String, Long]) = {
    // footers record PHYSICAL column names; manifest metadata is keyed
    // by LOGICAL names everywhere (pruning, meta-aggregates, indexes)
    val toLogical: Map[String, String] = physMap.map(_.swap)
    def oneFile(f: String): (String, Seq[ColStat], Long) = {
      val (cs0, n) = footerMeta(spark, root, f)
      val cs = if (toLogical.isEmpty) cs0
        else cs0.map(s => s.copy(col = toLogical.getOrElse(s.col, s.col)))
      (f, cs ++ partitionStats(ddl, f), n)
    }
    // footer opens are independent, driver-local I/O: lift them on a
    // bounded pool instead of one-at-a-time — a hive-transform commit
    // lands one file per (day x bucket) cell, so a single append can
    // legitimately add hundreds of files (at 100 TB, thousands), and a
    // serial walk makes the COMMIT the bottleneck, not the write
    val metas =
      if (added.size <= 4) added.map(oneFile)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(16, added.size))
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          Await.result(Future.sequence(added.map(f => Future(oneFile(f)))),
            scala.concurrent.duration.Duration(10, "min"))
        } finally pool.shutdown()
      }
    (metas.collect { case (f, cs, _) if cs.nonEmpty => f -> cs }.toMap,
     metas.map { case (f, _, n) => f -> n }.toMap)
  }

  private def parse(typ: String, v: String): Any = typ match {
    case "long" => v.toLong
    case "double" => v.toDouble
    case _ => v
  }
  private def ordering(typ: String): Ordering[Any] = (typ match {
    case "long" => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case "double" => Ordering.Double.TotalOrdering.on[Any](_.asInstanceOf[Double])
    case _ => Ordering.String.on[Any](_.asInstanceOf[String])
  })
  private def cmp(typ: String, a: String, b: Any): Int = {
    val bv: Any = (typ, b) match {
      case ("long", n: Number) => n.longValue()
      case ("double", n: Number) => n.doubleValue()
      case (_, other) => other.toString match {
        case s if typ == "long" => s.toLong
        case s if typ == "double" => s.toDouble
        case s => s
      }
    }
    ordering(typ).compare(parse(typ, a), bv)
  }

  /** FRESH-CONTENT commit — create / overwrite: the new version
    * references ONLY the written files (appends and every carrying
    * writer publish through [[commitDelta]], which rebases). A pinned
    * `baseVersion` targets exactly base+1 so a commit landing in
    * between refuses the stale rewrite instead of being silently
    * replaced. An overwrite resets the column mapping with the data —
    * every file is new, so logical names ARE physical again. */
  private def commit(spark: SparkSession, root: String, df0: DataFrame,
                     txn: Option[Long] = None,
                     baseVersion: Option[Int] = None,
                     partitionCols: Seq[String] = Seq.empty,
                     op: String = "append"): Int = {
    val cur = currentVersion(spark, root)
    val v = baseVersion.map(_ + 1).getOrElse(cur.getOrElse(0) + 1)
    // CHECK constraints are TABLE metadata: an overwrite replaces the
    // DATA, not the contract — the new content must satisfy the
    // existing checks and the new version carries them (create starts
    // with none)
    val curM = cur.map(readManifest(spark, root, _))
    val checks = curM.map(_.checks).getOrElse(Seq.empty)
    // ROW TRACKING survives an overwrite: the content is new rows, so
    // the engine assigns NEW ids (the documented contract) rather than
    // silently dropping the marker because the business frame doesn't
    // carry the engine-owned column. A frame that DOES supply _row_id
    // (a round-trip write-back) passes through untouched.
    val df = curM match {
      case Some(mm) if mm.props.get(PropRowTracking).contains("true") &&
          !df0.schema.fieldNames.contains(RowIdCol) =>
        import org.apache.spark.sql.functions.{lit, monotonically_increasing_id}
        df0.withColumn(RowIdCol,
          (monotonically_increasing_id() +
            lit(mm.ids.getOrElse(RowIdCol, 1L))).cast("long"))
      case _ => df0
    }
    // DEFAULTS are table metadata like checks: an overwrite replaces the
    // data, not the write-default contract (new files carry every column
    // physically, so no noCol entries are needed). GENERATED columns
    // likewise carry — and the staged rows must still satisfy them.
    // Column-KEYED contracts whose column the replacement schema DROPS
    // are released with it: a dangling gens entry would resurrect its
    // old expression if the name is ever re-added (addColumn's noCol +
    // fillExprs would substitute it into historical files), and a
    // dangling ids entry would make assignIdentity inject a column the
    // schema no longer has — wedging every later append with no DDL
    // able to remove it.
    val ddl = df.schema.toDDL
    val names = df.schema.fieldNames.toSet
    val defaults = curM.map(_.defaults).getOrElse(Map.empty[String, String])
      .view.filterKeys(names.contains).toMap
    val gens = curM.map(_.gens).getOrElse(Map.empty[String, String])
      .view.filterKeys(names.contains).toMap
    // table properties carry like checks; COLUMN-REFERENCING ones
    // release with their columns (a rowTracking marker without its id
    // column would wedge assignment; clusterBy keeps only live keys)
    val props = curM.map(_.props).getOrElse(Map.empty[String, String])
      .flatMap {
        case (PropRowTracking, _) if !names.contains(RowIdCol) => None
        case (PropClusterBy, v) =>
          val kept = v.split(",").filter(names.contains)
          if (kept.isEmpty) None else Some(PropClusterBy -> kept.mkString(","))
        case kv => Some(kv)
      }
    // A KEPT generated column / CHECK whose referenced column the
    // replacement schema DROPS would only surface at enforceChecks as
    // an AnalysisException (unresolved column) AFTER staging — and that
    // failure path never sweeps the staged files. Refuse cleanly here,
    // before any file is written: drop the generated column/constraint
    // first, or keep its source columns in the replacement schema.
    (gens.toSeq.map { case (g, e) => s"generated column $g" -> e } ++
      checks.map(c => s"CHECK constraint ${c.name}" -> c.expr))
      .foreach { case (what, e) =>
        val missing = checkRefs(spark, e).filterNot(names.contains)
        require(missing.isEmpty,
          s"$what references column(s) the replacement schema drops: " +
            s"${missing.mkString(", ")} — drop it first or keep the " +
            "column; nothing was committed")
      }
    val added = writeDataFiles(spark, root, df, v, partitionCols)
    enforceChecks(spark, root, checks ++ genChecks(gens, ddl), ddl,
      partitionCols.nonEmpty, Map.empty, added)
    // footer stats for file columns + degenerate [v, v] stats for
    // partition columns (hive dirs carry exactly one value per file),
    // plus exact per-file row counts — one footer open per added file
    val (addedStats, addedRows) = addedMeta(spark, root, ddl, added)
    writeManifest(spark, root,
      Manifest(v, ddl, added, txn, addedStats,
        partitionCols = partitionCols, rows = addedRows, op = op,
        checks = checks, defaults = defaults, gens = gens, props = props,
        // identity marks are MONOTONIC: an overwrite replaces the data,
        // never the allocation history — and still advances past any
        // value the fresh content carries
        ids = curM.map(_.ids).getOrElse(Map.empty)
          .view.filterKeys(names.contains).toMap.map { case (c, hw) =>
            val hi = addedStats.values.flatten
              .filter(s => s.col == c && s.typ == "long")
              .flatMap(s => scala.util.Try(s.hi.toLong).toOption)
            c -> (if (hi.isEmpty) hw else math.max(hw, hi.max + 1L))
          }),
      // the parent manifest floors the in-commit stamp (parent.ts+1):
      // without it a backwards clock step lets an overwrite stamp
      // ts <= its parent, breaking versionAsOf/expireOlderThan ordering
      curM)
    v
  }

  /** The engine-owned stable row-id column ([[enableRowTracking]]) and
    * the table-property keys the engine itself interprets. */
  val RowIdCol = "_row_id"
  val PropRowTracking = "graft.rowTracking"
  val PropClusterBy = "graft.clusterBy"
  val PropClusterCurve = "graft.clusterCurve"

  private[graft] val NoRaceHook: () => Unit = () => ()

  /** Test-only seam consumed (and reset) by the next [[commitDelta]]
    * publish: runs after that writer resolved its base snapshot and
    * before its first CAS attempt — the window a concurrent commit
    * races in. Lets specs pin the conflict taxonomy deterministically
    * instead of with timing-dependent threads. */
  @volatile private[graft] var raceBeforePublish: () => Unit = NoRaceHook

  /** One non-append writer's commit, expressed RELATIVE to the base
    * snapshot it read — exactly the information a conflict check and a
    * rebase need. `removedFiles` are base files the commit drops (CoW
    * rewrites, compaction inputs); `dvUpdates` are base files whose
    * deletion vector it replaces (MoR DMLs — the new vector MERGED the
    * base vector, so it is only valid while no one else re-vectors the
    * file); `addedFiles` are its new data files with their computed
    * metadata. The commit's file-level FOOTPRINT — the set a concurrent
    * commit must not have touched for a rebase to be sound — is
    * `removedFiles ∪ dvUpdates.keySet`. */
  private case class CommitDelta(
      removedFiles: Set[String],
      addedFiles: Seq[String] = Seq.empty,
      addedStats: Map[String, Seq[ColStat]] = Map.empty,
      addedRows: Map[String, Long] = Map.empty,
      dvUpdates: Map[String, FileDv] = Map.empty,
      refreshedStats: Map[String, Seq[ColStat]] = Map.empty,
      op: String = "overwrite",
      txn: Option[Long] = None,
      // IDENTITY columns this commit ENGINE-ASSIGNED values for, from
      // the base manifest's high-water mark: a rebase across any other
      // commit that advanced the same column's mark must refuse (both
      // writers allocated from the same range — values could collide);
      // commits that merely carry SUPPLIED values rebase freely (the
      // mark auto-advances past their stats either way)
      assignedIds: Set[String] = Set.empty,
      // table-property updates riding the SAME commit (zorderBy records
      // its layout atomically with the rewrite — never a second version)
      propUpdates: Map[String, String] = Map.empty,
      // INDEX deltas: per-file, per-column metadata merges (indexSums /
      // indexBloom / indexHll / reindex). They read file CONTENT but
      // replace nothing, so their footprint is empty and they rebase
      // across anything — except that an entry for a file an interleaved
      // commit removed or RE-VECTORED is stale (computed over the old
      // survivor set) and silently DROPS on rebase instead of refusing:
      // an index is a cache of derivable facts, missing is always sound.
      metaStats: Map[String, Seq[ColStat]] = Map.empty,
      metaBlooms: Map[String, Seq[FileBloom]] = Map.empty,
      metaHlls: Map[String, Seq[FileHll]] = Map.empty,
      // COPY INTO's ingested source files — carried through rebases so
      // a lost CAS can't drop the idempotence ledger entry
      loads: Seq[String] = Seq.empty,
      // the commit's change-row files ([[stageFiles]]): their rows are
      // relative to the files it removed, which a rebase only crosses
      // when no interleaved commit touched them — valid at any head
      changes: Seq[String] = Seq.empty)

  /** Publish `delta` on top of `base`, REBASING across concurrent
    * commits whose file footprints are DISJOINT — the Delta/Iceberg
    * conflict-taxonomy shape (public designs), where a GDPR delete and
    * a streaming append running together both land instead of the DML
    * refusing and re-scanning forever. Losing the version CAS walks
    * every interleaved commit and refuses
    * ([[java.util.ConcurrentModificationException]]) iff one of them
    * removed or re-vectored a file this commit's result depends on, or
    * changed the table's schema/partition layout (or is unreadable —
    * disjointness must be PROVEN); otherwise the delta re-applies onto
    * the new head and retries. Rebased semantics are snapshot-at-read:
    * rows committed by interleaved appends were not visible to the
    * DML's predicate and are carried through untouched (the
    * WriteSerializable contract Delta documents — the DML serializes
    * BEFORE the appends it rebased across). An interleaved commit
    * carrying this delta's own `txn` id makes the retry a no-op (the
    * idempotence ledger already applied it). */
  private def commitDelta(spark: SparkSession, root: String, base: Manifest,
                          delta: CommitDelta, maxRebases: Int = 16): Int = {
    // test seam: land a racing commit deterministically inside the CAS
    // window (after this writer read its base, before it publishes) —
    // swap-then-call so the racer's own commit can't re-enter the hook
    locally {
      val h = raceBeforePublish
      if (h ne NoRaceHook) { raceBeforePublish = NoRaceHook; h() }
    }
    val footprint = delta.removedFiles ++ delta.dvUpdates.keySet
    var m = base
    var rebases = 0
    // files whose index entries went stale during rebase (removed or
    // re-vectored by an interleaved commit) — dropped, never refused
    var stale = Set.empty[String]
    // per-file, per-COLUMN merge: replace only the delta's columns,
    // keep whatever else the (possibly rebased-onto) head carries
    def mergeCols[T](basem: Map[String, Seq[T]], fresh: Map[String, Seq[T]],
                     colOf: T => String, live: Set[String]): Map[String, Seq[T]] =
      fresh.foldLeft(basem) { case (acc, (f, es)) =>
        if (stale.contains(f) || !live.contains(f)) acc
        else {
          val cols = es.map(colOf).toSet
          acc.updated(f,
            acc.getOrElse(f, Seq.empty).filterNot(e => cols.contains(colOf(e))) ++ es)
        }
      }
    // identity high-water: advance past the largest value this commit's
    // files carry for each identity column — read from the footer stats
    // the commit already pays for, never a data scan. Engine-assigned
    // AND caller-supplied (round-tripped) values both push the mark, so
    // later assignment can never collide with anything already present.
    def idAdvance(ids: Map[String, Long]): Map[String, Long] =
      if (ids.isEmpty) ids
      else ids.map { case (c, hw) =>
        val hi = (delta.addedStats.values ++ delta.refreshedStats.values)
          .flatten.filter(s => s.col == c && s.typ == "long")
          .flatMap(s => scala.util.Try(s.hi.toLong).toOption)
        c -> (if (hi.isEmpty) hw else math.max(hw, hi.max + 1L))
      }
    while (true) {
      val v = m.version + 1
      val gone = delta.removedFiles
      val files = m.files.filterNot(gone) ++ delta.addedFiles
      val liveSet = files.toSet
      val manifest = Manifest(v, m.schemaDdl,
        files, delta.txn,
        mergeCols[ColStat](
          m.stats.view.filterKeys(!gone(_)).toMap ++ delta.refreshedStats ++
            delta.addedStats,
          delta.metaStats, _.col, liveSet),
        mergeCols[FileBloom](m.blooms.view.filterKeys(!gone(_)).toMap,
          delta.metaBlooms, _.col, liveSet),
        m.partitionCols,
        mergeCols[FileHll](m.hlls.view.filterKeys(!gone(_)).toMap,
          delta.metaHlls, _.col, liveSet),
        m.dvs.view.filterKeys(!gone(_)).toMap ++ delta.dvUpdates,
        m.rows.view.filterKeys(!gone(_)).toMap ++ delta.addedRows,
        delta.op, m.colMap, m.maxCid, m.checks, m.defaults,
        m.noCol.view.filterKeys(!gone(_)).toMap, m.gens, idAdvance(m.ids),
        m.props ++ delta.propUpdates, loads = delta.loads,
        changes = delta.changes)
      try { writeManifest(spark, root, manifest, Some(m)); return v }
      catch {
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already committed") =>
          rebases += 1
          if (rebases > maxRebases)
            throw new java.io.IOException(
              s"${delta.op} lost the commit race $maxRebases times at $root", e)
          val newCur = currentVersion(spark, root).getOrElse(
            throw new IllegalStateException(s"table vanished under commit at $root"))
          def refuse(why: String): Nothing =
            throw new java.util.ConcurrentModificationException(
              s"${delta.op} at $root (base v${base.version}) conflicts with a " +
                s"concurrent commit: $why. Re-run the operation against the " +
                "current version.")
          var prev = m
          var x = m.version + 1
          while (x <= newCur) {
            val wx = scala.util.Try(readManifest(spark, root, x)).getOrElse(
              refuse(s"interleaved v$x is unreadable, so disjointness " +
                "cannot be proven"))
            if (delta.txn.nonEmpty && wx.txn == delta.txn)
              return x // the idempotence ledger already carries this txn
            // a REPLACE is a NEW table incarnation and a ROLLBACK/RESTORE
            // re-points at historical state: nothing staged against the
            // old incarnation may carry over — even when the new DDL and
            // properties happen to be shape-identical to the old (the
            // field-equality checks below would then pass, and an
            // empty-footprint append — deduped against the OLD loads
            // ledger — would silently land old-incarnation rows in the
            // "fresh" table). Delta fails any transaction concurrent
            // with a metadata-replacing commit the same way.
            if (wx.op == "replace" || wx.op == "rollback")
              refuse(s"v$x (${wx.op}) replaced the table incarnation " +
                "this commit was staged against")
            if (wx.schemaDdl != m.schemaDdl)
              refuse(s"v$x (${wx.op}) changed the table schema")
            if (wx.partitionCols != m.partitionCols)
              refuse(s"v$x (${wx.op}) changed the partition layout")
            // a constraint added mid-flight was never validated against
            // this commit's staged rows — refuse rather than publish
            // around it (Delta refuses any metadata change the same way)
            if (wx.checks != m.checks)
              refuse(s"v$x (${wx.op}) changed the table's CHECK constraints")
            // properties steer write behavior (row tracking, clustering)
            // — a commit planned under different properties must re-run
            if (wx.props != m.props)
              refuse(s"v$x (${wx.op}) changed the table properties")
            // two writers that both engine-assigned from one high-water
            // mark may have allocated overlapping identity values — the
            // loser refuses and re-runs (re-assigning from the new mark)
            delta.assignedIds.find(c => wx.ids.get(c) != prev.ids.get(c))
              .foreach(c => refuse(s"v$x (${wx.op}) advanced the identity " +
                s"high-water mark of $c this commit also assigned from"))
            // two COPY INTOs racing over shared source files: the loser
            // refuses instead of double-loading — its re-run consults
            // the ledger the winner just extended and skips the overlap
            if (delta.loads.nonEmpty &&
                wx.loads.exists(delta.loads.toSet.contains))
              refuse(s"v$x (${wx.op}) already ingested source file(s) " +
                "this COPY INTO staged — re-run to load only the rest")
            val prevSet = prev.files.toSet
            val touchedByX = (prevSet -- wx.files.toSet) ++
              wx.files.filter(f => prevSet.contains(f) &&
                prev.dvs.get(f) != wx.dvs.get(f))
            val overlap = touchedByX.intersect(footprint)
            if (overlap.nonEmpty)
              refuse(s"v$x (${wx.op}) removed or re-vectored " +
                s"${overlap.size} file(s) this commit read, e.g. " +
                overlap.head)
            stale = stale ++ touchedByX // index entries for these drop
            prev = wx
            x += 1
          }
          m = prev // disjoint: rebase onto the new head and retry
      }
    }
    -1 // unreachable
  }

  /** Publish a METADATA-ONLY transform of the newest manifest (schema
    * DDLs, rollback), retrying against the new head on a lost CAS: the
    * transform re-derives its whole output from whatever manifest it is
    * handed — and re-runs its own validation — so racing a schema change
    * against continuous ingest just re-applies it on top (a table under
    * a streaming sink can addColumn without quiescing). A racing commit
    * that invalidates the transform (renaming the same column away)
    * fails ITS requires with the semantic error, not a CAS artifact. */
  private def commitMetaTransform(spark: SparkSession, root: String,
                                  transform: Manifest => Manifest,
                                  maxRetries: Int = 16): Int = {
    locally {
      val h = raceBeforePublish
      if (h ne NoRaceHook) { raceBeforePublish = NoRaceHook; h() }
    }
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
        .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
      val m = readManifest(spark, root, cur)
      // a metadata commit writes no change rows; the head's (a per-commit
      // field, like op) must not carry into it
      val out = transform(m).copy(changes = Seq.empty)
      try { writeManifest(spark, root, out, Some(m)); return out.version }
      catch {
        case e: java.io.IOException
            if e.getMessage != null && e.getMessage.contains("already committed") =>
          attempt += 1
          if (attempt > maxRetries)
            throw new java.io.IOException(
              s"metadata commit lost the race $maxRetries times at $root", e)
      }
    }
    -1 // unreachable
  }

  /** Write-compatibility: same column names, order, and types; the write
    * may be NOT NULL where the table is nullable (strictly narrower is
    * safe), never the reverse. The strict form — merges REPLACE whole
    * target rows, so a missing source column there would silently null a
    * matched row's value (data loss); appends use [[alignForAppend]]. */
  private def requireWriteCompatible(tableDdl: String, df: DataFrame,
                                     what: String): Unit = {
    val t = org.apache.spark.sql.types.StructType.fromDDL(tableDdl)
    val s = df.schema
    require(t.length == s.length && t.zip(s).forall { case (tf, sf) =>
      tf.name == sf.name && tf.dataType == sf.dataType &&
        (tf.nullable || !sf.nullable)
    }, s"schema mismatch: table has [$tableDdl], $what has [${s.toDDL}]")
  }

  /** Append-compatibility, by NAME: present columns must match the
    * table's type (nullable-narrowing allowed), table columns MISSING
    * from the frame null-fill iff nullable (the Delta rule — after an
    * addColumn, existing writers keep appending without redeploying),
    * columns the table doesn't have refuse, and the select restores the
    * declared order. A new row's value for an un-supplied column is
    * exactly what a pre-evolution FILE would read for it: NULL. */
  private def alignForAppend(tableDdl: String, df: DataFrame,
                             defaults: Map[String, String] = Map.empty,
                             gens: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val t = org.apache.spark.sql.types.StructType.fromDDL(tableDdl)
    val have = df.schema.fields.map(f => f.name -> f).toMap
    val extra = df.schema.fieldNames.filterNot(t.fieldNames.contains)
    require(extra.isEmpty,
      s"append has column(s) not in the table: ${extra.mkString(", ")} " +
        s"(table: [$tableDdl])")
    // GENERATED columns the frame doesn't supply compute AFTER the
    // non-gen alignment below, so their expressions see every source
    // column (null-filled or defaulted ones included); a supplied value
    // passes through here and is validated by the staged genChecks
    val missingGens = gens.view.filterKeys(g =>
      t.fieldNames.contains(g) && !have.contains(g)).toMap
    if (missingGens.nonEmpty) {
      val nonGen = org.apache.spark.sql.types.StructType(
        t.fields.filterNot(f => missingGens.contains(f.name)))
      val base = alignForAppend(nonGen.toDDL, df, defaults)
      val types = t.fields.map(f => f.name -> f.dataType).toMap
      return base.select(t.fields.toSeq.map { tf =>
        missingGens.get(tf.name) match {
          case Some(e) => expr(e).cast(types(tf.name)).as(tf.name)
          case None => col(tf.name)
        }
      }: _*)
    }
    df.select(t.fields.toSeq.map { tf =>
      have.get(tf.name) match {
        case Some(sf) =>
          // after a type widen, un-redeployed writers still supply the
          // old narrower type — upcast through the same lattice the
          // widen itself allowed (never anything lossy)
          require(sf.dataType == tf.dataType ||
            canWiden(sf.dataType, tf.dataType),
            s"schema mismatch on ${tf.name}: table has " +
              s"${tf.dataType.catalogString}, append has " +
              s"${sf.dataType.catalogString}")
          require(tf.nullable || !sf.nullable,
            s"append would widen non-nullable column ${tf.name}")
          if (sf.dataType == tf.dataType) col(tf.name)
          else col(tf.name).cast(tf.dataType)
        case None =>
          // the WRITE default: an un-supplied defaulted column fills
          // with the literal — physically, so the file never needs a
          // read-time substitution record
          defaults.get(tf.name) match {
            case Some(d) => expr(d).cast(tf.dataType).as(tf.name)
            case None =>
              require(tf.nullable,
                s"append is missing non-nullable column ${tf.name}")
              lit(null).cast(tf.dataType).as(tf.name)
          }
      }
    }: _*)
  }

  /** Create version 1 of a new table (fails if the table exists).
    * `partitionBy` fixes the table's hive-style partition columns for
    * its lifetime: every data file lands under k=v directories, every
    * commit records the layout, and partition predicates prune files
    * from the manifest alone (degenerate [v, v] range stats). */
  def create(spark: SparkSession, root: String, df: DataFrame,
             partitionBy: Seq[String] = Seq.empty): Int = {
    require(currentVersion(spark, root).isEmpty, s"table exists at $root")
    partitionBy.map(Layout.parse).foreach(Layout.validate(_, df.schema))
    commit(spark, root, df, partitionCols = partitionBy, op = "create")
  }

  /** CREATE TABLE from an explicit schema with NO rows — the plain-DDL
    * twin of [[create]] (CTAS): version 1 is an empty table whose
    * column contracts (DEFAULT / GENERATED ALWAYS AS / IDENTITY /
    * CHECK constraints) and table properties land EN BLOC in the first
    * commit, validated exactly like their ALTER faces — there is no
    * window where a writer sees the bare schema without its contracts.
    * (The reference creates its product tables schema-first the same
    * way: load_to_postgis.py's CREATE TABLE IF NOT EXISTS DDL.) */
  def createEmpty(spark: SparkSession, root: String, schemaDdl: String,
                  partitionBy: Seq[String] = Seq.empty,
                  defaults: Map[String, String] = Map.empty,
                  gens: Map[String, String] = Map.empty,
                  ids: Map[String, Long] = Map.empty,
                  checks: Seq[TableCheck] = Seq.empty,
                  props: Map[String, String] = Map.empty): Int = {
    require(currentVersion(spark, root).isEmpty, s"table exists at $root")
    validateTableShape(spark, schemaDdl, partitionBy, defaults, gens, ids,
      checks, props)
    writeManifest(spark, root,
      Manifest(1, org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
        .toDDL, Seq.empty, partitionCols = partitionBy, op = "create",
        checks = checks, defaults = defaults, gens = gens, ids = ids,
        props = props), None)
    1
  }

  /** The declared-shape validation [[createEmpty]] and [[replaceTable]]
    * share — the same bar the ALTER faces set, proven ONCE against the
    * declared schema before anything commits. */
  private def validateTableShape(spark: SparkSession, schemaDdl: String,
                                 partitionBy: Seq[String],
                                 defaults: Map[String, String],
                                 gens: Map[String, String],
                                 ids: Map[String, Long],
                                 checks: Seq[TableCheck],
                                 props: Map[String, String]): Unit = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    val names = schema.fieldNames.toSet
    partitionBy.map(Layout.parse).foreach(Layout.validate(_, schema))
    ids.keys.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"identity column $c is not in the schema"))
      require(f.dataType == org.apache.spark.sql.types.LongType,
        s"identity column $c must be BIGINT")
      require(!defaults.contains(c) && !gens.contains(c),
        s"identity column $c cannot also carry a default/generated " +
          "expression")
    }
    // fill expressions meet the same bar the ALTER faces set: resolve
    // against the schema, deterministic, time-independent, and never
    // chained onto another filled column (read-time substitution
    // evaluates fills in ONE pass and would see the raw NULL)
    val fillKeys = defaults.keySet ++ gens.keySet
    val probeFrame = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    (defaults.toSeq.map { case (c, e) => (s"default for $c", c, e) } ++
      gens.toSeq.map { case (c, e) => (s"generated column $c", c, e) })
      .foreach { case (what, c, e) =>
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"$what: column is not in the schema"))
        val refs = checkRefs(spark, e)
        val missing = refs.filterNot(names.contains)
        require(missing.isEmpty,
          s"$what references unknown column(s): ${missing.mkString(", ")}")
        val chained = refs.filter(r => fillKeys.contains(r) && r != c)
        require(chained.isEmpty,
          s"$what must not reference generated/defaulted column(s) " +
            s"${chained.mkString(", ")}: read-time substitution " +
            "evaluates fills in one pass and would see the raw NULL")
        val resolved = probeFrame.select(org.apache.spark.sql.functions
            .expr(s"CAST(($e) AS ${f.dataType.sql})").as(c))
          .queryExecution.analyzed.expressions.head
        require(resolved.deterministic,
          s"$what needs a deterministic expression: $e")
        requireTimeIndependent(resolved, what, e)
      }
    checks.foreach { c =>
      val missing = checkRefs(spark, c.expr).filterNot(names.contains)
      require(missing.isEmpty, s"CHECK constraint ${c.name} references " +
        s"unknown column(s): ${missing.mkString(", ")}")
      probeFrame.filter(org.apache.spark.sql.functions.expr(c.expr))
        .queryExecution.analyzed // must analyze as a boolean predicate
    }
    val m0 = Manifest(1, schema.toDDL, Seq.empty,
      partitionCols = partitionBy, op = "create", checks = checks,
      defaults = defaults, gens = gens, ids = ids)
    props.foreach { case (k, v) => validateProp(m0, k, v) }
  }

  /** CREATE OR REPLACE TABLE: the table's SHAPE is replaced WHOLESALE
    * at version+1 — schema, layout, contracts (DEFAULT / GENERATED /
    * IDENTITY / CHECK) and properties become exactly the statement's,
    * never carried over from the old shape ([[overwrite]] is the
    * data-only sibling that KEEPS contracts; Delta's REPLACE semantics).
    * `content` (the AS-SELECT form) stages through the new shape's own
    * contracts; None = the empty-schema form. Earlier versions stay
    * time-travel readable until expired; identity allocation restarts
    * from the declared START (the restart is explicit in the statement).
    * A missing table degrades to plain create. */
  def replaceTable(spark: SparkSession, root: String, schemaDdl: String,
                   partitionBy: Seq[String] = Seq.empty,
                   defaults: Map[String, String] = Map.empty,
                   gens: Map[String, String] = Map.empty,
                   ids: Map[String, Long] = Map.empty,
                   checks: Seq[TableCheck] = Seq.empty,
                   props: Map[String, String] = Map.empty,
                   content: Option[DataFrame] = None): Int = {
    validateTableShape(spark, schemaDdl, partitionBy, defaults, gens, ids,
      checks, props)
    val ddl = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl).toDDL
    // stage ONCE, outside the CAS-retry loop: a lost race re-publishes
    // the SAME files under the new head instead of re-running the whole
    // distributed write per attempt (file names are nonce-unique; the
    // version prefix in them is cosmetic)
    val stagedAt = currentVersion(spark, root).getOrElse(0) + 1
    val (added, stats, rows) = content match {
      case None => (Seq.empty[String],
        Map.empty[String, Seq[ColStat]], Map.empty[String, Long])
      case Some(df) =>
        // the NEW shape's own write contract: identity assignment,
        // default/generated fill, CHECK enforcement — on declared
        // metadata, independent of whatever the old table carried
        val pre = ids.keySet.filterNot(df.schema.fieldNames.contains)
          .foldLeft(df)((dd, c) => dd.withColumn(c,
            (org.apache.spark.sql.functions.monotonically_increasing_id()
              + org.apache.spark.sql.functions.lit(ids(c))).cast("long")))
        val aligned = alignForAppend(ddl, pre, defaults, gens)
        val a = writeDataFiles(spark, root, aligned, stagedAt, partitionBy)
        enforceChecks(spark, root, checks ++ genChecks(gens, ddl), ddl,
          partitionBy.nonEmpty, Map.empty, a)
        val (st, rw) = addedMeta(spark, root, ddl, a)
        (a, st, rw)
    }
    var attempt = 0
    while (true) {
      val cur = currentVersion(spark, root)
      val v = cur.getOrElse(0) + 1
      val curM = cur.map(readManifest(spark, root, _))
      // identity marks advance past anything the staged content
      // carries (engine-assigned or supplied), like every other commit
      val ids2 = ids.map { case (c, hw) =>
        val hi = stats.values.flatten
          .filter(s => s.col == c && s.typ == "long")
          .flatMap(s => scala.util.Try(s.hi.toLong).toOption)
        c -> (if (hi.isEmpty) hw else math.max(hw, hi.max + 1L))
      }
      val m = Manifest(v, ddl, added, stats = stats,
        partitionCols = partitionBy, rows = rows,
        op = if (cur.isEmpty) "create" else "replace",
        checks = checks, defaults = defaults, gens = gens, ids = ids2,
        props = props)
      try { writeManifest(spark, root, m, curM); return v }
      catch {
        case e: java.io.IOException
            if e.getMessage != null &&
              e.getMessage.contains("already committed") =>
          attempt += 1
          if (attempt > 16) throw new java.io.IOException(
            s"replace lost the commit race 16 times at $root", e)
      }
    }
    -1 // unreachable
  }

  /** Append: new version = previous files + the new rows' files. The
    * incoming schema must match the table schema (same DDL) — the
    * guard a schema-on-write table enforces. A blind append's file
    * footprint is EMPTY, so it rebases across any concurrent commit
    * (the Delta rule: appends conflict with nothing) — data files are
    * staged once and only the manifest publish retries; a concurrent
    * schema/layout change still refuses. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             txn: Option[Long] = None): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    stageAppendCommit(spark, root, readManifest(spark, root, cur), cur, df,
      op = "append", txn = txn)
  }

  /** The ONE append pipeline — identity assignment, default/generated
    * fill, staging, CHECK enforcement, footer lift, rebasing publish —
    * shared by [[append]] and [[copyInto]] so the two faces can never
    * diverge on the write contract. */
  private def stageAppendCommit(spark: SparkSession, root: String,
                                m: Manifest, cur: Int, df: DataFrame,
                                op: String, txn: Option[Long],
                                loads: Seq[String] = Seq.empty,
                                preAssigned: Set[String] = Set.empty): Int = {
    val (dfId, assigned0) = assignIdentity(m, df)
    // identity columns the CALLER already engine-assigned (COPY INTO's
    // JSON coalesce-fill) count as assignments for the rebase walk's
    // allocation-race check
    val assigned = assigned0 ++ preAssigned
    val aligned = alignForAppend(m.schemaDdl, dfId, m.defaults, m.gens)
    val added = writeDataFiles(spark, root, aligned, cur + 1, m.partitionCols,
      m.physMap)
    enforceChecks(spark, root, m.checks ++ genChecks(m.gens, m.schemaDdl),
      m.schemaDdl, m.partitionCols.nonEmpty, m.physMap, added)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      addedFiles = added, addedStats = addedStats, addedRows = addedRows,
      op = op, txn = txn, assignedIds = assigned, loads = loads))
  }

  /** Every source file a LIVE manifest records as ingested — COPY
    * INTO's idempotence ledger. O(history) manifest reads (the cache
    * makes repeats free), zero data scanned. A `replace` commit
    * (CREATE OR REPLACE TABLE) RESETS the ledger: the replaced table
    * is a new incarnation and "nothing carries over from the old
    * shape" includes its ingest history — without the reset, COPY INTO
    * after a replace would silently no-op on files the OLD table
    * loaded and the new one can never receive. */
  def loadedSourceFiles(spark: SparkSession, root: String): Set[String] =
    loadedAsOf(spark, root, Int.MaxValue)

  /** The ledger fold, bounded at `upTo`: a `replace` RESETS state (new
    * incarnation), a `rollback` SETS state to what its manifest carries
    * — [[rollback]] snapshots the TARGET version's cumulative ledger
    * into its own `loads`, so restoring a pre-replace version restores
    * that version's ingest history with it (without this, a COPY INTO
    * after RESTORE would re-ingest files whose rows the restore just
    * brought back — silent duplicates). */
  private def loadedAsOf(spark: SparkSession, root: String,
                         upTo: Int): Set[String] =
    versions(spark, root).takeWhile(_ <= upTo)
      .foldLeft(Set.empty[String]) { (acc, v) =>
        val m = readManifest(spark, root, v)
        m.op match {
          case "replace" | "rollback" => m.loads.toSet
          case _ => acc ++ m.loads
        }
      }

  /** COPY INTO — IDEMPOTENT batch file ingest (the Delta COPY INTO
    * analog): list `srcDir`'s files matching `pattern`, skip every one
    * a live manifest already records as loaded, and append the rest as
    * ONE commit whose manifest carries the ingested-source list.
    * Re-running the same statement is a no-op (returns filesLoaded 0);
    * a partially-overlapping batch loads only its new files; two COPY
    * INTOs racing over shared files refuse in the rebase walk instead
    * of double-loading. Loaded rows go through the table's full append
    * contract (defaults, generated columns, identity assignment, CHECK
    * constraints, layout). The ledger is the union of `loads` over
    * LIVE manifests — expired history forgets its loads, the same
    * retention caveat Delta's COPY INTO state carries: keep retention
    * longer than your slowest ingest replay.
    *
    * FILEFORMAT = PARQUET | CSV | JSON. Parquet sources carry their own
    * schema; CSV/JSON — the formats a real landing zone actually
    * receives (the reference's ingest writes raw blobs to a directory
    * and loaders rescan it, download_landsat_stac.py:157-178,
    * load_to_postgis.py:173-174) — are read SCHEMA-ON-READ against the
    * table's declared schema (CSV positionally in declared column
    * order, JSON by field name), so a malformed value fails the load
    * rather than silently inferring a divergent type per file.
    * `options` forwards reader options (header, delimiter, timestamp
    * formats — Delta's FORMAT_OPTIONS). `pattern` defaults to
    * `*.<format>`. Returns (version, filesLoaded). */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
               pattern: String = "",
               format: String = "parquet",
               force: Boolean = false,
               options: Map[String, String] = Map.empty): (Int, Int) = {
    val fmt = format.toLowerCase
    require(Seq("parquet", "csv", "json").contains(fmt),
      s"COPY INTO supports FILEFORMAT = PARQUET | CSV | JSON (got $format)")
    val pat = if (pattern.nonEmpty) pattern else s"*.$fmt"
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val dir = new Path(srcDir)
    val f = fs(spark, dir)
    val cand = Option(f.globStatus(new Path(dir, pat))).toSeq.flatten
      .filterNot(_.isDirectory)
      .map(_.getPath.toUri.toString).sorted
    // FORCE = re-ingest regardless of the ledger (the deliberate
    // duplicate-load escape hatch, Delta's COPY_OPTIONS force analog);
    // the loaded files still record so a later plain COPY INTO skips
    val fresh =
      if (force) cand
      else cand.filterNot(loadedSourceFiles(spark, root).contains)
    if (fresh.isEmpty) return (cur, 0)
    val m = readManifest(spark, root, cur)
    val src = fmt match {
      case "parquet" => spark.read.options(options).parquet(fresh: _*)
      case _ =>
        // the read schema is the table's USER surface: engine-owned
        // row ids and GENERATED columns are never in a landing file
        // (the append contract computes them). IDENTITY columns split
        // by format: a JSON record MAY carry one (GENERATED BY DEFAULT
        // honors explicit values — read nullable, then per-row
        // coalesce-fill from the high-water mark: null-or-absent →
        // engine-assigned); a positional CSV file never does (leaving
        // it in the schema would shift every column), so CSV excludes
        // it and the append contract assigns. Fields read NULLABLE —
        // CSV/JSON readers cannot prove non-nullness — then each
        // declared NOT NULL column is re-asserted below.
        val declared = org.apache.spark.sql.types.StructType
          .fromDDL(m.schemaDdl)
        val surface = declared.filterNot(fd =>
          fd.name == RowIdCol || m.gens.contains(fd.name) ||
            (fmt == "csv" && m.ids.contains(fd.name)))
        val readable = org.apache.spark.sql.types.StructType(
          surface.map(_.copy(nullable = true)))
        val r = spark.read.options(options)
          .option("mode", options.getOrElse("mode", "FAILFAST"))
          .schema(readable)
        val raw = if (fmt == "csv") r.csv(fresh: _*) else r.json(fresh: _*)
        import org.apache.spark.sql.functions.{coalesce, col, lit,
          monotonically_increasing_id}
        val idFilled =
          if (fmt == "json" && surface.exists(fd => m.ids.contains(fd.name)))
            raw.select(surface.toSeq.map { fd =>
              m.ids.get(fd.name).fold(col(fd.name))(hw =>
                coalesce(col(fd.name),
                  (monotonically_increasing_id() + lit(hw)).cast("long"))
                  .as(fd.name))
            }: _*)
          else raw
        // NOT NULL re-assertion (Delta's COPY INTO shape): the landing
        // read is necessarily nullable, so a declared NOT NULL column
        // gets a runtime null check that also RESTORES the non-null
        // schema — without it alignForAppend would refuse the whole
        // load up front ("would widen non-nullable") even when every
        // value is present
        idFilled.select(surface.toSeq.map { fd =>
          if (fd.nullable) col(fd.name)
          else org.apache.spark.sql.graftbridge.Bridge.toColumn(
            org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
              org.apache.spark.sql.graftbridge.Bridge
                .toExpression(col(fd.name)),
              Seq(s"COPY INTO: declared NOT NULL column ${fd.name} is " +
                "null in a landing file"))).as(fd.name)
        }: _*)
    }
    // the JSON coalesce-fill above ASSIGNS from the identity mark like
    // any engine assignment — record it so the rebase walk's identity
    // allocation-race check stays sound for racing JSON COPY INTOs
    val preAssigned =
      if (fmt == "json") m.ids.keySet.filterNot(c => m.gens.contains(c))
        .filter(c => src.schema.fieldNames.contains(c))
      else Set.empty[String]
    val v = stageAppendCommit(spark, root, m, cur, src,
      op = "copy-into", txn = None, loads = fresh,
      preAssigned = preAssigned)
    (v, fresh.size)
  }

  /** Assign engine values for every IDENTITY column the frame doesn't
    * supply: `high-water + monotonically_increasing_id()` — a pure
    * per-partition expression, no shuffle, no row_number barrier. The
    * values are unique and >= the mark but deliberately SPARSE (each
    * partition allocates from its own 2^33 band — the Delta identity
    * contract guarantees uniqueness and monotonic growth, never
    * density, which is what makes the assignment embarrassingly
    * parallel at 100 TB). The next mark is derived downstream from the
    * staged files' footer stats, not from a second scan. */
  private def assignIdentity(m: Manifest,
                             df: DataFrame): (DataFrame, Set[String]) = {
    val missing = m.ids.keySet.filterNot(df.schema.fieldNames.contains)
    if (missing.isEmpty) (df, Set.empty)
    else {
      import org.apache.spark.sql.functions._
      (missing.foldLeft(df)((d, c) => d.withColumn(c,
        (monotonically_increasing_id() + lit(m.ids(c))).cast("long"))),
        missing)
    }
  }

  /** Overwrite: new version references ONLY the new rows' files (logical
    * truncate-and-load); earlier versions stay readable until expired.
    * `baseVersion` pins the commit to base+1 when the caller derived the
    * new content FROM a snapshot (compact does): a commit landing in
    * between then refuses the publish instead of being silently replaced
    * by a rewrite that never saw it. */
  def overwrite(spark: SparkSession, root: String, df: DataFrame,
                baseVersion: Option[Int] = None,
                op: String = "overwrite"): Int =
    commit(spark, root, df, baseVersion = baseVersion,
      partitionCols = currentVersion(spark, root)
        .map(v => readManifest(spark, root, v).partitionCols)
        .getOrElse(Seq.empty), op = op)

  /** Optimistic-concurrency append — kept as the historical multi-writer
    * entry point, now an alias: [[append]] itself rebases through the
    * disjoint-file taxonomy (an append's footprint is empty, so it
    * composes with any concurrent commit and stages its data files only
    * ONCE — the old retry loop re-staged per attempt). Orphaned data
    * files from lost attempts are unreferenced and swept by [[expire]].
    * Overwrite conflicts still need application-level semantics and
    * deliberately have no retrying variant. */
  def appendCas(spark: SparkSession, root: String, df: DataFrame,
                maxRetries: Int = 16): Int =
    append(spark, root, df)

  /** Idempotent transactional overwrite — for read-merge-write streaming
    * maintenance (a composite/MV table rebuilt per micro-batch from its
    * own previous snapshot + the batch): replaying `txn` is a NO-OP, so
    * a non-idempotent merge (counters, sums) stays exactly-once under
    * checkpoint loss. The [[appendTxn]] ledger, overwrite semantics. */
  def overwriteTxn(spark: SparkSession, root: String, df: DataFrame,
                   txn: Long, partitionBy: Seq[String] = Seq.empty): Int =
    currentVersion(spark, root) match {
      case None =>
        commit(spark, root, df, Some(txn),
          partitionCols = partitionBy, op = "create")
      case Some(cur) =>
        if (committedTxns(spark, root).contains(txn)) cur
        else commit(spark, root, df, Some(txn),
          partitionCols = readManifest(spark, root, cur).partitionCols,
          op = "overwrite")
    }

  /** Idempotent transactional append — the streaming-sink entry point:
    * commit `df` under transaction id `txn` (a micro-batch id), creating
    * the table on first use; if some committed version already carries
    * `txn`, the call is a NO-OP (returns the current version). This is
    * what makes a foreachBatch writer exactly-once under batch REPLAY —
    * checkpoint loss or restart re-delivers a batch, the txn ledger
    * refuses the double-apply. */
  def appendTxn(spark: SparkSession, root: String, df: DataFrame, txn: Long,
                partitionBy: Seq[String] = Seq.empty): Int =
    currentVersion(spark, root) match {
      case None =>
        // first commit fixes the layout (the streaming sink's create path)
        commit(spark, root, df, Some(txn),
          partitionCols = partitionBy, op = "create")
      case Some(cur) =>
        if (committedTxns(spark, root).contains(txn)) cur
        // the rebasing append: a streaming sink's micro-batch no longer
        // fails because a GDPR delete / compaction interleaved (the
        // advertised concurrent deployment); a racing replay of the
        // SAME txn short-circuits to the ledger inside the rebase walk
        else append(spark, root, df, txn = Some(txn))
    }

  /** Snapshot-isolated read of `version` (default: newest). The returned
    * frame is bound to that version's immutable file list — later commits
    * and compactions never change what it reads. */
  def read(spark: SparkSession, root: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    readSnapshotFiles(spark, root, m, m.files)
  }

  /** Version `v`'s manifest file list (table-relative) — the snapshot's
    * identity, exposed for incremental consumers that diff file-sets
    * (the streaming source derives "rows new since offset N" from
    * exactly this, never from row comparisons). */
  def filesOf(spark: SparkSession, root: String,
              version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, v).files
  }

  /** The table schema of `version` (default newest) — the manifest DDL
    * parsed, for callers (the relation provider) that need the schema
    * without reading any data. */
  def schemaOf(spark: SparkSession, root: String,
               version: Option[Int] = None): org.apache.spark.sql.types.StructType = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    org.apache.spark.sql.types.StructType.fromDDL(readManifest(spark, root, v).schemaDdl)
  }

  /** Read an explicit subset of `version`'s manifest-relative file names
    * under the version's schema — the read half of a caller-side pruning
    * decision ([[prunedFiles]] ∩ [[bloomPrunedFiles]]). Names not in the
    * manifest are refused: a subset read must never escape the snapshot. */
  def readSubset(spark: SparkSession, root: String, files: Seq[String],
                 version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    val known = m.files.toSet
    require(files.forall(known.contains),
      s"files not in version $v: ${files.filterNot(known.contains).take(3)}")
    readSnapshotFiles(spark, root, m, files)
  }

  /** Total data bytes of `version` from file lengths — the size estimate
    * the relation provider reports to Catalyst so a SMALL versioned table
    * is eligible for broadcast in joins (the default estimate for an
    * unknown relation is effectively infinite, which forces a shuffle). */
  def tableBytes(spark: SparkSession, root: String,
                 version: Option[Int] = None): Long = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    fileLengths(spark, root, m.files).values.sum
  }

  /** Read `paths` under the MANIFEST's schema (schema-on-read): files
    * written before an [[addColumn]] lack the new column and surface NULL
    * for it — no rewrite, no per-file schema merge pass. Spark's parquet
    * reader resolves the requested schema against each file by name. */
  /** The directory ABOVE the first k=v segment of a partitioned file
    * path — the basePath partition discovery anchors on. Computed from
    * the path itself (not the table root) so a shallow clone, whose
    * manifest references absolute paths into its SOURCE's data dir,
    * resolves partition values identically. */
  private def partitionBaseOf(path: String): String = {
    val parts = path.split('/')
    val i = parts.indexWhere(_.contains("="))
    if (i <= 0) path.substring(0, math.max(0, path.lastIndexOf('/')))
    else parts.take(i).mkString("/")
  }

  /** Internal names for the scan-level metadata columns a DV-aware read
    * threads through (`_metadata` resolves only on the file-source
    * relation, so they must be selected AT the scan, not above it). */
  private val DvFileCol = "__graft_dv_file"
  private val DvPosCol = "__graft_dv_pos"

  private def readPaths(spark: SparkSession, schemaDdl: String,
                        paths: Seq[String],
                        partitioned: Boolean = false,
                        root: String = "",
                        withMeta: Boolean = false,
                        physMap: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.col
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    // column mapping: the SCAN resolves the field's frozen PHYSICAL name
    // (what every data file was written under), then the projection
    // restores the logical name — a rename never touches data files
    val physSchema =
      if (physMap.isEmpty) schema
      else org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        f.copy(name = physMap.getOrElse(f.name, f.name))))
    def toLogical(df: DataFrame): DataFrame =
      if (physMap.isEmpty) df
      else df.select(schema.fields.toSeq.map(f =>
        col(physMap.getOrElse(f.name, f.name)).as(f.name)) ++
        (if (withMeta) Seq(col(DvFileCol), col(DvPosCol)) else Seq.empty): _*)
    val metaCols =
      if (!withMeta) Seq.empty
      else Seq(col("_metadata.file_path").as(DvFileCol),
        col("_metadata.row_index").as(DvPosCol))
    if (paths.isEmpty) {
      val s2 =
        if (!withMeta) schema
        else schema.add(DvFileCol, "string").add(DvPosCol, "bigint")
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s2)
    }
    else if (partitioned) {
      // hive layout: partition-column values resolve from the k=v
      // directory names (basePath anchors the discovery); files are
      // grouped by (partition base, partition-column names in the path)
      // so a snapshot mixing local and cloned-from files — or, after
      // layout EVOLUTION, files written under DIFFERENT layouts beneath
      // one base — still resolves every value (one discovery per
      // layout; mixed layouts in a single discovery would conflict);
      // the final select restores the declared column order, since the
      // scan appends partition columns after the file columns
      // transform layouts add SYNTHETIC `_p_…` dir keys that are not
      // schema columns: admit them to the scan schema as strings (an
      // explicit read schema must name every partition key discovery
      // finds) and project them away per group — each group carries its
      // own extras, so the projection must happen BEFORE the union
      toLogical(paths.groupBy(p => partitionBaseOf(p) -> p.split('/')
          .filter(_.contains("=")).map(_.takeWhile(_ != '=')).mkString(","))
        .toSeq.sortBy(_._1).map { case ((base, keys), ps) =>
        val extras = keys.split(',').filter(_.nonEmpty)
          .filterNot(physSchema.fieldNames.contains)
        val readSchema = extras.foldLeft(physSchema)((s, k) =>
          s.add(k, org.apache.spark.sql.types.StringType))
        spark.read.schema(readSchema).option("basePath", base).parquet(ps: _*)
          .select(physSchema.fieldNames.map(col).toSeq ++ metaCols: _*)
      }.reduce(_ unionByName _))
    }
    else {
      val df = spark.read.schema(physSchema).parquet(paths: _*)
      toLogical(if (!withMeta) df else df.select(col("*") +: metaCols: _*))
    }
  }

  /** Snapshot read of `files` under `m`, APPLYING deletion vectors:
    * DV-free files scan exactly as before (zero overhead on the common
    * path); DV-bearing files scan with `_metadata` row positions and drop
    * their deleted rows through one codegen'd broadcast-membership filter.
    * The broadcast carries only the scanned files' position arrays —
    * bytes ∝ deleted rows of THIS read, the same metadata class as the
    * manifest blooms. */
  private def readSnapshotFiles(spark: SparkSession, root: String, m: Manifest,
                                files: Seq[String],
                                schemaDdl: Option[String] = None,
                                physMap: Option[Map[String, String]] = None): DataFrame = {
    // existence defaults: files recorded as physically LACKING a
    // defaulted column scan in their own group with the literal
    // substituted for the scan's null-fill; files carrying every
    // column — the steady state after rewrites — pay nothing
    val groups = defaultGroups(m, files)
    val parts = groups.map { case (cols, fs) =>
      substituteDefaults(
        readSnapshotFilesRaw(spark, root, m, fs, schemaDdl, physMap),
        m, schemaDdl.getOrElse(m.schemaDdl), cols)
    }
    if (parts.isEmpty)
      readSnapshotFilesRaw(spark, root, m, files, schemaDdl, physMap)
    else parts.reduce(_ unionByName _)
  }

  /** Files needing the same existence-default substitutions, grouped:
    * (columns to substitute — empty for the common no-defaults group,
    * files). */
  private def defaultGroups(m: Manifest,
                            files: Seq[String]): Seq[(Seq[String], Seq[String])] =
    if ((m.defaults.isEmpty && m.gens.isEmpty) || m.noCol.isEmpty)
      if (files.isEmpty) Seq.empty else Seq(Seq.empty[String] -> files)
    else files.groupBy(f =>
        m.noCol.getOrElse(f, Seq.empty).filter(m.fillExprs.contains).sorted)
      .toSeq.sortBy(_._1.mkString(","))

  /** Replace `cols` (scanned as NULL — the files lack them physically)
    * with their fill expressions — DEFAULT literals, or GENERATED
    * expressions over the row's other columns — cast to the schema
    * type. Columns the caller's schema doesn't carry (a pinned
    * historical schema) skip. */
  private def substituteDefaults(df: DataFrame, m: Manifest, ddl: String,
                                 cols: Seq[String]): DataFrame =
    if (cols.isEmpty) df
    else {
      import org.apache.spark.sql.functions.{col, expr}
      val types = org.apache.spark.sql.types.StructType.fromDDL(ddl)
        .fields.map(f => f.name -> f.dataType).toMap
      val subs = cols.filter(c => types.contains(c) &&
        df.schema.fieldNames.contains(c)).toSet
      if (subs.isEmpty) df
      else df.select(df.schema.fieldNames.toSeq.map { c =>
        if (subs.contains(c)) expr(m.fillExprs(c)).cast(types(c)).as(c)
        else col(c)
      }: _*)
    }

  private def readSnapshotFilesRaw(spark: SparkSession, root: String, m: Manifest,
                                   files: Seq[String],
                                   schemaDdl: Option[String] = None,
                                   physMap: Option[Map[String, String]] = None): DataFrame = {
    val ddl = schemaDdl.getOrElse(m.schemaDdl)
    val pm = physMap.getOrElse(m.physMap)
    val (dvd, plain) = files.partition(m.dvs.contains)
    val plainDf = readPaths(spark, ddl, plain.map(f => new Path(root, f).toString),
      m.partitionedRead, root, physMap = pm)
    if (dvd.isEmpty) plainDf
    else plainDf.unionByName(dvSurvivorRows(spark, root, m, ddl, dvd, pm))
  }

  /** Raw scan of `files` under `m`'s schema (NO deletion-vector
    * filtering) with existence defaults substituted — the twin of
    * [[readSnapshotFiles]] for callers that handle vectors themselves
    * (vectored DML passes, CDF diffs, index builders). */
  private def readRawWithDefaults(spark: SparkSession, root: String, m: Manifest,
                                  files: Seq[String], partitioned: Boolean,
                                  withMeta: Boolean = false): DataFrame = {
    val parts = defaultGroups(m, files).map { case (cols, fs) =>
      substituteDefaults(
        readPaths(spark, m.schemaDdl, fs.map(f => new Path(root, f).toString),
          partitioned, root, withMeta = withMeta, physMap = m.physMap),
        m, m.schemaDdl, cols)
    }
    if (parts.isEmpty)
      readPaths(spark, m.schemaDdl, Seq.empty, partitioned, root,
        withMeta = withMeta, physMap = m.physMap)
    else parts.reduce(_ unionByName _)
  }

  /** DV-applied scan of `files` (each carrying a vector in `m`),
    * returning the SURVIVING rows. The membership filter is
    * [[graft.functions.DvDeletedLazyExpr]]: the broadcast holds only
    * sidecar REFERENCES (O(files) driver bytes, not O(deleted rows) —
    * at 100 TB the vectors of a scattered delete total gigabytes the
    * driver must never materialize); executors load and cache exactly
    * the vectors of the files their tasks scan. */
  private def dvSurvivorRows(spark: SparkSession, root: String, m: Manifest,
                             ddl: String, files: Seq[String],
                             physMap: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    import org.apache.spark.sql.graftbridge.Bridge
    val refs = spark.sparkContext.broadcast(
      files.map(f => f -> m.dvs(f).dvFile).toMap)
    val confB = hadoopConfBc(spark)
    val scanned = readPaths(spark, ddl,
      files.sorted.map(f => new Path(root, f).toString),
      m.partitionedRead, root, withMeta = true, physMap = physMap)
    val member = Bridge.toColumn(graft.functions.DvDeletedLazyExpr(
      Bridge.toExpression(col(DvFileCol)),
      Bridge.toExpression(col(DvPosCol)), refs, root, confB))
    scanned.filter(not(member)).drop(DvFileCol, DvPosCol)
  }

  /** ADD COLUMN as a METADATA-ONLY commit (the Iceberg/Delta recipe): the
    * new version carries the same data files with a widened schema; rows
    * from pre-evolution files read as NULL in the new column. At 100 TB
    * this is the difference between an O(1) catalog operation and a
    * full-table rewrite. The new column has no stats anywhere, so it can
    * never mis-prune; earlier versions time-travel to the old schema.
    * Rename/drop are [[renameColumn]]/[[dropColumn]] — metadata-only
    * through the field-id column mapping. */
  def addColumn(spark: SparkSession, root: String, name: String,
                sqlType: String, default: Option[String] = None): Int =
    commitMetaTransform(spark, root, { m =>
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
      s"column $name already exists")
    val widened = schema.add(name, sqlType, nullable = true)
    // DEFAULT (the Iceberg-v3 initial+write default recipe, still
    // metadata-only): rows in files that PREDATE the column read the
    // default instead of NULL — the manifest records, per existing
    // file, that it physically lacks the column, and the scan
    // substitutes the literal for exactly those files. Rewrites
    // (compact/zorder) materialize the value and drop the record;
    // appends missing the column fill it at write time (alignForAppend),
    // so no new file ever needs an entry. The literal must be constant
    // and cast to the column type — checked here, not at every scan.
    default.foreach { d =>
      val frame = spark.range(1).select(org.apache.spark.sql.functions
        .expr(s"CAST(($d) AS $sqlType)").as(name))
      val resolved = frame.queryExecution.analyzed.expressions.head
      require(resolved.deterministic && resolved.references.isEmpty,
        s"default for $name must be a deterministic constant: $d")
      requireTimeIndependent(resolved, s"default for $name", d)
      frame.collect() // one driver-side eval proves it computes and casts
    }
    val defaults2 = default.fold(m.defaults)(d => m.defaults + (name -> d))
    val noCol2 =
      if (default.isEmpty) m.noCol
      else m.files.map(f => f -> (m.noCol.getOrElse(f, Seq.empty) :+ name)).toMap
    val v = m.version + 1
    val (cm2, maxCid2) = extendColMap(m, name)
    Manifest(v, widened.toDDL, m.files,
      stats = m.stats, blooms = m.blooms, partitionCols = m.partitionCols,
      hlls = m.hlls, dvs = m.dvs, rows = m.rows, op = "add-column",
      colMap = cm2, maxCid = maxCid2, checks = m.checks,
      defaults = defaults2, noCol = noCol2, gens = m.gens, ids = m.ids,
      props = m.props)
  })

  /** ADD a GENERATED column — `GENERATED ALWAYS AS (expr)` — as a
    * METADATA-ONLY commit. The expression is a deterministic SQL
    * expression over the row's OTHER columns; its contract is enforced
    * end to end:
    *
    *  - EXISTING files (which physically lack the column) compute the
    *    expression at READ, through the same per-file substitution
    *    machinery as column DEFAULTS — so the add is O(1) I/O and every
    *    historical row is immediately consistent.
    *  - APPENDS that don't supply the column compute it at WRITE
    *    ([[alignForAppend]], after null-fill/defaults so the expression
    *    sees every source); rewrites (compact/zorder) materialize it.
    *  - EVERY row-adding writer validates its staged files against the
    *    null-safe synthetic check `g <=> CAST(expr AS type)` and refuses
    *    atomically on divergence — a supplied value can never contradict
    *    the expression ([[genChecks]]).
    *  - [[updateWhereVectored]] RECOMPUTES generated columns not
    *    explicitly SET, over the post-SET row.
    *  - Renaming/dropping/widening a SOURCE column refuses (the
    *    expression is name-keyed text, like CHECKs); dropping the
    *    generated column itself removes the contract.
    *
    * The expression must not reference another generated or defaulted
    * column: read-time substitution evaluates all fills in ONE select
    * over the raw scan, so a chained reference would see the raw NULL,
    * not the substituted value — refused here, once, instead of
    * corrupting quietly at every scan.
    *
    * At 100 TB the payoff is the same as Delta's generated columns:
    * derived columns (event dates from timestamps, normalized keys)
    * stay consistent by construction, with zero backfill cost. */
  def addGeneratedColumn(spark: SparkSession, root: String, name: String,
                         sqlType: String, genExpr: String): Int =
    commitMetaTransform(spark, root, { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists")
      val refs = checkRefs(spark, genExpr)
      val missing = refs.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"generated column $name references unknown column(s): " +
          missing.mkString(", "))
      val chained = refs.filter(m.fillExprs.contains)
      require(chained.isEmpty,
        s"generated column $name must not reference generated/defaulted " +
          s"column(s) ${chained.mkString(", ")}: read-time substitution " +
          "evaluates fills in one pass and would see the raw NULL")
      // the expression must analyze, cast to the declared type, and be
      // deterministic — proven once here against the table schema, not
      // discovered at every scan
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        .select(org.apache.spark.sql.functions
          .expr(s"CAST(($genExpr) AS $sqlType)").as(name))
      val resolved = probe.queryExecution.analyzed.expressions.head
      require(resolved.deterministic,
        s"generated column $name needs a deterministic expression: $genExpr")
      requireTimeIndependent(resolved, s"generated column $name", genExpr)
      val widened = schema.add(name, sqlType, nullable = true)
      val noCol2 =
        m.files.map(f => f -> (m.noCol.getOrElse(f, Seq.empty) :+ name)).toMap
      val (cm2, maxCid2) = extendColMap(m, name)
      Manifest(m.version + 1, widened.toDDL, m.files,
        stats = m.stats, blooms = m.blooms, partitionCols = m.partitionCols,
        hlls = m.hlls, dvs = m.dvs, rows = m.rows, op = "add-generated",
        colMap = cm2, maxCid = maxCid2, checks = m.checks,
        defaults = m.defaults, noCol = noCol2,
        // ids/props carried explicitly: this construction once dropped
        // `ids`, silently resetting identity high-waters on add-generated
        gens = m.gens + (name -> genExpr), ids = m.ids, props = m.props)
    })

  /** The table's generated columns (name → expression) at the current
    * version — the inspection face of [[addGeneratedColumn]]. */
  def generatedOf(spark: SparkSession, root: String): Map[String, String] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, cur).gens
  }

  /** ADD an IDENTITY column — `GENERATED BY DEFAULT AS IDENTITY
    * (START WITH start)` — as a METADATA-ONLY commit. A BIGINT surrogate
    * key the engine assigns for appends that don't supply it
    * ([[assignIdentity]]): unique, >= the manifest's high-water mark,
    * sparse (per-partition bands — no shuffle, no global row_number).
    * The mark auto-advances in EVERY commit past the largest value the
    * new files' footer stats carry, so round-tripped values (a merge
    * writing back rows it read) can never collide with later
    * assignment; two appends that both ENGINE-ASSIGNED from one mark
    * refuse each other in the rebase walk and the loser re-runs.
    * Rollback keeps the mark monotonic (history is never re-allocated).
    * Rows in files predating the column read NULL — the backfill, if
    * wanted, is an explicit UPDATE, not a hidden rewrite. */
  def addIdentityColumn(spark: SparkSession, root: String, name: String,
                        start: Long = 1L): Int =
    commitMetaTransform(spark, root, { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
        s"column $name already exists")
      val widened = schema.add(name, "bigint", nullable = true)
      val (cm2, maxCid2) = extendColMap(m, name)
      Manifest(m.version + 1, widened.toDDL, m.files,
        stats = m.stats, blooms = m.blooms, partitionCols = m.partitionCols,
        hlls = m.hlls, dvs = m.dvs, rows = m.rows, op = "add-identity",
        colMap = cm2, maxCid = maxCid2, checks = m.checks,
        defaults = m.defaults, noCol = m.noCol, gens = m.gens,
        ids = m.ids + (name -> start), props = m.props)
    })

  /** The table's identity columns (name → next value to assign) at the
    * current version — the inspection face of [[addIdentityColumn]]. */
  def identityOf(spark: SparkSession, root: String): Map[String, Long] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, cur).ids
  }

  /** SET a table property as a METADATA-ONLY commit — the Delta/Iceberg
    * tblproperties analog, carried self-contained in every manifest.
    * Engine-interpreted keys validate here: [[PropClusterBy]] must name
    * live non-partition columns; [[PropRowTracking]] refuses (it rides
    * the [[enableRowTracking]] machinery — the marker without the id
    * contract would claim tracking the writers can't honor). */
  def setTableProperty(spark: SparkSession, root: String, key: String,
                       value: String): Int =
    setTableProperties(spark, root, Seq(key -> value))

  /** SET several properties in ONE metadata commit — single-statement
    * atomicity for the multi-pair TBLPROPERTIES SQL form: either every
    * pair validates and lands together, or nothing commits (a refusal
    * mid-list must never leave the statement half-applied). */
  def setTableProperties(spark: SparkSession, root: String,
                         pairs: Seq[(String, String)]): Int = {
    require(pairs.nonEmpty, "no properties to set")
    commitMetaTransform(spark, root, { m =>
      pairs.foreach { case (key, value) => validateProp(m, key, value) }
      val keys = pairs.map(_._1).mkString(",")
      m.copy(version = m.version + 1, op = s"set-property:$keys",
        props = m.props ++ pairs, txn = None)
    })
  }

  private def validateProp(m: Manifest, key: String, value: String): Unit = {
    require(key.trim.nonEmpty, "property key must be non-empty")
    require(key != PropRowTracking,
      s"$PropRowTracking is engine-managed: use enableRowTracking " +
        "(it adds the id column, contract and backfill together)")
    if (key == PropClusterBy) {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val cols = value.split(",").map(_.trim).filter(_.nonEmpty)
      require(cols.nonEmpty, s"$PropClusterBy needs at least one column")
      val missing = cols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"$PropClusterBy names unknown column(s): ${missing.mkString(", ")}")
      val parts = m.partitionCols.map(Layout.parse(_).source).toSet
      val overlap = cols.filter(parts.contains)
      require(overlap.isEmpty,
        s"$PropClusterBy must not repeat partition column(s): " +
          s"${overlap.mkString(", ")} — the hive layout already " +
          "co-locates them")
    }
    if (key == PropClusterCurve)
      require(value == "morton" || value == "hilbert" || value == "lex",
        s"unknown $PropClusterCurve '$value' (morton | hilbert | lex)")
  }

  /** UNSET a table property (metadata-only; unknown keys are a no-op
    * refusal so a typo never silently "succeeds"). Unsetting
    * [[PropRowTracking]] stops id preservation but keeps the column —
    * dropColumn(_row_id) removes both. */
  def unsetTableProperty(spark: SparkSession, root: String,
                         key: String): Int =
    unsetTableProperties(spark, root, Seq(key))

  /** UNSET several properties in ONE metadata commit — same
    * single-statement atomicity as [[setTableProperties]]; any unknown
    * key refuses the whole list (a typo never silently "succeeds"). */
  def unsetTableProperties(spark: SparkSession, root: String,
                           keys: Seq[String]): Int = {
    require(keys.nonEmpty, "no properties to unset")
    commitMetaTransform(spark, root, { m =>
      val missing = keys.filterNot(m.props.contains)
      require(missing.isEmpty,
        s"no property ${missing.mkString(", ")} on this table")
      m.copy(version = m.version + 1,
        op = s"unset-property:${keys.mkString(",")}",
        props = m.props -- keys, txn = None)
    })
  }

  /** DESCRIBE DETAIL — the one-row operational summary (Delta's
    * describe detail analog), from the manifest + one file listing:
    * current version, live file count and bytes, exact live rows
    * (DV-aware via [[metaRowCount]]), the partition layout, recorded
    * clustering keys/curve, row-tracking state, and the contract counts
    * (checks/defaults/gens/ids/props). Zero data scanned. */
  def detailOf(spark: SparkSession, root: String)
      : (Int, Long, Long, Long, String, String, String, Boolean,
         Int, Int, Int, Int, Int) = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val bytes = fileLengths(spark, root, m.files).values.sum
    (cur, m.files.size.toLong, bytes,
      metaRowCount(spark, root).getOrElse(-1L),
      m.partitionCols.mkString(","),
      m.props.getOrElse(PropClusterBy, ""),
      m.props.getOrElse(PropClusterCurve, ""),
      m.props.get(PropRowTracking).contains("true"),
      m.checks.size, m.defaults.size, m.gens.size, m.ids.size,
      m.props.size)
  }

  /** SHOW CREATE TABLE: the statement script that re-creates the
    * table's current SHAPE (schema, column contracts, layout,
    * constraints, clustering, properties — not the data): one
    * `CREATE TABLE '<path>' (…)` in the exact grammar
    * [[graft.plans.GraftSqlParser]] accepts, followed by the ALTER/CALL
    * statements for the pieces that are separate faces (clustering
    * keys, user properties, row tracking). Every emitted line is
    * EXECUTABLE against a fresh path — the round trip is the spec.
    * Identity columns emit `START WITH <next>` from the live
    * high-water mark, so a re-created table continues the sequence
    * rather than re-allocating history. */
  def showCreate(spark: SparkSession, root: String): Seq[String] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val colDefs = schema.fields.toSeq
      .filterNot(_.name == RowIdCol) // engine-owned; rides row tracking
      .map { f =>
        val nn = if (f.nullable) "" else " NOT NULL"
        val base = s"${f.name} ${f.dataType.sql}$nn"
        m.ids.get(f.name) match {
          case Some(next) =>
            s"$base GENERATED BY DEFAULT AS IDENTITY (START WITH $next)"
          case None => m.gens.get(f.name) match {
            case Some(e) => s"$base GENERATED ALWAYS AS ($e)"
            case None =>
              val dflt = m.defaults.get(f.name)
                .map(d => s" DEFAULT $d").getOrElse("")
              s"$base$dflt"
          }
        }
      } ++ m.checks.map(c => s"CONSTRAINT ${c.name} CHECK (${c.expr})")
    val part =
      if (m.partitionCols.isEmpty) ""
      else s" PARTITIONED BY (${m.partitionCols.mkString(", ")})"
    val createStmt =
      s"CREATE TABLE '$root' (${colDefs.mkString(", ")})$part"
    val cluster = m.props.get(PropClusterBy).map(ks =>
      s"ALTER TABLE '$root' CLUSTER BY ($ks)")
    val tracking = m.props.get(PropRowTracking).filter(_ == "true")
      .map(_ => s"CALL graft.enable_row_tracking('$root')")
    val userProps = (m.props -
      PropClusterBy - PropClusterCurve - PropRowTracking).toSeq.sorted
    val propsStmt =
      if (userProps.isEmpty) None
      else Some(s"ALTER TABLE '$root' SET TBLPROPERTIES (" +
        userProps.map { case (k, v) => s"'$k' = '$v'" }.mkString(", ") + ")")
    Seq(createStmt) ++ cluster ++ propsStmt ++ tracking
  }

  /** PER-COMMIT operation metrics (Delta's `operationMetrics` analog),
    * from manifest pairs alone — zero data scanned: for each version,
    * the files it added/removed with their recorded row counts, and
    * the deletion-vector growth on carried files (merge-on-read DMLs
    * delete rows without touching files). A compaction reports equal
    * rows added and removed (net zero — the op column tells the
    * story); counts are −1 (unknown) when a manifest predates per-file
    * row recording. Tuple: (version, op, files_added, files_removed,
    * rows_added, rows_removed, dv_rows_deleted). */
  def operationMetrics(spark: SparkSession, root: String)
      : Seq[(Int, String, Long, Long, Long, Long, Long)] = {
    val vs = versions(spark, root)
    val live = vs.toSet
    vs.map { v =>
      val m = readManifest(spark, root, v)
      // a version whose DIRECT predecessor was expired has no sound
      // diff base — report unknown (−1) rather than lie (the surviving
      // ancestor would net a multi-commit span under one op label);
      // v == 1 is the true genesis (everything added against nothing)
      if (v > 1 && !live.contains(v - 1))
        (v, m.op, -1L, -1L, -1L, -1L, -1L)
      else {
      val prev: Option[Manifest] =
        if (v == 1) None else Some(readManifest(spark, root, v - 1))
      val prevFiles = prev.map(_.files.toSet).getOrElse(Set.empty)
      val added = m.files.filterNot(prevFiles)
      val removed = prev.map(_.files.filterNot(m.files.toSet))
        .getOrElse(Seq.empty)
      def rowsOf(mm: Manifest, fs: Seq[String]): Long =
        if (!fs.forall(mm.rows.contains)) -1L
        else fs.map(f => mm.rows(f) -
          mm.dvs.get(f).map(_.card).getOrElse(0L)).sum
      val rowsAdded = rowsOf(m, added)
      val rowsRemoved = prev.map(p => rowsOf(p, removed)).getOrElse(0L)
      // DV growth on files BOTH versions reference = rows this commit
      // vectored away in place
      val dvDelta = prev.map { p =>
        m.files.filter(prevFiles).map { f =>
          math.max(0L, m.dvs.get(f).map(_.card).getOrElse(0L) -
            p.dvs.get(f).map(_.card).getOrElse(0L))
        }.sum
      }.getOrElse(0L)
      (v, m.op, added.size.toLong, removed.size.toLong,
        rowsAdded, rowsRemoved, dvDelta)
      }
    }
  }

  /** PER-PARTITION operational stats (the Iceberg `partitions` metadata
    * table analog) from the manifest + one file listing, zero data
    * scanned: each live file groups under the k=v directory chain it
    * was written into ("" = the unpartitioned root — a table whose
    * layout evolved reports both generations honestly), with file
    * count, live rows (DV-aware; -1 when a file predates row counts)
    * and bytes. The operational answer to "which partition is the
    * small-file spray / the skew" that [[compactWhere]] then fixes. */
  def partitionsOf(spark: SparkSession, root: String)
      : Seq[(String, Long, Long, Long)] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val lens = fileLengths(spark, root, m.files)
    m.files.groupBy { rel =>
      rel.split('/').init.filter(_.contains('=')).mkString("/")
    }.map { case (part, files) =>
      val rows =
        if (!files.forall(m.rows.contains)) -1L
        else files.map(fl => m.rows(fl) -
          m.dvs.get(fl).map(_.card).getOrElse(0L)).sum
      (part, files.size.toLong, rows, files.map(lens).sum)
    }.toSeq.sortBy(_._1)
  }

  /** Per-file inventory of the current version — the Iceberg `files`
    * metadata-table analog (`CALL graft.files`), answered from the
    * manifest + ONE recursive listing, zero data scanned: (file,
    * partition, rows, live_rows, bytes, dv_card, bloom-indexed columns,
    * HLL-register columns). `rows`/`live_rows` are −1 when a manifest
    * predating the rows field can't answer. The inspection face q226/
    * q202 consumers otherwise hand-roll; at 100 TB this is O(files)
    * driver metadata feeding compaction/clustering decisions. */
  def filesReport(spark: SparkSession, root: String)
      : Seq[(String, String, Long, Long, Long, Long, String, String)] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val lens = fileLengths(spark, root, m.files)
    m.files.map { f =>
      val part = f.split('/').init.filter(_.contains('=')).mkString("/")
      val rows = m.rows.getOrElse(f, -1L)
      val dv = m.dvs.get(f).map(_.card).getOrElse(0L)
      (f, part, rows, if (rows < 0) -1L else rows - dv, lens(f), dv,
        m.blooms.getOrElse(f, Seq.empty).map(_.col).sorted.mkString(","),
        m.hlls.getOrElse(f, Seq.empty).map(_.col).sorted.mkString(","))
    }.sortBy(_._1)
  }

  /** Per-(file, column) recorded stats of the current version (`CALL
    * graft.file_stats`): stat domain `typ`, [lo, hi] canonical strings,
    * null count (−1 = unknown), whether the stat is DV-SURVIVOR-exact
    * (`live`), and the exact column sum where indexed. `column` filters
    * to one column when non-empty. Manifest-only — zero scan. */
  def fileColumnStats(spark: SparkSession, root: String,
                      column: Option[String] = None)
      : Seq[(String, String, String, String, String, Long, Boolean, Option[Long])] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    m.files.flatMap { f =>
      m.stats.getOrElse(f, Seq.empty)
        .filter(st => column.forall(_ == st.col))
        .map(st => (f, st.col, st.typ, st.lo, st.hi, st.nulls, st.live,
          st.sum))
    }.sortBy(r => (r._1, r._2))
  }

  /** The table's properties at the current version — the inspection
    * face of [[setTableProperty]]. */
  def propertiesOf(spark: SparkSession, root: String): Map[String, String] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, cur).props
  }

  /** Record the table's CLUSTERING KEYS ([[PropClusterBy]]) — the
    * declarative face of [[zorderBy]]: a fresh session (or a scheduled
    * [[compact]]) reads the property and lays data out along these keys
    * without the caller re-stating them. zorderBy records its columns
    * here automatically; compact honors them as its default order. */
  def setClusteringKeys(spark: SparkSession, root: String,
                        cols: Seq[String]): Int =
    setTableProperty(spark, root, PropClusterBy, cols.mkString(","))

  /** The recorded clustering keys, empty when the table has none. */
  def clusteringKeysOf(spark: SparkSession, root: String): Seq[String] =
    propertiesOf(spark, root).get(PropClusterBy)
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)

  /** ENABLE ROW TRACKING — stable per-row ids that survive every
    * rewrite, the Delta row-tracking / Iceberg-v3 row-lineage analog,
    * MATERIALIZED as an engine-owned BIGINT column [[RowIdCol]] instead
    * of a read-time base-id+ordinal derivation (the id must survive
    * arbitrary file rewrites, so it has to travel WITH the row):
    *
    *  - Commit 1 (metadata): add `_row_id` + its identity contract +
    *    the [[PropRowTracking]] marker. Appends from then on
    *    engine-assign ids ([[assignIdentity]] — per-partition bands, no
    *    shuffle, unique forever via the monotonic high-water mark).
    *  - Commit 2 (backfill, only if live files predate the column):
    *    rewrite exactly those files with ids assigned — the same
    *    one-time cost Delta's enable pays. A table created empty (or
    *    enabled before first append) backfills nothing.
    *  - CoW rewrites (compact/zorder/update/deleteWhere survivors)
    *    carry the column physically — stability is free.
    *  - [[mergeIntoVectored]] / [[applyChanges]] PRESERVE the id for
    *    matched keys (one extra key-pruned lookup join) and assign
    *    fresh ids to inserts; [[replaceWhere]]/overwrite content is new
    *    rows, so new ids — replace is delete+insert by definition.
    *
    * CDF consumers ([[tableChanges]]) see `_row_id` like any column, so
    * an update pairs its delete/insert images by id across versions —
    * the "track a row across updates" contract. At 100 TB the backfill
    * is the only full-rewrite; steady-state cost is one BIGINT column
    * and the merge-side lookup join over the key-pruned slice. */
  def enableRowTracking(spark: SparkSession, root: String): Int = {
    commitMetaTransform(spark, root, { m =>
      // validation lives INSIDE the transform: commitMetaTransform
      // re-applies the lambda on a lost CAS, and a loser re-applying
      // over the winner's manifest must REFUSE here — not append a
      // duplicate _row_id field and reset the id high-water
      require(!m.props.get(PropRowTracking).contains("true"),
        s"row tracking is already enabled at $root")
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(!schema.fieldNames.contains(RowIdCol),
        s"column $RowIdCol already exists: drop or rename it first — " +
          "the engine owns that name under row tracking")
      val widened = schema.add(RowIdCol, "bigint", nullable = true)
      val (cm2, maxCid2) = extendColMap(m, RowIdCol)
      Manifest(m.version + 1, widened.toDDL, m.files,
        stats = m.stats, blooms = m.blooms, partitionCols = m.partitionCols,
        hlls = m.hlls, dvs = m.dvs, rows = m.rows, op = "enable-row-tracking",
        colMap = cm2, maxCid = maxCid2, checks = m.checks,
        defaults = m.defaults,
        noCol = m.files.map(f =>
          f -> (m.noCol.getOrElse(f, Seq.empty) :+ RowIdCol)).toMap,
        gens = m.gens, ids = m.ids + (RowIdCol -> 1L),
        props = m.props + (PropRowTracking -> "true"))
    })
    backfillRowIds(spark, root)
  }

  /** Rewrite exactly the live files that PREDATE [[RowIdCol]] (the
    * manifest's noCol records them), assigning ids — [[enableRowTracking]]'s
    * commit 2, public so an interrupted enable can resume. No-op when
    * every file carries the column. */
  def backfillRowIds(spark: SparkSession, root: String): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    require(m.ids.contains(RowIdCol),
      s"row tracking is not enabled at $root")
    val lacking = m.files.filter(m.noCol.getOrElse(_, Seq.empty)
      .contains(RowIdCol))
    if (lacking.isEmpty) return cur
    import org.apache.spark.sql.functions.{col, monotonically_increasing_id, lit}
    val v = cur + 1
    val filled = readSnapshotFiles(spark, root, m, lacking)
      .withColumn(RowIdCol,
        (monotonically_increasing_id() + lit(m.ids(RowIdCol))).cast("long"))
    val added = writeDataFiles(spark, root, filled, v, m.partitionCols,
      m.physMap)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = lacking.toSet, addedFiles = added,
      addedStats = addedStats, addedRows = addedRows,
      op = "backfill-row-ids", assignedIds = Set(RowIdCol)))
  }

  /** The widening lattice: conversions the parquet vectorized reader
    * performs losslessly per file, so a type change needs NO rewrite
    * (verified against Spark 4.1: int32→int64/double, float→double,
    * decimal precision-up at fixed scale — the Iceberg v3 type-promotion
    * set). Everything else — narrowing, scale changes, string↔numeric —
    * refuses: a metadata-only commit must never reinterpret bytes. */
  private def canWiden(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** ALTER COLUMN TYPE as a METADATA-ONLY commit (the Iceberg v3
    * type-promotion / Delta type-widening recipe): the new version
    * carries the same data files with the column's declared type
    * widened; each file keeps its written physical type and the scan
    * upcasts per file — int32 files and int64 files coexist under one
    * BIGINT schema. Only lossless promotions are legal ([[canWiden]]).
    *
    * What survives: footer stats (int and long share the "long" stat
    * domain, float and double the "double" one, a fixed-scale decimal
    * its unscaled-long domain), attached sums (same domains), bloom/HLL
    * indexes for integral and decimal columns (they hash the string
    * rendering, identical across the widen). What drops: float→double
    * blooms/HLLs (float and double renderings of one value differ, and
    * a wrong bloom miss would prune a matching file). What refuses: a
    * `bucket(n, col)` layout source (xxhash64 of int ≠ xxhash64 of the
    * same value as long, so old directory assignments would contradict
    * post-widen probe hashing).
    *
    * At 100 TB: promoting an overflowing INT key to BIGINT is one JSON
    * commit instead of a full-table rewrite — the exact schema-debt
    * story type widening exists for. */
  def alterColumnType(spark: SparkSession, root: String, name: String,
                      newSqlType: String): Int =
    commitMetaTransform(spark, root, { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(schema.fieldNames.contains(name), s"no column $name")
      val from = schema(name).dataType
      val to = org.apache.spark.sql.types.StructType
        .fromDDL(s"`$name` $newSqlType").head.dataType
      require(canWiden(from, to),
        s"cannot alter $name from ${from.simpleString} to ${to.simpleString}: " +
          "only lossless widening (tinyint/smallint/int→bigint/double, " +
          "float→double, decimal precision-up at fixed scale) is " +
          "metadata-only; anything else needs a rewrite into a new table")
      m.partitionCols.map(Layout.parse).foreach {
        case b: Layout.Bucket if b.source == name =>
          throw new IllegalArgumentException(
            s"cannot widen $name: it is the source of layout entry $b, " +
              "and the bucket hash is type-dependent — existing directory " +
              "assignments would no longer match probe hashing")
        case _ => ()
      }
      // a generated expression's result type can shift with a widened
      // input (int sum → bigint sum), silently failing every write's
      // g <=> expr validation — refuse, like checks on rename/drop
      (m.gens.filter { case (_, e) => checkRefs(spark, e).contains(name) }
        .keys ++ m.gens.keys.filter(_ == name))
        .foreach(g => throw new IllegalArgumentException(
          s"cannot widen $name: generated column $g (${m.gens(g)}) " +
            "depends on it; drop the generated column first"))
      val ns = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      // float→double: the string-rendering hash domain shifts, so the
      // column's blooms/HLLs come off (absent index = never pruned,
      // always safe); integral and decimal renderings are identical
      val dropIdx = from == org.apache.spark.sql.types.FloatType
      Manifest(m.version + 1, ns.toDDL, m.files,
        stats = m.stats,
        blooms = if (dropIdx) m.blooms.view.mapValues(
          _.filterNot(_.col == name)).toMap else m.blooms,
        partitionCols = m.partitionCols,
        hlls = if (dropIdx) m.hlls.view.mapValues(
          _.filterNot(_.col == name)).toMap else m.hlls,
        dvs = m.dvs, rows = m.rows, op = "widen-column",
        colMap = m.colMap, maxCid = m.maxCid, checks = m.checks,
        defaults = m.defaults, noCol = m.noCol, gens = m.gens, ids = m.ids,
        props = m.props)
    })

  /** ADD CONSTRAINT: a named CHECK every row of the table must satisfy
    * (SQL semantics: NULL passes, only FALSE violates), stored in the
    * manifest so it time-travels and rolls back with the snapshot.
    * EXISTING data is validated first, INSIDE the commit-retry
    * transform — a violating append racing the validation scan forces a
    * retry that re-validates against the new head, so a published
    * constraint is never already broken. Every subsequent row-adding
    * writer (append, overwrite, merge, update) validates its STAGED
    * files against the table's checks and refuses the commit on the
    * first violation. */
  def addConstraint(spark: SparkSession, root: String, name: String,
                    sqlExpr: String): Int = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_'), s"bad constraint name $name")
    commitMetaTransform(spark, root, { m =>
      require(!m.checks.exists(_.name == name),
        s"constraint $name already exists")
      val check = TableCheck(name, sqlExpr)
      // validate the expression parses + existing data satisfies it;
      // runs per retry against the handed head, so the scan cannot
      // straddle a racing violating write
      val snap = readSnapshotFiles(spark, root, m, m.files)
      val bad = violations(snap, check).limit(1).collect()
      require(bad.isEmpty,
        s"cannot add constraint $name (${check.expr}): existing rows " +
          s"violate it, e.g. ${bad.headOption.getOrElse("")}")
      // txn = None: carrying the head's txn id would duplicate it in
      // the idempotence ledger (filesAddedByTxn would resolve to this
      // metadata commit instead of the true append)
      m.copy(version = m.version + 1, op = "add-constraint",
        checks = m.checks :+ check, txn = None)
    })
  }

  /** ALTER COLUMN (SET | DROP) NOT NULL. Loosening is pure metadata.
    * TIGHTENING must prove no live NULL exists — and proves it from the
    * manifest when it can: a file whose footer recorded ZERO nulls for
    * the column needs no read (at 100 TB, a freshly-ingested,
    * well-formed column tightens without touching a byte); only files
    * lacking that proof (no stat, unknown null count, or a recorded
    * null that a deletion vector may since have hidden) are scanned,
    * DV-aware, for a surviving NULL. Runs inside the commit retry like
    * [[addConstraint]], so a racing null-bearing append forces
    * re-validation against the new head; conversely an append staged
    * under the still-nullable schema refuses in ITS rebase walk (the
    * DDL string changed). Subsequent appends must declare the column
    * non-nullable ([[alignForAppend]]'s existing rule) and can no
    * longer omit it. */
  def alterColumnNullability(spark: SparkSession, root: String,
                             name: String, nullable: Boolean): Int =
    commitMetaTransform(spark, root, { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      require(schema.fieldNames.contains(name), s"no column $name")
      val field = schema(name)
      require(field.nullable != nullable,
        s"column $name is already ${if (nullable) "nullable" else "NOT NULL"}")
      if (!nullable) {
        // a write DEFAULT that evaluates to NULL would let every later
        // column-omitting append violate the tighten — refuse now, once
        m.defaults.get(name).foreach { d =>
          val v = spark.range(1).select(org.apache.spark.sql.functions
            .expr(s"CAST(($d) AS ${field.dataType.catalogString})")).head()
          require(!v.isNullAt(0),
            s"cannot set $name NOT NULL: its write DEFAULT ($d) " +
              "evaluates to NULL; drop or change the default first")
        }
        // the zero-scan proof: a recorded null count of exactly 0 —
        // footer-exact for plain files, survivor-exact ('live' stats)
        // for vectored ones. Files without it (no stat for the column,
        // unknown null count, or a column the file physically lacks)
        // fall to the read below, which sees substituted fills and
        // deletion vectors exactly as a query would.
        val unproven = m.files.filterNot { f =>
          m.stats.getOrElse(f, Seq.empty).find(_.col == name)
            .exists(_.nulls == 0L)
        }
        if (unproven.nonEmpty) {
          val bad = readSnapshotFiles(spark, root, m, unproven)
            .filter(org.apache.spark.sql.functions.col(name).isNull)
            .limit(1).collect()
          require(bad.isEmpty,
            s"cannot set $name NOT NULL: live rows hold NULL, " +
              s"e.g. ${bad.headOption.getOrElse("")}")
        }
      }
      val ns = org.apache.spark.sql.types.StructType(schema.fields.map(f =>
        if (f.name == name) f.copy(nullable = nullable) else f))
      m.copy(version = m.version + 1, schemaDdl = ns.toDDL,
        op = if (nullable) "drop-not-null" else "set-not-null", txn = None)
    })

  /** DROP CONSTRAINT — metadata-only. */
  def dropConstraint(spark: SparkSession, root: String, name: String): Int =
    commitMetaTransform(spark, root, { m =>
      require(m.checks.exists(_.name == name), s"no constraint $name")
      m.copy(version = m.version + 1, op = "drop-constraint",
        checks = m.checks.filterNot(_.name == name), txn = None)
    })

  /** `version`'s CHECK constraints (default newest). */
  def constraintsOf(spark: SparkSession, root: String,
                    version: Option[Int] = None): Seq[TableCheck] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, v).checks
  }

  /** Rows of `df` violating `check` — SQL CHECK semantics: a NULL
    * evaluation PASSES, only literal FALSE violates. */
  private def violations(df: DataFrame, check: TableCheck): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    df.filter(not(coalesce(expr(check.expr), lit(true))))
  }

  /** GENERATED columns as synthetic CHECKs over staged rows: every
    * row-adding writer validates `g <=> CAST(expr AS type)` — null-safe,
    * so (unlike user CHECKs) a NULL mismatch still violates. One
    * mechanism guarantees a generated column can never diverge from its
    * expression no matter which writer (append computes it when absent;
    * overwrite/merge/update must supply it consistently or refuse). */
  private def genChecks(gens: Map[String, String],
                        ddl: String): Seq[TableCheck] =
    if (gens.isEmpty) Seq.empty
    else {
      val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
      val fields = schema.fields.map(f => f.name -> f).toMap
      gens.toSeq.sortBy(_._1).flatMap { case (g, e) =>
        fields.get(g).toSeq.flatMap { f =>
          val t = f.dataType.catalogString
          // a NOT NULL generated column also rejects a NULL expression
          // result: the null-safe <=> alone would pass both-null, and
          // nothing downstream re-checks declared nullability
          TableCheck(s"generated:$g", s"`$g` <=> CAST(($e) AS $t)") +:
            (if (f.nullable) Seq.empty
             else Seq(TableCheck(s"notnull:$g", s"`$g` IS NOT NULL")))
        }
      }
    }

  /** Validate freshly-STAGED data files against the table's checks,
    * refusing the commit (and sweeping the staged files) on the first
    * violation. Validating what was actually WRITTEN — not the incoming
    * frame — means a nondeterministic expression cannot pass a
    * frame-level pre-check and still stage violating rows. O(new files)
    * re-read, paid only by constrained tables. */
  private def enforceChecks(spark: SparkSession, root: String,
                            checks: Seq[TableCheck], ddl: String,
                            partitioned: Boolean,
                            physMap: Map[String, String],
                            staged: Seq[String]): Unit = {
    if (checks.isEmpty || staged.isEmpty) return
    val df = readPaths(spark, ddl,
      staged.map(f => new Path(root, f).toString), partitioned, root,
      physMap = physMap)
    checks.foreach { c =>
      val bad = violations(df, c).limit(1).collect()
      if (bad.nonEmpty) {
        val f = fs(spark, new Path(root))
        staged.foreach(p =>
          scala.util.Try(f.delete(new Path(root, p), false)))
        throw new IllegalArgumentException(
          s"CHECK constraint ${c.name} (${c.expr}) violated by this " +
            s"write, e.g. ${bad.head}; nothing was committed")
      }
    }
  }

  /** Refuse an expression Catalyst calls deterministic but that is
    * fixed only PER-QUERY, not per-table: current_date()/now()/
    * localtimestamp()/current_timezone() re-evaluate on every scan, so
    * a read-time-substituted fill (generated column, default) would
    * drift day to day and diverge from write-materialized files, and
    * genChecks could refuse appends that merely cross a time boundary.
    * Mirrors Delta's generated-column validation. */
  private def requireTimeIndependent(
      resolved: org.apache.spark.sql.catalyst.expressions.Expression,
      what: String, exprText: String): Unit = {
    import org.apache.spark.sql.catalyst.expressions._
    val timeDep = resolved.collectFirst {
      case e: CurrentDate => e
      case e: CurrentTimestampLike => e // current_timestamp(), now()
      case e: LocalTimestamp => e
      case e: CurrentTimeZone => e
    }
    require(timeDep.isEmpty,
      s"$what must not depend on evaluation time " +
        s"(${timeDep.map(_.prettyName).getOrElse("")} in: $exprText) — " +
        "read-time substitution would re-evaluate it on every scan")
  }

  /** The top-level column names `sqlExpr` references — the guard input
    * for renaming/dropping a column a CHECK depends on. */
  private def checkRefs(spark: SparkSession, sqlExpr: String): Set[String] =
    spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet

  /** The column mapping with every live field listed — activation (the
    * first rename/drop) assigns field ids in schema order and freezes
    * each field's CURRENT name as its physical name, which every data
    * file already carries. Until activation the manifest stores nothing
    * and every read/write path stays byte-identical to the unmapped
    * format. */
  private def activeColMap(m: Manifest): (Seq[FieldMap], Int) =
    if (m.colMap.nonEmpty) (m.colMap, m.maxCid)
    else {
      val fields = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl).fields
      // a user column named like a synthetic (_gc<N>) freezes as its own
      // physical name here; start maxCid past every such N so addColumn
      // can never assign an id whose _gc<id> aliases it
      val gcLike = fields.map(_.name).collect {
        case GcPhys(n) => n.toInt }
      (fields.zipWithIndex.toSeq.map { case (f, i) =>
        FieldMap(i + 1, f.name, f.name) },
        (fields.length +: gcLike).max)
    }

  /** The synthetic physical-name shape [[addColumn]] assigns. */
  private val GcPhys = """_gc(\d+)""".r

  /** With column mapping active, assign the new field a fresh id and a
    * physical name guaranteed never to collide with any name a data
    * file has EVER carried (a dropped column's physical name lives on
    * in old files; re-using it would resurrect dead data). A user
    * column literally named _gc<N> freezes as its own physical name at
    * activation; assigning id N would alias two fields onto one parquet
    * column — activation and dropColumn keep maxCid past every such N,
    * and the skip loop guards tables activated before that invariant
    * existed. Shared by every column-adding DDL ([[addColumn]],
    * [[addGeneratedColumn]], [[addIdentityColumn]]) so the aliasing
    * invariant lives in exactly one place. */
  private def extendColMap(m: Manifest, name: String): (Seq[FieldMap], Int) =
    if (m.colMap.isEmpty) (m.colMap, m.maxCid)
    else {
      val used = m.colMap.map(_.phys).toSet
      var id = m.maxCid + 1
      while (used.contains(s"_gc$id")) id += 1
      (m.colMap :+ FieldMap(id, name, s"_gc$id"), id)
    }

  /** RENAME COLUMN as a METADATA-ONLY commit, via field-id column
    * mapping: the field keeps its id and its frozen PHYSICAL name (what
    * every data file was and will be written under); only the manifest's
    * logical name moves, and the per-file metadata (stats, blooms, HLLs
    * — all logical-keyed) re-keys with it. No data file is touched, so
    * at 100 TB this is O(1) I/O like [[addColumn]]; time travel to a
    * pre-rename version reads under THAT version's names; a running
    * stream refuses the change exactly like any schema evolution
    * (restart adopts the new name). Partition columns refuse — their
    * name is baked into every hive directory path. */
  def renameColumn(spark: SparkSession, root: String, from: String,
                   to: String): Int = commitMetaTransform(spark, root, { m =>
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(from), s"no column $from")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
      s"column $to already exists")
    require(!m.partitionCols.map(Layout.parse).exists(_.source == from),
      s"cannot rename partition column $from: its name is the hive " +
        "directory layout itself — repartition into a new table instead")
    require(from != RowIdCol ||
        !m.props.get(PropRowTracking).contains("true"),
      s"cannot rename $RowIdCol while row tracking is enabled: the " +
        "engine assigns and preserves it by that name; drop the column " +
        "to disable tracking first")
    // a CHECK referencing the column would silently stop binding (its
    // expression is name-keyed text) — refuse, like Delta
    m.checks.filter(c => checkRefs(spark, c.expr).contains(from))
      .foreach(c => throw new IllegalArgumentException(
        s"cannot rename $from: CHECK constraint ${c.name} (${c.expr}) " +
          "references it; drop the constraint first"))
    // generated expressions are name-keyed text like checks — a rename
    // of a SOURCE column would silently unbind them
    m.gens.filter { case (_, e) => checkRefs(spark, e).contains(from) }
      .foreach { case (g, e) => throw new IllegalArgumentException(
        s"cannot rename $from: generated column $g ($e) references it; " +
          "drop the generated column first") }
    val (cm0, maxCid) = activeColMap(m)
    // record the lineage: the old name joins the field's prior-name
    // history (minus the new name, if this rename reclaims one), so a
    // stream pinned on ANY historical name still resolves the field
    val cm2 = cm0.map(f =>
      if (f.name == from)
        f.copy(name = to,
          prior = (f.prior :+ from).distinct.filterNot(_ == to))
      else f)
    val renamed = org.apache.spark.sql.types.StructType(
      schema.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    def rekey(ss: Seq[ColStat]) =
      ss.map(s => if (s.col == from) s.copy(col = to) else s)
    val v = m.version + 1
    Manifest(v, renamed.toDDL, m.files,
      stats = m.stats.view.mapValues(rekey).toMap,
      blooms = m.blooms.view.mapValues(_.map(b =>
        if (b.col == from) b.copy(col = to) else b)).toMap,
      partitionCols = m.partitionCols,
      hlls = m.hlls.view.mapValues(_.map(h =>
        if (h.col == from) h.copy(col = to) else h)).toMap,
      dvs = m.dvs, rows = m.rows, op = "rename-column",
      colMap = cm2, maxCid = maxCid, checks = m.checks,
      defaults = m.defaults.map { case (c, d) =>
        (if (c == from) to else c) -> d },
      noCol = m.noCol.view.mapValues(_.map(c =>
        if (c == from) to else c)).toMap,
      gens = m.gens.map { case (c, e) =>
        (if (c == from) to else c) -> e },
      ids = m.ids.map { case (c, hw) =>
        (if (c == from) to else c) -> hw },
      props = m.props.map {
        case (PropClusterBy, v) => PropClusterBy ->
          v.split(",").map(c => if (c == from) to else c).mkString(",")
        case kv => kv
      })
  })

  /** DROP COLUMN as a METADATA-ONLY commit: the field leaves the logical
    * schema and the column mapping; its physical column stays in every
    * already-written file, simply never projected again (reads resolve
    * the remaining fields' physical names). Its per-file metadata is
    * stripped. A later [[addColumn]] of the same name is a NEW field
    * with a fresh id and a synthetic physical name, so the dead data can
    * never resurrect under it — the re-add hazard that makes name-keyed
    * drops unsafe. Partition columns and the last column refuse. */
  def dropColumn(spark: SparkSession, root: String,
                 name: String): Int = commitMetaTransform(spark, root, { m =>
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(name), s"no column $name")
    require(!m.partitionCols.map(Layout.parse).exists(_.source == name),
      s"cannot drop partition column $name")
    require(schema.length > 1, "cannot drop the last column")
    m.checks.filter(c => checkRefs(spark, c.expr).contains(name))
      .foreach(c => throw new IllegalArgumentException(
        s"cannot drop $name: CHECK constraint ${c.name} (${c.expr}) " +
          "references it; drop the constraint first"))
    m.gens.filter { case (g, e) =>
        g != name && checkRefs(spark, e).contains(name) }
      .foreach { case (g, e) => throw new IllegalArgumentException(
        s"cannot drop $name: generated column $g ($e) references it; " +
          "drop the generated column first") }
    val (cm0, maxCid) = activeColMap(m)
    val narrowed = org.apache.spark.sql.types.StructType(
      schema.fields.filterNot(_.name == name))
    val v = m.version + 1
    Manifest(v, narrowed.toDDL, m.files,
      stats = m.stats.view.mapValues(_.filterNot(_.col == name)).toMap,
      blooms = m.blooms.view.mapValues(_.filterNot(_.col == name)).toMap,
      partitionCols = m.partitionCols,
      hlls = m.hlls.view.mapValues(_.filterNot(_.col == name)).toMap,
      dvs = m.dvs, rows = m.rows, op = "drop-column",
      colMap = cm0.filterNot(_.name == name),
      // the dropped field's physical name lives on in old data files; if
      // it looks like a synthetic (_gc<N>, possible in tables activated
      // before activation bounded maxCid) keep maxCid past N so a later
      // addColumn can never re-assign it and resurrect the dead column
      maxCid = cm0.find(_.name == name).map(_.phys) match {
        case Some(GcPhys(n)) => math.max(maxCid, n.toInt)
        case _ => maxCid
      },
      checks = m.checks,
      defaults = m.defaults - name,
      noCol = m.noCol.view.mapValues(_.filterNot(_ == name)).toMap
        .filter(_._2.nonEmpty),
      gens = m.gens - name, ids = m.ids - name,
      // dropping _row_id IS disabling row tracking; a dropped cluster
      // key leaves the remaining keys as the layout hint
      props = m.props.flatMap {
        case (PropRowTracking, _) if name == RowIdCol => None
        case (PropClusterBy, v) =>
          val kept = v.split(",").filterNot(_ == name)
          if (kept.isEmpty) None else Some(PropClusterBy -> kept.mkString(","))
        case kv => Some(kv)
      })
  })

  /** PARTITION EVOLUTION as a metadata-only commit (the Iceberg
    * partition-spec-evolution recipe): change the hive layout FUTURE
    * writes land under — to different columns, or to none — without
    * touching a single existing file. Old files keep their k=v
    * directories; their partition values still resolve per file (the
    * read groups files by layout, and their degenerate [v, v] dir
    * stats keep pruning them); new files land under the new layout.
    * [[compact]]/[[zorderBy]] rewrites migrate data to the current
    * layout as a side effect — the gradual-migration story. A DML that
    * RACED a layout change refuses in the rebase walk (its files were
    * staged under a layout the head no longer has).
    *
    * Columns renamed through the mapping refuse as layout columns:
    * hive directories carry write-time names, and a mapped column's
    * physical name would diverge from the directory key. At 100 TB
    * this is the difference between re-clustering a table for a new
    * query pattern with one JSON commit and a multi-day rewrite. */
  def setPartitionLayout(spark: SparkSession, root: String,
                         cols: Seq[String]): Int =
    commitMetaTransform(spark, root, { m =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      val xs = cols.map(Layout.parse) // refuses bad grammar
      xs.foreach(Layout.validate(_, schema)) // source exists, type admits
      require(xs.map(_.dirKey).distinct.size == xs.size,
        s"duplicate layout directory keys in $cols")
      require(cols != m.partitionCols,
        s"layout already is ${m.partitionCols}")
      val mapped = m.colMap.filter(f => f.name != f.phys).map(_.name).toSet
      val badSrc = xs.map(_.source).filter(mapped)
      require(badSrc.isEmpty,
        s"renamed columns $badSrc cannot be layout columns " +
          "(hive directories carry write-time names)")
      m.copy(version = m.version + 1, op = "set-partition-layout",
        partitionCols = cols, txn = None)
    })

  /** Inclusive range predicates for manifest-level data skipping:
    * column -> (lo, hi), either bound open. Values compare in the
    * recorded stat domain: Long/Int for "long" columns (dates as
    * days-since-epoch, timestamps as micros — the parquet physical
    * values), Double for "double", String for "string". */
  type RangePreds = Map[String, (Option[Any], Option[Any])]

  /** The files of `version` that SURVIVE manifest-stats pruning under
    * `preds` — the data-skipping decision itself, exposed so callers
    * (and specs) can see exactly which files a filtered read opens.
    * A file is pruned only when some predicate range PROVABLY misses
    * its recorded [lo, hi]; files without stats for a column always
    * survive (absent stats are never wrong, only unhelpful). */
  def prunedFiles(spark: SparkSession, root: String, preds: RangePreds,
                  version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    m.files.filter { f =>
      val stats = m.stats.getOrElse(f, Seq.empty).map(s => s.col -> s).toMap
      preds.forall { case (col, (lo, hi)) =>
        stats.get(col).forall { s =>
          // "dec" stats live in the UNSCALED domain (for metadata SUM) —
          // a caller's scaled predicate value must never compare against
          // them, so they answer "might match" like an absent stat
          if (s.typ == "dec") true
          else {
            val missesLow = hi.exists(h => cmp(s.typ, s.lo, h) > 0)  // file entirely above range
            val missesHigh = lo.exists(l => cmp(s.typ, s.hi, l) < 0) // file entirely below range
            !(missesLow || missesHigh)
          }
        }
      }
    }
  }

  /** Snapshot read that opens ONLY the files surviving stats pruning —
    * manifest-driven data skipping at FILE granularity (parquet row-group
    * stats then prune within the opened files; this is the layer above).
    * Pruning is coarse: the caller still applies the exact filter to the
    * returned frame; pruning only guarantees no MATCHING row was skipped. */
  def readWhere(spark: SparkSession, root: String, preds: RangePreds,
                version: Option[Int] = None): DataFrame = {
    val keep = prunedFiles(spark, root, preds, version)
    val v = version.orElse(currentVersion(spark, root)).get
    val m = readManifest(spark, root, v)
    readSnapshotFiles(spark, root, m, keep)
  }

  /** The files of `version` that can hold `column = value` for ANY of
    * `values`, under a `bucket(n, column)` layout: each file written
    * under the layout carries its bucket in its `_p_…` directory, so a
    * point lookup opens ~1/n of the bucketed files. Files written
    * BEFORE the layout (no bucket directory) always survive — absent
    * layout is never wrong, only unhelpful — and a null-bucket
    * directory is prunable because an equality probe never matches
    * NULL. Range pruning is NOT this function's job: a transform
    * source column keeps its footer stats, so [[prunedFiles]] already
    * covers ranges. Compose the two (intersect the file lists) for a
    * point lookup with a residual range predicate. */
  def bucketPrunedFiles(spark: SparkSession, root: String, column: String,
                        values: Seq[Any],
                        version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    m.partitionCols.map(Layout.parse)
      .collectFirst { case b: Layout.Bucket if b.source == column => b }
      .map { b =>
        val dt = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .apply(column).dataType
        val want = values.map(Layout.bucketOf(_, dt, b.n).toString).toSet
        val key = b.dirKey + "="
        m.files.filter { f =>
          f.split('/').find(_.startsWith(key)) match {
            case Some(seg) => want.contains(seg.substring(key.length))
            case None => true // pre-layout file: no bucket recorded
          }
        }
      }
      .getOrElse(m.files)
  }

  /** Snapshot point-lookup read that opens ONLY the files surviving
    * BOTH bucket-layout pruning and stats range pruning on `column =
    * value` — the compound data-skipping decision for a keyed fetch.
    * The caller still applies the exact filter (pruning is coarse). */
  def readBucketEq(spark: SparkSession, root: String, column: String,
                   value: Any, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    val byBucket = bucketPrunedFiles(spark, root, column, Seq(value),
      Some(v)).toSet
    val byStats = statEligible(m, column, value).toSet
    readSnapshotFiles(spark, root, m,
      m.files.filter(f => byBucket.contains(f) && byStats.contains(f)))
  }

  /** Files whose recorded [lo, hi] for `column` might contain `value`
    * (point form of [[prunedFiles]]' range test; "dec" stats and
    * stat-less files always survive). */
  private def statEligible(m: Manifest, column: String,
                           value: Any): Seq[String] =
    m.files.filter { f =>
      m.stats.getOrElse(f, Seq.empty).find(_.col == column).forall { s =>
        if (s.typ == "dec") true
        else cmp(s.typ, s.lo, value) <= 0 && cmp(s.typ, s.hi, value) >= 0
      }
    }

  /** Build per-file bloom filters over `cols` and publish them as a new
    * version (same data files and stats — index maintenance as a commit,
    * like Iceberg's rewrite-index actions). One distributed job computes
    * the k bit positions per non-null value and reduces to the DISTINCT
    * (file, position) set, so the driver collects at most
    * files × mBits positions — the same order as the manifest itself,
    * never the data. Blooms ride carry-over like stats: later appends
    * keep them for untouched files, new files are simply un-indexed
    * until the next indexBloom (absent bloom = never pruned, always
    * safe). Defaults: 8192 bits (1 KiB) / 6 probes ≈ 2% false positives
    * at 1k distinct keys per file. */
  def indexBloom(spark: SparkSession, root: String, cols: Seq[String],
                 mBits: Int = 1 << 13, k: Int = 6,
                 onlyMissing: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{array, col, explode, input_file_name, lit}
    import graft.ext.Sketches.{hllHash, hllMix}
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    // onlyMissing = INCREMENTAL maintenance: index only files lacking a
    // bloom for some requested column (blooms ride commit carry-over, so
    // after an append exactly the new files are missing) — O(batch), not
    // O(table), which is what a per-micro-batch maintainer needs. When
    // nothing is missing the call is a version-preserving no-op.
    val targets =
      if (!onlyMissing) m.files
      else m.files.filter(f =>
        cols.exists(c => !m.blooms.getOrElse(f, Seq.empty).exists(_.col == c)))
    if (onlyMissing && targets.isEmpty) return cur
    val paths = targets.map(f => new Path(root, f).toString)
    // qualified filesystem path -> the manifest's OWN name for the file
    // (relative "data/..." with hive k=v subdirs preserved, or a clone's
    // absolute path). Blooms must be keyed exactly as the manifest keys
    // its files — a basename-only key never matches a partitioned or
    // cloned entry and the whole index becomes a silent no-op.
    val fsys = fs(spark, new Path(root))
    val byPath: Map[String, String] = targets.map { rel =>
      fsys.makeQualified(new Path(root, rel)).toUri.getPath -> rel
    }.toMap
    val built: Map[String, Seq[FileBloom]] =
      if (paths.isEmpty) Map.empty
      else buildBlooms(readRawWithDefaults(spark, root, m, targets,
        partitioned = false), byPath, cols, mBits, k)
    // a scanned file with NO non-null values of a column gets an explicit
    // all-zero bloom — "indexed, contains nothing" (mayContain always
    // false, sound for that file) — so it cannot read as an un-indexed
    // append forever (the indexHll zero-register discipline)
    val zeroBloom = FileBloom("", mBits, k,
      java.util.Base64.getEncoder.encodeToString(new Array[Byte](mBits / 8)))
    val fresh: Map[String, Seq[FileBloom]] = targets.map { f =>
      val have = built.getOrElse(f, Seq.empty)
      f -> (have ++ cols.filterNot(c => have.exists(_.col == c))
        .map(c => zeroBloom.copy(col = c)))
    }.toMap
    // per-column merge through the delta: the indexed columns replace,
    // others carry over; racing commits rebase (stale files drop)
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      metaBlooms = fresh, op = "index-bloom"))
  }

  /** `input_file_name()` URI → the manifest's own entry for that file,
    * resolved against the snapshot's file list (qualified-path keyed) so
    * hive `k=v` subdirectories and a clone's absolute-path entries map
    * correctly. The basename fallback only fires for a file outside the
    * snapshot, which [[readSubset]]-style guards make unreachable. */
  private def manifestKeyOf(byPath: Map[String, String], uri: String): String = {
    val p =
      try new java.net.URI(uri).getPath
      catch { case _: java.net.URISyntaxException => uri }
    byPath.getOrElse(p, "data/" + p.substring(p.lastIndexOf('/') + 1))
  }

  /** The files of `version` that MAY contain `value` (Spark
    * cast-to-string form) in `column`, per the manifest blooms — the
    * point-lookup analog of [[prunedFiles]]. Files without a bloom for
    * the column always survive. */
  def bloomPrunedFiles(spark: SparkSession, root: String, column: String,
                       value: String, version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    m.files.filter { f =>
      m.blooms.getOrElse(f, Seq.empty).find(_.col == column)
        .forall(_.mayContain(value))
    }
  }

  /** The files of `version` that MAY contain AT LEAST ONE of `keys`
    * (a single string-typed column) in `column` — the key-SET
    * generalization of [[bloomPrunedFiles]], sized for a streaming
    * micro-batch probing a large base table: the per-file blooms
    * (manifest metadata, files × mBits/8 bytes) are broadcast and every
    * key probes them on the EXECUTORS; the driver collects only the
    * surviving file names — O(files), never O(keys). Files without a
    * bloom for `column` always survive (pruning must refuse, never
    * lie), so composing with [[readSubset]] + an anti-join is exactly
    * as sound as scanning the whole snapshot. At very large file
    * counts compose with range-stat pruning ([[prunedFiles]]) first so
    * the broadcast stays metadata-sized. */
  def bloomCandidateFiles(spark: SparkSession, root: String, column: String,
                          keys: DataFrame, version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    val bloomed: Seq[(String, FileBloom)] = m.files.flatMap(f =>
      m.blooms.getOrElse(f, Seq.empty).find(_.col == column).map(f -> _))
    if (bloomed.isEmpty) m.files
    else {
      val always = m.files.filterNot(f => bloomed.exists(_._1 == f)).toSet
      val bc = spark.sparkContext.broadcast(bloomed)
      import spark.implicits._
      // one shuffle-free pass: per-partition probing with an early exit
      // once every file has hit; the collect is per-partition survivor
      // NAMES (≤ partitions × files), duplicate keys just re-probe.
      // Bitsets are Base64-decoded ONCE per partition and positions
      // computed once per key per (mBits, k) shape — the per-key work
      // is pure bit tests, not decoding.
      val hit = keys.na.drop()
        .select(keys.columns.head).as[String]
        .mapPartitions { it =>
          val groups = bc.value
            .map { case (f, b) =>
              (b.mBits, b.k, f, java.util.Base64.getDecoder.decode(b.bits))
            }
            .groupBy(d => (d._1, d._2)).toSeq
          val total = bc.value.size
          val seen = new scala.collection.mutable.HashSet[String]
          it.foreach { key =>
            if (seen.size < total) groups.foreach { case ((mb, kk), fs) =>
              val pos = bloomPositions(key, mb, kk)
              fs.foreach { case (_, _, f, raw) =>
                if (!seen.contains(f) &&
                  pos.forall(p => (raw(p >> 3) & (1 << (p & 7))) != 0)) seen += f
              }
            }
          }
          seen.iterator
        }
        .collect().toSet
      m.files.filter(f => hit.contains(f) || always.contains(f))
    }
  }

  /** [[bloomCandidateFiles]] and [[buildBloom]] FUSED into one pass
    * over `keys`: returns (the files of `version` that may contain at
    * least one key, the union bloom of ALL keys). The streaming-ingest
    * shape: one scan of the micro-batch both prunes the duplicate-probe
    * read set AND produces the bloom the writer will attach to the
    * files it is about to write — two metadata-sized results, zero
    * extra passes, zero shuffles. */
  def probeAndBuildBloom(spark: SparkSession, root: String, column: String,
                         keys: DataFrame, version: Option[Int] = None,
                         mBits: Int = 1 << 13, k: Int = 6): (Seq[String], FileBloom) = {
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    val bloomed: Seq[(String, FileBloom)] = m.files.flatMap(f =>
      m.blooms.getOrElse(f, Seq.empty).find(_.col == column).map(f -> _))
    val always = m.files.filterNot(f => bloomed.exists(_._1 == f)).toSet
    val bc = spark.sparkContext.broadcast(bloomed)
    import spark.implicits._
    val parts = keys.na.drop().select(keys.columns.head).as[String]
      .mapPartitions { it =>
        val groups = bc.value
          .map { case (f, b) =>
            (b.mBits, b.k, f, java.util.Base64.getDecoder.decode(b.bits))
          }
          .groupBy(d => (d._1, d._2)).toSeq
        val total = bc.value.size
        val seen = new scala.collection.mutable.HashSet[String]
        val raw = new Array[Byte](mBits / 8)
        it.foreach { key =>
          val own = bloomPositions(key, mBits, k)
          own.foreach(p => raw(p >> 3) = (raw(p >> 3) | (1 << (p & 7))).toByte)
          groups.foreach { case ((mb, kk), fs) =>
            if (seen.size < total) {
              // reuse the just-computed positions when the file blooms
              // share this bloom's exact (mBits, k) shape — the common
              // case, since one maintainer writes both
              val pos = if (mb == mBits && kk == k) own
                        else bloomPositions(key, mb, kk)
              fs.foreach { case (_, _, f, fraw) =>
                if (!seen.contains(f) &&
                  pos.forall(p => (fraw(p >> 3) & (1 << (p & 7))) != 0)) seen += f
              }
            }
          }
        }
        Iterator.single((seen.toArray, raw))
      }.collect()
    val bits = new Array[Byte](mBits / 8)
    val hit = new scala.collection.mutable.HashSet[String]
    parts.foreach { case (fs, r) =>
      hit ++= fs
      var i = 0
      while (i < bits.length) { bits(i) = (bits(i) | r(i)).toByte; i += 1 }
    }
    val bloom = FileBloom(column, mBits, k,
      java.util.Base64.getEncoder.encodeToString(bits))
    (m.files.filter(f => hit.contains(f) || always.contains(f)), bloom)
  }

  /** ONE bloom over `keys` (a single string-typed column), built
    * shuffle-free: each partition fills a local bitset, the driver ORs
    * the per-partition bitsets (partitions × mBits/8 bytes collected —
    * metadata-sized, never the keys). Companion of [[attachBlooms]]:
    * a writer that still holds a batch IN MEMORY can index the files it
    * just wrote without re-scanning them from disk. Bit positions are
    * [[bloomPositions]] — the exact arithmetic [[indexBloom]] and the
    * probe side share, so built and scanned indexes never drift. */
  def buildBloom(spark: SparkSession, column: String, keys: DataFrame,
                 mBits: Int = 1 << 13, k: Int = 6): FileBloom = {
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    import spark.implicits._
    val parts = keys.na.drop().select(keys.columns.head).as[String]
      .mapPartitions { it =>
        val raw = new Array[Byte](mBits / 8)
        it.foreach { key =>
          bloomPositions(key, mBits, k).foreach { p =>
            raw(p >> 3) = (raw(p >> 3) | (1 << (p & 7))).toByte
          }
        }
        Iterator.single(raw)
      }.collect()
    val bits = new Array[Byte](mBits / 8)
    parts.foreach { r =>
      var i = 0
      while (i < bits.length) { bits(i) = (bits(i) | r(i)).toByte; i += 1 }
    }
    FileBloom(column, mBits, k,
      java.util.Base64.getEncoder.encodeToString(bits))
  }

  /** Attach caller-built blooms to files of the CURRENT version as a
    * metadata-only commit — index maintenance with zero data scan. The
    * caller owns the soundness obligation: each attached bloom must be
    * a SUPERSET of the file's actual key set (a batch-union bloom from
    * [[buildBloom]] attached to every file that batch wrote qualifies —
    * coarser than per-file, still never prunes a file that matches).
    * Same-column entries are replaced; other columns carry over. Files
    * not in the manifest are refused. Returns the new version (or the
    * current one unchanged when `blooms` is empty). */
  def attachBlooms(spark: SparkSession, root: String,
                   blooms: Map[String, Seq[FileBloom]]): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (blooms.isEmpty) return cur
    val m = readManifest(spark, root, cur)
    val known = m.files.toSet
    require(blooms.keys.forall(known.contains),
      s"files not in version $cur: ${blooms.keys.filterNot(known.contains).take(3)}")
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      metaBlooms = blooms, op = "attach-blooms"))
  }

  /** Per-file blooms of `version` for `column` — (mBits, k) by file.
    * Metadata introspection for operators and specs (e.g. asserting
    * [[reindex]] preserved a file's index sizing). */
  def bloomShapes(spark: SparkSession, root: String, column: String,
                  version: Option[Int] = None): Map[String, (Int, Int)] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    m.files.flatMap(f => m.blooms.getOrElse(f, Seq.empty)
      .find(_.col == column).map(b => f -> (b.mBits, b.k))).toMap
  }

  /** The files of `version` lacking a bloom for `column` — what a
    * zero-rescan maintainer ([[attachBlooms]]) still owes an index. */
  def unbloomedFiles(spark: SparkSession, root: String, column: String,
                     version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    m.files.filterNot(f =>
      m.blooms.getOrElse(f, Seq.empty).exists(_.col == column))
  }

  /** Point-lookup read opening ONLY the bloom-surviving files. Composes
    * with the range-stat layer ([[readWhere]]) when the caller also has
    * comparable bounds; each layer alone is sound. The caller still
    * applies the exact equality filter — pruning guarantees only that no
    * matching row was skipped. */
  def readEq(spark: SparkSession, root: String, column: String,
             value: String, version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    val keep = bloomPrunedFiles(spark, root, column, value, Some(v)).toSet
    readSnapshotFiles(spark, root, m, m.files.filter(keep.contains))
  }

  /** Build per-file HLL registers over `cols` and publish them as a new
    * version (same data files, stats and blooms — index maintenance as a
    * commit, the [[indexBloom]] pattern). One distributed job computes
    * (file, col, bucket, max rho); the driver collects at most
    * files × cols × m rows — manifest-order, never the data. Registers
    * ride carry-over like stats/blooms: untouched files keep theirs
    * across append/delete/merge/compact-scoped commits; files added
    * later are simply un-indexed until the next indexHll (and their
    * absence makes the skip decision refuse, never lie). The register
    * union across files is pointwise max — associative — so merged
    * per-file registers EQUAL the whole-table register set: distinct-
    * count estimates become a metadata read. */
  def indexHll(spark: SparkSession, root: String, cols: Seq[String],
               m: Int = graft.ext.Sketches.HllBuckets): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max}
    import graft.ext.Sketches.{hllHash, hllMix, hllRho}
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val man = readManifest(spark, root, cur)
    val paths = man.files.map(f => new Path(root, f).toString)
    val fsys = fs(spark, new Path(root))
    val byPath: Map[String, String] = man.files.map { rel =>
      fsys.makeQualified(new Path(root, rel)).toUri.getPath -> rel
    }.toMap
    val newHlls: Map[String, Seq[FileHll]] =
      if (paths.isEmpty) Map.empty
      else {
        val perCol = cols.map { c =>
          readRawWithDefaults(spark, root, man, man.files.toSeq,
            man.partitionedRead)
            .select(input_file_name().as("f"), col(c).cast("string").as("k"))
            .where(col("k").isNotNull)
            .select(col("f"), hllHash(col("k")).as("h0"))
            .select(col("f"), hllMix(col("h0")).as("h1"))
            .select(col("f"), (col("h1") % m).as("bucket"), hllMix(col("h1")).as("w"))
            .select(col("f"), col("bucket"), hllRho(col("w")).as("rho"))
            .groupBy(col("f"), col("bucket"))
            .agg(max(col("rho")).cast("long").as("mx"))
            .select(col("f"), col("bucket"), col("mx"), lit(c).as("c"))
        }.reduce(_ unionByName _).collect()
        val built = perCol.groupBy(r => manifestKeyOf(byPath, r.getString(0))).map {
          case (file, rows) =>
            file -> rows.groupBy(_.getString(3)).map { case (c, rs) =>
              val regs = new Array[Byte](m)
              rs.foreach { r =>
                val b = r.getLong(1).toInt
                if (r.getLong(2) > (regs(b) & 0xff)) regs(b) = r.getLong(2).toByte
              }
              FileHll(c, m, java.util.Base64.getEncoder.encodeToString(regs))
            }.toSeq
        }
        // a file with no rows (or no non-null keys) never reaches the job
        // output; it still gets EXPLICIT all-zero registers — "indexed,
        // contributes nothing" — so the completeness check below cannot
        // mistake it for an un-indexed append forever
        val zero = java.util.Base64.getEncoder.encodeToString(new Array[Byte](m))
        man.files.map { f =>
          val have = built.getOrElse(f, Seq.empty)
          val missing = cols.filterNot(c => have.exists(_.col == c))
            .map(c => FileHll(c, m, zero))
          f -> (have ++ missing)
        }.toMap
      }
    // per-column merge through the delta: indexing column B no longer
    // drops a file's column-A registers (the old wholesale per-file
    // replacement did), and racing commits rebase (stale files drop)
    commitDelta(spark, root, man, CommitDelta(removedFiles = Set.empty,
      metaHlls = newHlls, op = "index-hll"))
  }

  /** One distributed bloom-position build over `frame` for `cols` at
    * one (mBits, k) shape: per manifest entry, the assembled blooms of
    * the columns that produced at least one non-null value. Shared by
    * [[indexBloom]] (raw scan) and [[reindex]] (DV-applied scan, per
    * existing shape) so the build-side hash chain can never drift
    * between the two sites — a drift would silently break
    * build/probe agreement and prune matching files. */
  private def buildBlooms(frame: DataFrame, byPath: Map[String, String],
                          cols: Seq[String], mBits: Int,
                          k: Int): Map[String, Seq[FileBloom]] = {
    import org.apache.spark.sql.functions.{array, col, explode, input_file_name, lit}
    import graft.ext.Sketches.{hllHash, hllMix}
    val perCol = cols.map { c =>
      val h1 = hllMix(hllHash(col(c).cast("string")))
      val h2 = hllMix(h1)
      val positions = array((0 until k).map(i =>
        ((h1 + lit(i.toLong) * h2) % mBits).cast("int")): _*)
      frame.select(input_file_name().as("f"), explode(positions).as("pos"))
        .where(col("pos").isNotNull)
        .select(col("f"), col("pos"), lit(c).as("c"))
    }.reduce(_ unionByName _)
      .distinct()
      .collect()
    perCol.groupBy(r => manifestKeyOf(byPath, r.getString(0))).map { case (file, rows) =>
      file -> rows.groupBy(_.getString(2)).map { case (c, rs) =>
        val raw = new Array[Byte](mBits / 8)
        rs.foreach { r =>
          val p = r.getInt(1); raw(p >> 3) = (raw(p >> 3) | (1 << (p & 7))).toByte
        }
        FileBloom(c, mBits, k, java.util.Base64.getEncoder.encodeToString(raw))
      }.toSeq
    }
  }

  /** Rebuild skipping indexes for `cols` on the DV-BEARING files of the
    * current version, from their SURVIVING rows only — index maintenance
    * after wide vectored deletes. A vector never shrinks an index
    * (blooms/registers stay sound over-approximations forever), so after
    * a delete removed a key entirely, bloom-pruned reads still open the
    * file; compaction would fix that at the cost of rewriting the data.
    * This is the metadata-only middle path: a DV-applied scan of exactly
    * the vectored files, fresh per-file blooms for every requested
    * column (and fresh HLL registers where the file already carries
    * registers for that column — partial HLL coverage would break
    * union-estimate completeness, partial bloom coverage is safe by
    * design), one metadata commit, no data file moves.
    *
    * Rebuilt indexes KEEP each file's existing sizing: a bloom built at
    * 64 Kib for high-cardinality keys must not silently shrink to the
    * default because the SQL face exposes no m/k — `mBits`/`k` apply
    * only to files with no existing bloom for the column, and HLL
    * registers rebuild at their recorded bucket count. Files without a
    * vector are untouched; no-op (current version) when none carries
    * one. */
  def reindex(spark: SparkSession, root: String, cols: Seq[String],
              mBits: Int = 1 << 13, k: Int = 6): Int = {
    import org.apache.spark.sql.functions.{col, input_file_name, lit, max}
    import graft.ext.Sketches.{hllHash, hllMix, hllRho}
    require(cols.nonEmpty, "reindex needs at least one column")
    require(Integer.bitCount(mBits) == 1, "mBits must be a power of two")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val targets = m.files.filter(m.dvs.contains)
    if (targets.isEmpty) return cur
    val fsys = fs(spark, new Path(root))
    val byPath: Map[String, String] = targets.map { rel =>
      fsys.makeQualified(new Path(root, rel)).toUri.getPath -> rel
    }.toMap
    // each (file, col) rebuilds at ITS existing bloom shape (default for
    // first-time columns); one DV-applied build per distinct shape — the
    // homogeneous-table common case stays a single scan
    def shapeOf(f: String, c: String): (Int, Int) =
      m.blooms.getOrElse(f, Seq.empty).find(_.col == c)
        .map(b => (b.mBits, b.k)).getOrElse((mBits, k))
    val pairs = targets.flatMap(f => cols.map(c => (f, c)))
    // one build per (shape, column-set): within a shape, files group by
    // the EXACT columns they need at it, so no file is ever scanned for
    // a column it rebuilds at a different shape — a homogeneous table
    // stays one scan, and heterogeneous shapes cost only their own files
    val built: Map[String, Seq[FileBloom]] = pairs
      .groupBy { case (f, c) => shapeOf(f, c) }
      .toSeq.flatMap { case ((mb, kk), fcs) =>
        val colsOf: Map[String, Seq[String]] =
          fcs.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
        colsOf.groupBy(_._2).toSeq.map { case (gCols, byFile) =>
          buildBlooms(readSnapshotFiles(spark, root, m, byFile.keys.toSeq),
            byPath, gCols, mb, kk)
        }
      }.foldLeft(Map.empty[String, Seq[FileBloom]]) { (acc, mp) =>
        (acc.keySet ++ mp.keySet).map(f =>
          f -> (acc.getOrElse(f, Seq.empty) ++ mp.getOrElse(f, Seq.empty))).toSeq.toMap
      }
    val newBlooms: Map[String, Seq[FileBloom]] = targets.map { f =>
      val have = built.getOrElse(f, Seq.empty)
      // all survivors of a column deleted/null -> explicit contains-nothing
      f -> (have ++ cols.filterNot(c => have.exists(_.col == c)).map { c =>
        val (mb, kk) = shapeOf(f, c)
        FileBloom(c, mb, kk,
          java.util.Base64.getEncoder.encodeToString(new Array[Byte](mb / 8)))
      })
    }.toMap
    // HLL refresh only where registers for the column already exist, at
    // their recorded bucket count
    val hllPairs = targets.flatMap(f => cols.flatMap(c =>
      m.hlls.getOrElse(f, Seq.empty).find(_.col == c).map(h => (f, c, h.m))))
    val newHlls: Map[String, Seq[FileHll]] =
      if (hllPairs.isEmpty) Map.empty
      else hllPairs.groupBy(_._3).toSeq.map { case (hm, fch) =>
        val gFiles = fch.map(_._1).distinct
        val gCols = fch.map(_._2).distinct
        val live = readSnapshotFiles(spark, root, m, gFiles)
        val rows = gCols.map { c =>
          live.select(input_file_name().as("f"), col(c).cast("string").as("kk"))
            .where(col("kk").isNotNull)
            .select(col("f"), hllMix(hllHash(col("kk"))).as("h1"))
            .select(col("f"), (col("h1") % hm).as("bucket"),
              hllRho(hllMix(col("h1"))).as("rho"))
            .groupBy(col("f"), col("bucket"))
            .agg(max(col("rho")).cast("long").as("mx"))
            .select(col("f"), col("bucket"), col("mx"), lit(c).as("c"))
        }.reduce(_ unionByName _).collect()
        val builtH = rows.groupBy(r => manifestKeyOf(byPath, r.getString(0))).map {
          case (file, rs0) =>
            file -> rs0.groupBy(_.getString(3)).map { case (c, rs) =>
              val regs = new Array[Byte](hm)
              rs.foreach { r =>
                val b = r.getLong(1).toInt
                if (r.getLong(2) > (regs(b) & 0xff)) regs(b) = r.getLong(2).toByte
              }
              FileHll(c, hm, java.util.Base64.getEncoder.encodeToString(regs))
            }.toSeq
        }
        val zero = java.util.Base64.getEncoder.encodeToString(new Array[Byte](hm))
        fch.map(_._1).distinct.map { f =>
          val cs = fch.collect { case (`f`, c, _) => c }
          val have = builtH.getOrElse(f, Seq.empty).filter(h => cs.contains(h.col))
          val filled = have ++ cs.filterNot(c => have.exists(_.col == c))
            .map(c => FileHll(c, hm, zero))
          f -> filled
        }.toMap
      }.foldLeft(Map.empty[String, Seq[FileHll]]) { (acc, mp) =>
        (acc.keySet ++ mp.keySet).map(f =>
          f -> (acc.getOrElse(f, Seq.empty) ++ mp.getOrElse(f, Seq.empty))).toSeq.toMap
      }
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      metaBlooms = newBlooms, metaHlls = newHlls, op = "reindex"))
  }

  /** Attach EXACT per-file column sums (with live-exact bounds and null
    * counts) for integral columns, as a metadata commit — the index that
    * turns `SELECT day, sum(x) … GROUP BY day` into manifest arithmetic
    * ([[graft.plans.MetaAggregates]]): Σ of exact per-file sums is the
    * exact total at any partitioning, and the exact-or-absent rule
    * (try_sum — overflowed files store no sum) means the metadata path
    * can never serve a wrapped value any eval mode would reject.
    * Parquet footers record no sums, so unlike bounds this index needs a
    * scan — `onlyMissing = true` makes maintenance incremental
    * (O(new files) after appends, the [[indexBloom]] discipline), and
    * the vectored DMLs keep attached sums fresh in their own refresh
    * pass, so the index survives merge-on-read deletes. The scan is
    * DV-applied: sums are live-exact by construction. Non-integral or
    * partition columns are refused (a partition column's sum is its
    * single value × rows — already answerable without an index). */
  def indexSums(spark: SparkSession, root: String, cols: Seq[String],
                onlyMissing: Boolean = false): Int = {
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min, try_sum}
    import org.apache.spark.sql.types._
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val schema = StructType.fromDDL(m.schemaDdl)
    val partSet = m.partitionCols.toSet
    // DECIMAL(p<=18, s): sums are EXACT as unscaled longs (value × 10^s
    // is integral and fits Long), the money-column case every dashboard
    // sums. Wider decimals refuse — their unscaled values don't fit the
    // manifest's long sum field.
    def sumScale(dt: DataType): Option[Int] = dt match {
      case ByteType | ShortType | IntegerType | LongType => Some(0)
      case d: DecimalType if d.precision <= 18 => Some(d.scale)
      case _ => None
    }
    val colType: Map[String, DataType] =
      schema.fields.map(f => f.name -> f.dataType).toMap
    val bad = cols.filter(c => partSet.contains(c) ||
      !colType.get(c).exists(dt => sumScale(dt).isDefined))
    require(bad.isEmpty,
      s"indexSums needs integral or decimal(p<=18) non-partition columns; " +
        s"refused: $bad")
    val targets =
      if (!onlyMissing) m.files
      else m.files.filter(f => cols.exists(c =>
        !m.stats.getOrElse(f, Seq.empty).exists(s => s.col == c && s.sum.isDefined)))
    if (targets.isEmpty) return cur
    val fsys = fs(spark, new Path(root))
    val byPath: Map[String, String] = targets.map { rel =>
      fsys.makeQualified(new Path(root, rel)).toUri.getPath -> rel
    }.toMap
    val scales: Seq[Int] = cols.map(c => sumScale(colType(c)).get)
    val aggs = Seq(count(lit(1)).as("__live")) ++
      cols.zipWithIndex.flatMap { case (c, i) =>
        // decimals index in the UNSCALED long domain (× 10^s — exact,
        // p<=18 guarantees the fit); integrals as themselves
        val lc =
          if (scales(i) == 0) col(c).cast(LongType)
          else (col(c) * lit(java.math.BigDecimal.ONE.scaleByPowerOfTen(scales(i))))
            .cast(LongType)
        // try_sum: a file whose total overflows Long gets bounds and
        // null count but NO sum (stored sums are always exact) — and
        // the build itself cannot abort under ANSI
        Seq(min(lc).as(s"__lo$i"), max(lc).as(s"__hi$i"),
          count(lc).as(s"__nn$i"), try_sum(lc).as(s"__sm$i"))
      }
    val rows = readSnapshotFiles(spark, root, m, targets)
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect() // one row per target file, O(files × cols)
    val fresh: Map[String, Seq[ColStat]] = rows.map { r =>
      val f = manifestKeyOf(byPath, r.getString(0))
      val live = r.getLong(1)
      f -> cols.zipWithIndex.flatMap { case (c, i) =>
        if (r.isNullAt(2 + 4 * i)) None // all-null (or no) survivors
        else Some(ColStat(c,
          if (scales(i) == 0) "long" else "dec",
          r.getLong(2 + 4 * i).toString,
          r.getLong(3 + 4 * i).toString,
          nulls = live - r.getLong(4 + 4 * i),
          unit = if (scales(i) == 0) "" else s"dec${scales(i)}",
          live = true,
          sum = if (r.isNullAt(5 + 4 * i)) None // try_sum overflow
                else Some(r.getLong(5 + 4 * i))))
      }
    }.toMap
    // files the scan saw no live rows of (fully vectored, empty) produce
    // no group — they keep their old stats untouched, and the
    // rows-==-dvCard exemption answers for them
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      metaStats = fresh, op = "index-sums"))
  }

  // ── Metadata-only exact aggregates ─────────────────────────────────────
  // The manifest records, per data file, its exact row count (`nrows`,
  // summed from row-group counts at commit) and per column the footer's
  // [lo, hi] and null count. A global COUNT/MIN/MAX over the table is then
  // O(1 manifest read) at ANY table size — the 100 TB `SELECT count(*)`
  // answers without opening a single data file. Every accessor is
  // all-or-nothing: a file missing the needed field (e.g. a manifest
  // written before the field existed) makes the answer None, and the
  // caller scans. [[graft.plans.MetaAggregates]] turns these into an
  // optimizer rewrite so plain `df.agg(...)` / SQL takes the fast path.

  /** Exact LIVE row count of `version`: Σ per-file rows − Σ deletion-
    * vector cardinalities (DV positions are distinct, in-range rows of
    * their file, so the subtraction is exact). */
  def metaRowCount(spark: SparkSession, root: String,
                   version: Option[Int] = None): Option[Long] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    if (!m.files.forall(m.rows.contains)) None
    else Some(m.files.map(m.rows).sum -
      m.files.flatMap(m.dvs.get).map(_.card).sum)
  }

  /** Per-live-file metadata for GROUPED metadata aggregates
    * ([[graft.plans.MetaAggregates]]'s GROUP BY rewrite): row count
    * (None when unrecorded), deletion-vector cardinality, and the file's
    * per-column stats keyed by column. A file whose stat for a grouping
    * column is degenerate ([v, v], zero nulls) is SINGLE-VALUED on it —
    * true by construction for hive partition columns, and detectable for
    * any file-clustered layout — which is what lets whole GROUP BY
    * queries collapse to manifest arithmetic. */
  final case class FileMeta(rows: Option[Long], dvCard: Long,
                            stats: Map[String, ColStat])

  def metaFiles(spark: SparkSession, root: String,
                version: Option[Int] = None): Seq[FileMeta] =
    metaSnapshot(spark, root, version)._1

  /** [[metaFiles]] plus the snapshot's partition columns, from ONE
    * manifest resolution — so a planner rule cannot pair one version's
    * files with another's layout when a commit lands mid-plan. */
  def metaSnapshot(spark: SparkSession, root: String,
                   version: Option[Int] = None): (Seq[FileMeta], Seq[String]) = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, v)
    (m.files.map { f =>
      FileMeta(m.rows.get(f), m.dvs.get(f).map(_.card).getOrElse(0L),
        m.stats.getOrElse(f, Seq.empty).map(s => s.col -> s).toMap)
    }, m.partitionCols)
  }

  /** The table's commit history as a DataFrame — one row per version:
    * the recorded operation (commits from before the `op` field parse as
    * NULL), committed-at wall clock (the manifest file's modification
    * time — informational, not part of the format), file count, exact
    * live rows when every file has a recorded count (NULL otherwise),
    * vectored-away rows, and the commit's transaction id. The whole
    * answer is manifest reads — `DESCRIBE HISTORY` for a 100 TB table
    * costs its version count, never its data. */
  /** The column mapping as a TABLE: (field id, current logical name,
    * frozen physical name, rename lineage oldest-first). Empty until
    * the mapping activates (first rename/drop) — the inspection face
    * for "which historical name maps where", the question a pinned
    * stream's operator asks before restarting it. */
  def describeColumnLineage(spark: SparkSession, root: String,
                            version: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val rows = readManifest(spark, root, v).colMap.map(f =>
      Row(f.id, f.name, f.phys, f.prior.mkString(",")))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("field_id", IntegerType, nullable = false),
        StructField("name", StringType, nullable = false),
        StructField("physical_name", StringType, nullable = false),
        StructField("prior_names", StringType, nullable = false))))
  }

  def describeHistory(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val f = fs(spark, new Path(root))
    val rows = versions(spark, root).map { v =>
      val m = readManifest(spark, root, v)
      val ts = new java.sql.Timestamp(
        if (m.ts > 0L) m.ts
        else f.getFileStatus(manifestPath(root, v)).getModificationTime)
      val live: Any =
        if (m.files.forall(m.rows.contains))
          m.files.map(m.rows).sum - m.files.flatMap(m.dvs.get).map(_.card).sum
        else null
      Row(v, if (m.op.isEmpty) null else m.op, ts, m.files.size.toLong,
        live, m.files.flatMap(m.dvs.get).map(_.card).sum,
        m.txn.map(Long.box).orNull)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("version", IntegerType, nullable = false),
        StructField("op", StringType, nullable = true),
        StructField("committed_at", TimestampType, nullable = false),
        StructField("n_files", LongType, nullable = false),
        StructField("n_live_rows", LongType, nullable = true),
        StructField("n_deleted_rows", LongType, nullable = false),
        StructField("txn", LongType, nullable = true))))
  }

  /** The pointwise-max union of `version`'s per-file registers for
    * `column` — the whole table's register set, computed from METADATA
    * alone. None when any file lacks registers (an un-indexed append):
    * absent registers must refuse the shortcut, never understate. */
  def mergedHllRegisters(spark: SparkSession, root: String, column: String,
                         version: Option[Int] = None): Option[Array[Byte]] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val man = readManifest(spark, root, v)
    val per = man.files.map(f =>
      man.hlls.getOrElse(f, Seq.empty).find(_.col == column))
    if (per.exists(_.isEmpty) || per.isEmpty) None
    else {
      val regs = per.flatten.map(_.registers)
      val m = regs.head.length
      val u = new Array[Byte](m)
      regs.foreach { r =>
        var i = 0
        while (i < m) { if ((r(i) & 0xff) > (u(i) & 0xff)) u(i) = r(i); i += 1 }
      }
      Some(u)
    }
  }

  /** The files whose registers already ACHIEVE the union in every
    * bucket — reading only these reproduces the register set (and thus
    * any distinct-count estimate) bit-identically; every other file is
    * register-DOMINATED and provably cannot change it. Greedy cover in
    * manifest order: for each non-empty bucket, keep the first file
    * attaining the union's max. None when any file is un-indexed. */
  def hllRelevantFiles(spark: SparkSession, root: String, column: String,
                       version: Option[Int] = None): Option[Seq[String]] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val man = readManifest(spark, root, v)
    mergedHllRegisters(spark, root, column, Some(v)).map { u =>
      val per: Seq[(String, Array[Byte])] = man.files.map(f =>
        f -> man.hlls(f).find(_.col == column).get.registers)
      val need = scala.collection.mutable.LinkedHashSet[String]()
      var b = 0
      while (b < u.length) {
        if (u(b) != 0) {
          val hit = per.find { case (_, r) => r(b) == u(b) }.get._1
          need += hit
        }
        b += 1
      }
      need.toSeq
    }
  }

  /** ANALYZE from METADATA alone — per column: exact row count
    * (manifest nrows minus DV cardinalities), exact null count when
    * every live file recorded one (-1 otherwise — absent footer stats
    * are never guessed), the [lo, hi] bounds where recorded, and an
    * HLL NDV estimate where the column is indexed ([[indexHll]];
    * -1 un-indexed). Zero data scanned: the CBO-grade statistics a
    * 100 TB table answers from one manifest read — feed them to
    * broadcast-threshold decisions or skew diagnosis without a job. */
  def analyzeTable(spark: SparkSession, root: String, columns: Seq[String])
      : Seq[(String, Long, Long, String, String, Long)] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val cols = if (columns.nonEmpty) columns else schema.fieldNames.toSeq
    cols.foreach(c => require(schema.fieldNames.contains(c),
      s"no column $c in [${m.schemaDdl}]"))
    val nRows = metaRowCount(spark, root).getOrElse(-1L)
    cols.map { c =>
      val stats = m.files.map(f =>
        m.stats.getOrElse(f, Seq.empty).find(_.col == c))
      // exact only when every live file recorded a null count AND (for
      // DV-bearing files) the count is survivor-exact ('live' stats) —
      // a footer count would include vectored-away rows
      val nNulls =
        if (m.files.zip(stats).forall { case (f, so) =>
            so.exists(s => s.nulls >= 0 && (!m.dvs.contains(f) || s.live)) })
          stats.flatten.map(_.nulls).sum
        else -1L
      val (lo, hi) = {
        val present = stats.flatten
        if (present.size != m.files.size || present.isEmpty) ("", "")
        else {
          val t = present.head.typ
          (present.map(_.lo).minBy(parse(t, _))(ordering(t)),
            present.map(_.hi).maxBy(parse(t, _))(ordering(t)))
        }
      }
      val ndv = mergedHllRegisters(spark, root, c, Some(cur))
        .map(u => math.round(graft.ext.Sketches.estimateFromByteRegisters(u)))
        .getOrElse(-1L)
      (c, nRows, nNulls, lo, hi, ndv)
    }
  }

  /** EQUI-WIDTH HISTOGRAM for a numeric column from MANIFEST stats
    * alone — zero data scanned: each live file's non-null rows spread
    * UNIFORMLY over its recorded [lo, hi] (the standard zone-map
    * histogram; a file with lo == hi is a point mass), contributions
    * overlap-weighted into `buckets` equal slices of the global range.
    * Rows are (bucket, bucket_lo, bucket_hi, est_rows). Feeds
    * selectivity / join-size estimation (the CBO story [[analyzeTable]]
    * starts): the estimate is exact when files are range-clustered on
    * the column (compact(clusterBy)/zorder make precisely that layout)
    * and degrades gracefully toward uniform for scattered layouts.
    * DV-bearing files contribute their SURVIVOR count (footer rows
    * minus vectored positions) — over-approximate per bucket, never
    * under. Refuses (never guesses) when a live file lacks a recorded
    * numeric stat or null count for the column. */
  def histogramOf(spark: SparkSession, root: String, column: String,
                  buckets: Int): Seq[(Int, Double, Double, Double)] = {
    require(buckets >= 1, "need at least one bucket")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    require(org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
      .fieldNames.contains(column), s"no column $column in [${m.schemaDdl}]")
    val perFile = m.files.flatMap { f =>
      val live = m.rows.getOrElse(f,
        throw new IllegalArgumentException(s"file $f has no row count")) -
        m.dvs.get(f).map(_.card).getOrElse(0L)
      if (live <= 0) None // fully-vectored: contributes nothing, needs no stat
      else {
        val s = m.stats.getOrElse(f, Seq.empty).find(_.col == column)
          .getOrElse(throw new IllegalArgumentException(
            s"file $f has no recorded stat for $column — reindex or " +
              "compact before asking for a histogram"))
        require(s.typ == "long" || s.typ == "double",
          s"histogram needs a numeric column; $column is '${s.typ}'")
        require(s.nulls >= 0,
          s"file $f recorded no null count for $column")
        Some((s.lo.toDouble, s.hi.toDouble,
          math.max(0L, live - s.nulls).toDouble))
      }
    }.filter(_._3 > 0)
    if (perFile.isEmpty)
      return (0 until buckets).map(i => (i, 0.0, 0.0, 0.0))
    val lo = perFile.map(_._1).min
    val hi = perFile.map(_._2).max
    val width = (hi - lo) / buckets
    val est = Array.fill(buckets)(0.0)
    perFile.foreach { case (flo, fhi, n) =>
      if (fhi == flo || width == 0.0) {
        val i = if (width == 0.0) 0
          else math.min(buckets - 1, ((flo - lo) / width).toInt)
        est(i) += n
      } else (0 until buckets).foreach { i =>
        val bl = lo + width * i
        val bh = lo + width * (i + 1)
        val ov = math.max(0.0, math.min(bh, fhi) - math.max(bl, flo))
        if (ov > 0) est(i) += n * ov / (fhi - flo)
      }
    }
    (0 until buckets).map(i =>
      (i, lo + width * i, lo + width * (i + 1), est(i)))
  }

  /** REPLACE WHERE — predicate-scoped atomic overwrite (Delta's
    * `replaceWhere`, Iceberg's overwrite-by-filter): ONE commit drops
    * every existing row inside the range region and lands `df`'s rows in
    * its place. The idiomatic 100 TB reload — "recompute yesterday's
    * partition" — without a full-table overwrite and without a
    * delete-then-append window where readers see the slice missing.
    *
    * The region is the conjunction of closed ranges in `preds` (None =
    * open bound) — the same domain [[prunedFiles]] prunes on, so the
    * predicate both PRUNES (untouched files never read) and DEFINES the
    * replaced rows. Incoming rows are validated against the region AFTER
    * staging — what was actually written, so a nondeterministic
    * expression can't sneak rows outside the slice — and any row outside
    * it (or NULL in a predicate column) refuses atomically, staged files
    * swept.
    *
    * Files WHOLLY inside the region drop WITHOUT BEING READ: a recorded
    * [lo, hi] contained in every predicate range plus zero recorded nulls
    * on the predicate columns proves every live row matches. (Bounds are
    * exact or survivor-over-approximate; containment of the bounds
    * contains the survivors, and DV-hidden rows are already gone — the
    * proof stays sound under vectors.) A partition-aligned reload
    * therefore costs new-files + manifest arithmetic; no old bytes move.
    * Files merely OVERLAPPING the region rewrite survivors with
    * [[deleteWhere]]'s NOT-TRUE semantics (NULL keeps the row).
    *
    * Footprint = every touched file, so a concurrent DML on the same
    * slice refuses through [[commitDelta]]'s taxonomy while disjoint
    * appends rebase past. `txn` rides the idempotence ledger: a replay
    * after checkpoint loss short-circuits to the already-committed
    * version. */
  def replaceWhere(spark: SparkSession, root: String, df: DataFrame,
                   preds: RangePreds, txn: Option[Long] = None): Int = {
    require(preds.nonEmpty, "replaceWhere needs at least one predicate range")
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    preds.keys.foreach(c => require(schema.fieldNames.contains(c),
      s"replaceWhere predicate column $c is not in the table schema " +
        s"[${m.schemaDdl}]"))
    // RangePreds values live in the recorded STAT domain (dates as
    // epoch days, timestamps as epoch micros — see [[RangePreds]]); the
    // row filter compares against the column's OWN type, so numeric
    // bounds on date/timestamp columns convert here. One definition of
    // the region for both the pruning and the filter.
    def bound(c: String, v: Any): org.apache.spark.sql.Column =
      (schema(schema.fieldIndex(c)).dataType, v) match {
        case (org.apache.spark.sql.types.DateType, n: Long) =>
          lit(java.time.LocalDate.ofEpochDay(n))
        case (org.apache.spark.sql.types.DateType, n: Int) =>
          lit(java.time.LocalDate.ofEpochDay(n.toLong))
        case (org.apache.spark.sql.types.TimestampType, n: Long) =>
          lit(java.time.Instant.EPOCH.plusNanos(n * 1000L))
        case _ => lit(v)
      }
    val cond = preds.map { case (c, (lo, hi)) =>
      val ge = lo.map(l => col(c) >= bound(c, l))
      val le = hi.map(h => col(c) <= bound(c, h))
      (ge, le) match {
        case (Some(a), Some(b)) => a && b
        case (Some(a), None) => a
        case (None, Some(b)) => b
        case (None, None) => col(c).isNotNull // open-open: region = non-null
      }
    }.reduce(_ && _)
    val (dfId, assigned) = assignIdentity(m, df)
    val aligned = alignForAppend(m.schemaDdl, dfId, m.defaults, m.gens)
    val v = cur + 1
    val added = writeDataFiles(spark, root, aligned, v, m.partitionCols,
      m.physMap)
    def sweep(): Unit = {
      val f = fs(spark, new Path(root))
      added.foreach(p => scala.util.Try(f.delete(new Path(root, p), false)))
    }
    if (added.nonEmpty) {
      val written = readPaths(spark, m.schemaDdl,
        added.map(f => new Path(root, f).toString),
        m.partitionCols.nonEmpty, root, physMap = m.physMap)
      val out = written.filter(not(coalesce(cond, lit(false))))
        .limit(1).collect()
      if (out.nonEmpty) {
        sweep()
        throw new IllegalArgumentException(
          "replaceWhere: a written row falls outside the replaced region " +
            s"(${preds.keys.mkString(", ")}), e.g. ${out.head}; nothing " +
            "was committed")
      }
    }
    enforceChecks(spark, root, m.checks ++ genChecks(m.gens, m.schemaDdl),
      m.schemaDdl, m.partitionCols.nonEmpty, m.physMap, added)
    val touched = prunedFiles(spark, root, preds, Some(cur)).toSet
    // the metadata-only drop set: every live row provably inside the region
    val contained = touched.filter(containedBy(m, _, preds))
    val partial = (touched -- contained).toSeq
    val rewritten =
      if (partial.isEmpty) Seq.empty
      else writeDataFiles(spark, root,
        readSnapshotFiles(spark, root, m, partial)
          .filter(not(coalesce(cond, lit(false)))),
        v, m.partitionCols, m.physMap)
    val (newStats, newRows) = addedMeta(spark, root, m.schemaDdl,
      added ++ rewritten, m.physMap)
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = touched, addedFiles = added ++ rewritten,
      addedStats = newStats, addedRows = newRows,
      op = "replaceWhere", txn = txn, assignedIds = assigned))
  }

  /** The containment PROOF shared by [[replaceWhere]] (the commit path)
    * and [[replaceContainedFiles]] (its observability face — one
    * predicate, so the face can never disagree with what the commit
    * actually drops): every live row of `f` is provably inside the
    * region — a recorded stat per predicate column, zero recorded
    * nulls, bounds contained. */
  private def containedBy(m: Manifest, f: String, preds: RangePreds): Boolean = {
    val stats = m.stats.getOrElse(f, Seq.empty).map(s => s.col -> s).toMap
    preds.forall { case (c, (lo, hi)) =>
      stats.get(c).exists { s =>
        s.typ != "dec" && s.nulls == 0 &&
          lo.forall(l => cmp(s.typ, s.lo, l) >= 0) &&
          hi.forall(h => cmp(s.typ, s.hi, h) <= 0)
      }
    }
  }

  /** The drop-without-reading file set [[replaceWhere]] would use for
    * `preds` at the current version — observability for the "no old
    * bytes move on a partition-aligned reload" contract (specs pin it;
    * an operator can ask before running the reload). */
  def replaceContainedFiles(spark: SparkSession, root: String,
                            preds: RangePreds): Seq[String] = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    prunedFiles(spark, root, preds, Some(cur)).filter(containedBy(m, _, preds))
  }

  /** DELETE WHERE as a commit — copy-on-write DML at FILE granularity,
    * with the manifest stats bounding write amplification: only files
    * whose recorded [lo, hi] can contain a matching row are read and
    * rewritten (minus the rows where `condition` holds); every other file
    * carries over untouched, stats and all. `preds` is the range form of
    * the predicate used for pruning and MUST be implied by `condition`
    * (a row matching `condition` must fall inside `preds`) — the caller
    * states both because a Catalyst Column cannot be evaluated against
    * manifest stats. It writes no change files: the change feed of a
    * delete diffs the files it rewrote ([[changesBetween]]). Earlier
    * versions still read the un-deleted data (time travel); returns the
    * new version. */
  def deleteWhere(spark: SparkSession, root: String, preds: RangePreds,
                  condition: org.apache.spark.sql.Column): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val touched = prunedFiles(spark, root, preds, Some(cur)).toSet
    val v = cur + 1
    val rewritten =
      if (touched.isEmpty) Seq.empty
      else {
        // Survivors are rows where the condition is NOT TRUE — a NULL
        // predicate value must KEEP the row (SQL DELETE semantics: NULL
        // never matches). Plain .filter(!condition) would evaluate NULL
        // under negation to NULL and silently DROP the row — data loss,
        // and inconsistent with identical rows kept in files the stats
        // pruning never touched.
        val df = readSnapshotFiles(spark, root, m, touched.toSeq)
          .filter(org.apache.spark.sql.functions.not(
            org.apache.spark.sql.functions.coalesce(
              condition, org.apache.spark.sql.functions.lit(false))))
        writeDataFiles(spark, root, df, v, m.partitionCols, m.physMap)
      }
    val (rewrittenStats, rewrittenRows) =
      addedMeta(spark, root, m.schemaDdl, rewritten, m.physMap)
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = touched, addedFiles = rewritten,
      addedStats = rewrittenStats, addedRows = rewrittenRows, op = "delete"))
  }

  /** The per-row delete verdict column [[vectoredDmlPass]] aggregates on. */
  private val DelCol = "__graft_dv_del"

  /** Test observability for the driver-boundedness contract: the row
    * count of the last [[vectoredDmlPass]] collect() — ONE row per
    * touched file (entry, sidecar, cardinality, stats), never one per
    * deleted position. DeletionVectorSpec pins the bound so a regression
    * back to collecting positions cannot land silently. */
  @volatile private[graft] var lastDmlPassCollected: Int = -1

  /** The one distributed pass shared by the merge-on-read DMLs
    * ([[deleteWhereVectored]], [[mergeIntoVectored]]): scan the touched
    * files DV-AWARE (prior vectors filtered at the scan), let `mark`
    * stamp each live row's fate into [[DelCol]], then per file — in one
    * aggregation — collect the newly deleted positions AND re-derive
    * exact column stats over the SURVIVING rows. The grouped result never
    * leaves the executors: a `mapPartitions` over it merges each file's
    * prior vector (read executor-side) with its fresh positions and
    * writes the merged sidecar inside the task; the driver collects one
    * row per touched file — (entry, sidecar, cardinality, live count,
    * refreshed stats), O(touched files × columns), never O(deleted rows).
    * That is the difference between a key-scattered 100 TB delete whose
    * positions land gigabytes on the driver and one whose driver cost is
    * the manifest arithmetic it already pays.
    *
    * Survivor-exact stats are marked [[ColStat.live]] so metadata-only
    * aggregates ([[graft.plans.MetaAggregates]]) keep answering
    * count(col)/min/max under deletion vectors; refreshed bounds are also
    * tighter pruning ranges (reads apply the vector, so skipping a file
    * whose only matching rows are deleted is correct). Only the "long"
    * stat domain refreshes (ints, dates as epoch days, timestamps as
    * epoch micros — exactly what MetaAggregates trusts); string/double
    * columns keep their footer stats, which stay sound
    * over-approximations. A column whose survivors are all NULL loses its
    * stat (the [lo, hi] encoding cannot state it; absent stats are never
    * wrong). Task retries can strand orphan sidecars (nonce-unique names
    * no manifest references) — [[expire]]'s orphan sweep removes them.
    *
    * Returns (updated per-file vectors, refreshed per-file stats) for the
    * files the scan actually saw live rows of; fully-dead files keep
    * their old entries untouched. */
  private def vectoredDmlPass(spark: SparkSession, root: String, v: Int,
                              m: Manifest, touched: Seq[String],
                              mark: DataFrame => DataFrame)
      : (Map[String, FileDv], Map[String, Seq[ColStat]]) = {
    if (touched.isEmpty) return (Map.empty, Map.empty)
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType.fromDDL(m.schemaDdl)
    // only IDENTITY layout columns live solely in directories (absent
    // from data files, so their stats can't refresh); a transform's
    // source column is a normal file column and refreshes like any other
    val partCols = m.partitionCols.map(Layout.parse)
      .collect { case Layout.Identity(c) => c }.toSet
    val priorDvs: Map[String, FileDv] =
      touched.flatMap(f => m.dvs.get(f).map(f -> _)).toMap
    val confB = hadoopConfBc(spark)
    val scanned0 = readRawWithDefaults(spark, root, m, touched.toSeq,
      m.partitionedRead, withMeta = true)
    // rows a prior vector hides are already deleted: not survivors, and
    // never re-marked — fresh positions stay disjoint from the prior
    // vector, so the executor-side sidecar merge is a sorted-array
    // union. The filter is the LAZY expression: prior vectors load on
    // the executors, never through the driver (same contract as the
    // sidecar WRITES below).
    val scanned =
      if (priorDvs.isEmpty) scanned0
      else {
        val refs = spark.sparkContext.broadcast(
          priorDvs.map { case (f, d) => f -> d.dvFile })
        scanned0.filter(not(Bridge.toColumn(graft.functions.DvDeletedLazyExpr(
          Bridge.toExpression(col(DvFileCol)),
          Bridge.toExpression(col(DvPosCol)), refs, root, confB))))
      }
    val del = col(DelCol) <=> lit(true)
    val surv = !del
    // refreshable columns: canonical long-domain rendering per type
    // (decimals ride in the UNSCALED domain — exact for p<=18, the same
    // encoding indexSums stores, so attached decimal sums stay fresh
    // through vectored deletes exactly like integral ones)
    val statCols: Seq[(String, Column, String)] =
      schema.fields.toSeq.filterNot(f => partCols.contains(f.name)).flatMap { f =>
        val c = col(f.name)
        f.dataType match {
          case ByteType | ShortType | IntegerType | LongType =>
            Some((f.name, c.cast(LongType), ""))
          case DateType => Some((f.name, unix_date(c).cast(LongType), "date"))
          case TimestampType => Some((f.name, unix_micros(c), "ts-micros"))
          case d: DecimalType if d.precision <= 18 =>
            Some((f.name,
              (c * lit(java.math.BigDecimal.ONE.scaleByPowerOfTen(d.scale)))
                .cast(LongType), s"dec${d.scale}"))
          case _ => None
        }
      }
    val aggs: Seq[Column] =
      Seq(sort_array(collect_list(when(del, col(DvPosCol)))).as("__ps"),
        count(when(surv, lit(1))).as("__live")) ++
        statCols.zipWithIndex.flatMap { case ((_, lc, _), i) => Seq(
          min(when(surv, lc)).as(s"__lo$i"),
          max(when(surv, lc)).as(s"__hi$i"),
          count(when(surv, lc)).as(s"__nn$i"),
          // survivor sum in the same pass: keeps ColStat.sum (attached
          // by indexSums) exact through vectored deletes for free.
          // try_sum, NOT sum: under ANSI a plain sum ABORTS the whole
          // DML when any file's survivor total overflows Long (real for
          // epoch-micros canonical values — ~25k rows of 2024 timestamps
          // cross 2^63), and under legacy it would store a silently
          // WRAPPED value a later ANSI query would serve as truth.
          // try_sum yields NULL on overflow → the sum field is dropped
          // for that file (stored sums are always exact or absent).
          try_sum(when(surv, lc)).as(s"__sm$i"))
        }
    val grouped = mark(scanned).groupBy(col(DvFileCol))
      .agg(aggs.head, aggs.tail: _*)
    val priorB = spark.sparkContext.broadcast(priorDvs)
    val touchedB = spark.sparkContext.broadcast(touched)
    val rootS = root
    val nStats = statCols.size
    val results: Array[(String, String, Long, Long, Seq[(Int, Long, Long, Long, Option[Long])])] =
      grouped.mapPartitions { it =>
        val conf = confB.value.value
        val resolve = graft.functions.DvDeletedExpr.resolverFor(touchedB.value)
        it.flatMap { row =>
          resolve(row.getString(0)).iterator.map { entry =>
            val fresh: Array[Long] = row.getSeq[Long](1).toArray
            val live = row.getLong(2)
            val stats: Seq[(Int, Long, Long, Long, Option[Long])] =
              (0 until nStats).toList.flatMap { i =>
                if (row.isNullAt(3 + 4 * i)) Nil // all-null survivors (or none)
                else List((i, row.getLong(3 + 4 * i), row.getLong(4 + 4 * i),
                  row.getLong(5 + 4 * i),
                  // bounds non-null but sum NULL = try_sum overflow
                  if (row.isNullAt(6 + 4 * i)) None
                  else Some(row.getLong(6 + 4 * i))))
              }
            val (dvName, card) =
              if (fresh.isEmpty) priorB.value.get(entry) match {
                case Some(d) => (d.dvFile, d.card) // vector unchanged
                case None => ("", 0L)
              } else {
                val merged = priorB.value.get(entry) match {
                  case Some(d) =>
                    val p = new Path(rootS, d.dvFile)
                    val in = p.getFileSystem(conf).open(p)
                    val bytes =
                      try org.apache.commons.io.IOUtils.toByteArray(in)
                      finally in.close()
                    val prior = decodeDvPositions(bytes)
                    // disjoint sorted union
                    val out = new Array[Long](prior.length + fresh.length)
                    var a = 0; var b = 0; var k = 0
                    while (a < prior.length && b < fresh.length) {
                      if (prior(a) <= fresh(b)) { out(k) = prior(a); a += 1 }
                      else { out(k) = fresh(b); b += 1 }
                      k += 1
                    }
                    while (a < prior.length) { out(k) = prior(a); a += 1; k += 1 }
                    while (b < fresh.length) { out(k) = fresh(b); b += 1; k += 1 }
                    out
                  case None => fresh
                }
                val dir = new Path(rootS, "dv")
                val dfs = dir.getFileSystem(conf)
                dfs.mkdirs(dir)
                val nonce = java.util.UUID.randomUUID().toString.take(8)
                val base = entry.substring(entry.lastIndexOf('/') + 1)
                val name = s"dv-v$v-$nonce-$base.gdv"
                val out = dfs.create(new Path(dir, name), false)
                try out.write(encodeDvPositions(merged)) finally out.close()
                (s"dv/$name", merged.length.toLong)
              }
            (entry, dvName, card, live, stats)
          }
        }
      }.collect()
    lastDmlPassCollected = results.length
    val updatedDvs = results.collect {
      case (e, dv, card, _, _) if dv.nonEmpty => e -> FileDv(dv, card)
    }.toMap
    val refreshable = statCols.map(_._1).toSet
    val refreshedStats = results.map { case (e, _, _, live, sts) =>
      val kept = m.stats.getOrElse(e, Seq.empty)
        .filterNot(s => refreshable.contains(s.col))
      val fresh = sts.map { case (i, lo, hi, nonNull, sm) =>
        val (name, _, unit) = statCols(i)
        // sums only for the summable domains: integrals (unit "") and
        // unscaled decimals ("dec<s>") — a "sum of epoch micros"
        // invites misuse and answers nothing
        ColStat(name, if (unit.startsWith("dec")) "dec" else "long",
          lo.toString, hi.toString,
          nulls = live - nonNull, unit = unit, live = true,
          sum = if (unit.isEmpty || unit.startsWith("dec")) sm else None)
      }
      e -> (kept ++ fresh)
    }.toMap
    (updatedDvs, refreshedStats)
  }

  /** DELETE WHERE as a MERGE-ON-READ commit — deletion vectors instead of
    * file rewrites. [[deleteWhere]] is copy-on-write: a predicate whose
    * matches scatter across a 100 TB table rewrites nearly every file to
    * drop a fraction of a percent of its rows. This variant writes NO data
    * file: per touched file it records the matching rows' POSITIONS
    * (`_metadata.row_index`, stable because data files are immutable) as a
    * delta-varint sidecar under `dv/`, and the new manifest references the
    * same files plus the vectors. Readers apply the vector as a codegen'd
    * broadcast-membership filter at scan time ([[DvDeletedExpr]]); any
    * later rewrite of a file — CoW delete, merge, [[compactWhere]] —
    * MATERIALIZES its vector and drops it, so vectors never stack past one
    * per file (a re-delete MERGES positions into one new sidecar).
    *
    * Same contract as [[deleteWhere]]: `preds` prunes, `condition` decides
    * (rows where it is not TRUE survive — NULL keeps the row), time travel
    * reads the pre-delete data (each version pins its own immutable
    * sidecars). Write cost: one scan of the pruned files + bytes ∝ deleted
    * positions — a point delete against a 100 TB table is metadata-sized,
    * and the position sets never transit the driver ([[vectoredDmlPass]]
    * writes sidecars executor-side; the driver collects one metadata row
    * per touched file). BULK deletes (a large fraction of the table) may
    * still prefer the CoW variant — the rewrite resets the vector and
    * re-compacts. Returns the new version. */
  def deleteWhereVectored(spark: SparkSession, root: String, preds: RangePreds,
                          condition: org.apache.spark.sql.Column): Int = {
    import org.apache.spark.sql.functions.lit
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val touched = prunedFiles(spark, root, preds, Some(cur))
    val v = cur + 1
    // IS TRUE, not a bare filter: the delete-set is rows where the
    // condition PROVABLY holds (NULL survives — SQL DELETE semantics)
    val (updated, refreshed) = vectoredDmlPass(spark, root, v, m, touched,
      _.withColumn(DelCol, condition <=> lit(true)))
    // same files, new vectors; touched files get survivor-exact stats
    // (blooms/HLLs stay conservative over-approximations — pruning may
    // open a file whose matches are all deleted; it returns nothing)
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      dvUpdates = updated, refreshedStats = refreshed,
      op = "delete-vectored"))
  }

  /** UPDATE WHERE as a MERGE-ON-READ commit — the third MoR DML next to
    * [[deleteWhereVectored]] and [[mergeIntoVectored]]: rows where
    * `condition` IS TRUE are vectored away from their files and
    * re-written, with `set` applied, as NEW data files — one atomic
    * version, no target file rewrites. A copy-on-write update's write
    * amplification is bounded by the predicate's file locality (a
    * scattered predicate rewrites nearly everything at 100 TB); here
    * write cost is O(matched rows) regardless.
    *
    * `set` maps column → expression evaluated over the row's OLD values
    * (standard UPDATE semantics: `SET a = b, b = a` swaps — all
    * right-hand sides see the pre-update row, which is why the new rows
    * build from ONE select, not chained withColumns). Expressions cast
    * to the column's declared type; unknown columns are refused.
    * `preds` prunes which files are scanned; a NULL condition keeps the
    * row (SQL semantics, matching the deletes). The matched-position
    * sidecars write executor-side ([[vectoredDmlPass]] — the same
    * driver-boundedness contract), and touched files get survivor-exact
    * live stats. Time travel sees the pre-update data. Returns the new
    * version. */
  def updateWhereVectored(spark: SparkSession, root: String, preds: RangePreds,
                          condition: org.apache.spark.sql.Column,
                          set: Map[String, org.apache.spark.sql.Column]): Int = {
    import org.apache.spark.sql.functions.{col, lit}
    require(set.nonEmpty, "updateWhereVectored needs at least one SET column")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val unknown = set.keys.filterNot(c => schema.fieldNames.contains(c))
    require(unknown.isEmpty, s"SET on unknown column(s): ${unknown.mkString(", ")}")
    // a random-valued condition would mark DIFFERENT rows in the vector
    // pass and the rewrite — rows silently lost or duplicated (the
    // reason Delta refuses nondeterministic UPDATE conditions). The
    // check runs on the ANALYZED predicate: an unresolved
    // expr("rand() < 0.5") reports deterministic until resolution turns
    // the function call into the real Rand expression.
    val analyzedCond = readPaths(spark, m.schemaDdl, Seq.empty)
      .filter(condition).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
    require(analyzedCond.forall(c => !c.exists(e => !e.deterministic)),
      "updateWhereVectored refuses a nondeterministic condition: the two " +
        "halves of the update (vector away, re-write) must mark the SAME rows")
    val touched = prunedFiles(spark, root, preds, Some(cur))
    val v = cur + 1
    // ONE evaluation of the condition feeds BOTH halves: the marked scan
    // is cached, so the vector pass and the rewrite read the same
    // verdicts even for time-dependent predicates (now() resolves per
    // QUERY — two independent jobs would run at different instants and
    // rows crossing the boundary would vector away without re-landing).
    // The cache is released on EVERY exit path, including a failure
    // inside the vector pass itself.
    var marked: Option[DataFrame] = None
    val (updated, refreshed, added) =
      try {
        val (u, r) = vectoredDmlPass(spark, root, v, m, touched,
          df => {
            val mk = df.withColumn(DelCol, condition <=> lit(true)).persist()
            marked = Some(mk)
            mk
          })
        // the updated copies: the matched rows of the SAME marked scan,
        // re-projected with every SET expression over the OLD row
        // (single select — chained withColumn would leak new values into
        // later expressions), cast back to the declared column types.
        // An empty touched set still COMMITS (an empty version) so every
        // DML bumps the version exactly once, like the deletes.
        val setRows = marked
          .map(_.filter(col(DelCol)))
          .getOrElse(readPaths(spark, m.schemaDdl, Seq.empty))
          .select(schema.fields.toSeq.map(f =>
            set.get(f.name).map(_.cast(f.dataType)).getOrElse(col(f.name))
              .as(f.name)): _*)
        // GENERATED columns not explicitly SET recompute over the
        // post-SET row (second select, so they see the new source
        // values) — Delta's recipe: updating a source keeps the
        // generated column consistent without the caller restating it
        val newRows =
          if (m.gens.isEmpty || m.gens.keys.forall(set.contains)) setRows
          else setRows.select(schema.fields.toSeq.map { f =>
            m.gens.get(f.name).filterNot(_ => set.contains(f.name)) match {
              case Some(e) => org.apache.spark.sql.functions.expr(e)
                .cast(f.dataType).as(f.name)
              case None => col(f.name)
            }
          }: _*)
        (u, r, writeDataFiles(spark, root, newRows, v, m.partitionCols,
          m.physMap))
      } finally marked.foreach(_.unpersist())
    enforceChecks(spark, root, m.checks ++ genChecks(m.gens, m.schemaDdl),
      m.schemaDdl, m.partitionCols.nonEmpty, m.physMap, added)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      addedFiles = added, addedStats = addedStats, addedRows = addedRows,
      dvUpdates = updated, refreshedStats = refreshed,
      op = "update-vectored"))
  }

  /** MERGE INTO (upsert by key) as a commit — the third copy-on-write DML
    * next to [[overwrite]] and [[deleteWhere]]: target rows whose key
    * matches a source row are REPLACED by the source row; source rows
    * with no match are INSERTED. The SOURCE's observed key bounds prune
    * which target files can possibly hold a matched key (manifest stats,
    * no target scan); only those files rewrite (their unmatched rows kept
    * via anti-join), everything else carries over by name with its stats.
    * Write amplification is bounded by the source's key locality — a
    * day's upsert batch against a key-ordered table rewrites only that
    * day's files. Source keys must be unique (the usual MERGE contract);
    * schema must match the table. Earlier versions time-travel to the
    * pre-merge data.
    *
    * `deletes` (key columns only) removes matching target rows in the
    * SAME commit — the full CDC apply (upsert + delete) as one atomic
    * version. `txn` makes the merge idempotent per transaction id
    * (the [[appendTxn]] ledger): a foreachBatch CDC writer replaying a
    * micro-batch is refused the double-apply. */
  /** Materialize a merge row set ONCE (the Delta merge
    * materializeSource shape): the commit paths evaluate their source
    * THREE times — key-bounds agg, DV-mark/anti join, data-file write —
    * and per-action Catalyst analysis + AQE planning of a multi-branch
    * merge dataflow costs 150-600 ms EACH on top of re-running its
    * joins (measured r18, q233: ~14 executions x ~0.3 s of pure
    * planning gaps). localCheckpoint truncates the plan to a LogicalRDD:
    * one evaluation, near-zero re-planning for the remaining passes,
    * and any nondeterministic source expression is FIXED across them.
    * Bounded: the row set is the merge's changed rows (CDC-batch-sized,
    * never table-sized — the same bound Delta's materialization
    * accepts). */
  private def materializeOnce(spark: SparkSession, df: DataFrame)
      : (DataFrame, () => Unit) =
    if (alreadyTruncated(df)) (df, () => ())
    else org.apache.spark.sql.graftbridge.Bridge.materializeReleasable(spark, df)

  /** A frame that is just deterministic narrow ops over an
    * already-materialized leaf (LogicalRDD / LocalRelation) gains
    * nothing from a second materialization: re-evaluation is one cheap
    * deterministic pass with trivial planning, and the rows are already
    * fixed. Skipping avoids a pointless copy+persist job per merge when
    * the CALLER materialized (applyChanges hands the merge filters over
    * its own materialized winner set — r19). */
  private def alreadyTruncated(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LocalRelation => true
      case r: org.apache.spark.sql.execution.LogicalRDD => !r.isStreaming
      case f: Filter => f.condition.deterministic && narrow(f.child)
      case pr: Project =>
        pr.projectList.forall(_.deterministic) && narrow(pr.child)
      case a: SubqueryAlias => narrow(a.child)
      case u: Union => u.children.forall(narrow)
      case _ => false
    }
    narrow(df.queryExecution.analyzed)
  }

  /** MERGE INTO as a COPY-ON-WRITE commit (upsert by `keys`, plus
    * optional same-commit deletes by key, `txn`-idempotent): the
    * stats-pruned files that may hold a touched key are rewritten
    * without those keys' rows, the source rows land beside them, and
    * every other file carries over by name. The same write job also
    * stages the commit's change files ([[stageFiles]]): the touched rows
    * whose key is upserted or deleted (pre-images, −1) in files of their
    * own, and the source rows (post-images, +1), whose data files are
    * kept apart from the carried rows, so [[changesBetween]] over this
    * one commit opens no other file. A merge whose keys prune every file
    * away is a pure append and writes no change file. Every copy-on-write merge
    * face commits through here: `mergeIntoWhen*` with `vectored = false`
    * and [[mergeIntoEvolve]]. */
  def mergeInto(spark: SparkSession, root: String, source0: DataFrame,
                keys: Seq[String], deletes0: Option[DataFrame] = None,
                txn: Option[Long] = None): Int = {
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    // materialized sources are RELEASED after the commit (finally below):
    // the persisted blocks otherwise linger until GC — r19 fix
    val (source, releaseSrc) = materializeOnce(spark, source0)
    val matDel = deletes0.map(materializeOnce(spark, _))
    val deletes = matDel.map(_._1)
    try {
    val m = readManifest(spark, root, cur)
    import org.apache.spark.sql.functions.{max => fmax, col,
      coalesce, lit, monotonically_increasing_id, when, struct}
    // Row tracking, SAME contract as the vectored path: a business
    // source WITHOUT _row_id gets it engine-filled — matched keys
    // preserve the current row's id via a lookup join over the touched
    // slice, inserts get fresh band-assigned ids. The raw source
    // validates against the schema sans the engine-owned column.
    val tracked = m.props.get(PropRowTracking).contains("true") &&
      !source.schema.fieldNames.contains(RowIdCol)
    if (!tracked) requireWriteCompatible(m.schemaDdl, source, "merge")
    else {
      val sansId = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .fields.filterNot(_.name == RowIdCol))
      requireWriteCompatible(sansId.toDDL, source, "merge")
    }
    // every key this commit touches: upserted + deleted
    val allKeys = deletes match {
      case Some(d) => source.select(keys.map(col): _*)
        .unionByName(d.select(keys.map(col): _*))
      case None => source.select(keys.map(col): _*)
    }
    val touched =
      prunedFiles(spark, root, keyRangePreds(allKeys, keys), Some(cur)).toSet
    val schemaFields = org.apache.spark.sql.types.StructType
      .fromDDL(m.schemaDdl).fieldNames.toSeq
    val source2 =
      if (!tracked) source
      else {
        // max() deduplicates a key present in several files — ONE
        // deterministic surviving id, like the vectored path
        val idMap = readSnapshotFiles(spark, root, m, touched.toSeq)
          .groupBy(keys.map(col): _*)
          .agg(fmax(col(RowIdCol)).as("__graft_cur_rid"))
        source.join(idMap, keys, "left")
          .withColumn(RowIdCol, coalesce(col("__graft_cur_rid"),
            (monotonically_increasing_id() + lit(m.ids(RowIdCol)))
              .cast("long")))
          .drop("__graft_cur_rid")
          .select(schemaFields.map(col): _*)
      }
    val v = cur + 1
    // a merge that touches no file is a pure append: its file diff is
    // already one-sided, so it writes no change rows. Otherwise ONE scan
    // of the touched slice tags each row: a row whose key is upserted or
    // deleted is a pre-image, every other row carries over, and the
    // source rows are the post-images (their files are data files too)
    val merged =
      if (touched.isEmpty) source2
      else {
        // an existence join against the broadcast keys: a NULL key
        // matches nothing, and a duplicated key tags each row once
        val key = if (keys.size == 1) col(keys.head) else struct(keys.map(col): _*)
        readSnapshotFiles(spark, root, m, touched.toSeq)
          .withColumn(ChangeSide, when(coalesce(key.isin(allKeys), lit(false)),
            lit(SidePre)).otherwise(lit(SideData)))
          .unionByName(source2.withColumn(ChangeSide, lit(SidePost)))
      }
    val (added, changes) = stageFiles(spark, root, merged, v,
      m.partitionCols, m.physMap)
    enforceChecks(spark, root, m.checks ++ genChecks(m.gens, m.schemaDdl),
      m.schemaDdl, m.partitionCols.nonEmpty, m.physMap, added)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = touched, addedFiles = added,
      addedStats = addedStats, addedRows = addedRows, op = "merge",
      txn = txn,
      assignedIds = if (tracked) Set(RowIdCol) else Set.empty,
      changes = changes))
    } finally { releaseSrc(); matDel.foreach(_._2()) }
  }

  /** MERGE INTO as a MERGE-ON-READ commit: same contract as
    * [[mergeInto]] (upsert by key, optional same-commit deletes, txn
    * idempotence), but matched target rows are VECTORED AWAY
    * ([[deleteWhereVectored]]'s sidecars) and the source lands as new
    * data files — no target file rewrites at all. This is the CDC-apply
    * shape for a 100 TB key-scattered table: a CoW merge's write
    * amplification is bounded by the source's key LOCALITY, so a batch
    * whose keys spray across the keyspace (the usual CDC case) rewrites
    * nearly everything; here write cost is O(source rows + matched
    * positions) regardless of locality. The stats-pruned files are still
    * the only ones SCANNED (to locate matched positions). Compaction
    * later folds the vectors in. Readers of the new version see exactly
    * the CoW result; earlier versions time-travel to the pre-merge data. */
  def mergeIntoVectored(spark: SparkSession, root: String, source0: DataFrame,
                        keys: Seq[String], deletes0: Option[DataFrame] = None,
                        txn: Option[Long] = None): Int = {
    require(keys.nonEmpty, "mergeIntoVectored needs at least one key column")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    // materialized sources are RELEASED after the commit (finally below)
    val (source, releaseSrc) = materializeOnce(spark, source0)
    val matDel = deletes0.map(materializeOnce(spark, _))
    val deletes = matDel.map(_._1)
    try {
    val m = readManifest(spark, root, cur)
    import org.apache.spark.sql.functions.{col,
      coalesce, lit, monotonically_increasing_id, max => fmax2}
    // Row tracking: a source WITHOUT _row_id gets it engine-filled —
    // matched keys PRESERVE the current row's id (one lookup join over
    // the same key-pruned slice the vectored pass reads), inserts get
    // fresh band-assigned ids. A source that supplies _row_id itself
    // (a round-trip write-back) passes through untouched.
    val tracked = m.props.get(PropRowTracking).contains("true") &&
      !source.schema.fieldNames.contains(RowIdCol)
    if (!tracked) requireWriteCompatible(m.schemaDdl, source, "merge")
    else {
      // validate the RAW source up front, with the engine-owned id
      // column exempted (the engine supplies it): an extra source
      // column refuses like the untracked path instead of being
      // silently select-dropped after enrichment, and a missing column
      // gets the contract error, not a raw unresolved-column
      // AnalysisException out of the id join below
      val sansId = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
          .fields.filterNot(_.name == RowIdCol))
      requireWriteCompatible(sansId.toDDL, source, "merge")
    }
    val allKeys = deletes match {
      case Some(d) => source.select(keys.map(col): _*)
        .unionByName(d.select(keys.map(col): _*))
      case None => source.select(keys.map(col): _*)
    }
    val touched =
      prunedFiles(spark, root, keyRangePreds(allKeys, keys), Some(cur))
    val schemaFields = org.apache.spark.sql.types.StructType
      .fromDDL(m.schemaDdl).fieldNames.toSeq
    val source2 =
      if (!tracked) source
      else {
        // max() deduplicates a key present in several files — the merge
        // vectors ALL its rows away, so the preserved id must be ONE
        // deterministic survivor
        val idMap = readSnapshotFiles(spark, root, m, touched)
          .groupBy(keys.map(col): _*)
          .agg(fmax2(col(RowIdCol)).as("__graft_cur_rid"))
        val enriched = source.join(idMap, keys, "left")
          .withColumn(RowIdCol, coalesce(col("__graft_cur_rid"),
            (monotonically_increasing_id() + lit(m.ids(RowIdCol)))
              .cast("long")))
          .drop("__graft_cur_rid")
          .select(schemaFields.map(col): _*)
        requireWriteCompatible(m.schemaDdl, enriched, "merge")
        enriched
      }
    val v = cur + 1
    // every matched target row (marked by key equality against the
    // touched keys) is vectored away — a key present in several files
    // vectors them all. The pass writes sidecars executor-side and
    // refreshes the touched files' stats over their survivors; the
    // driver sees only per-file metadata, never the positions.
    val markKeys = allKeys.distinct
      .withColumn("__graft_mk", org.apache.spark.sql.functions.lit(true))
    val (updated, refreshed) = vectoredDmlPass(spark, root, v, m, touched,
      _.join(markKeys, keys, "left")
        .withColumn(DelCol, col("__graft_mk").isNotNull))
    val added = writeDataFiles(spark, root, source2, v, m.partitionCols,
      m.physMap)
    enforceChecks(spark, root, m.checks ++ genChecks(m.gens, m.schemaDdl),
      m.schemaDdl, m.partitionCols.nonEmpty, m.physMap, added)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    commitDelta(spark, root, m, CommitDelta(removedFiles = Set.empty,
      addedFiles = added, addedStats = addedStats, addedRows = addedRows,
      dvUpdates = updated, refreshedStats = refreshed,
      op = "merge-vectored", txn = txn,
      assignedIds = if (tracked) Set(RowIdCol) else Set.empty))
    } finally { releaseSrc(); matDel.foreach(_._2()) }
  }

  /** CONDITIONAL PARTIAL-ASSIGNMENT MERGE — the full `WHEN` grammar of
    * SQL MERGE (the reference's K5 `ON CONFLICT … DO UPDATE SET
    * <assignments>` semantics, load_to_postgis.py:260-269), compiled
    * onto the existing merge paths:
    *
    *   WHEN MATCHED [AND matchedCond] THEN UPDATE SET set
    *                                 | THEN DELETE  (matchedDelete)
    *   [WHEN NOT MATCHED THEN INSERT insert]
    *
    * Inside `matchedCond` / `set` values / `insert` values the TARGET
    * row is aliased `t` and the SOURCE row `s` (qualify clashing
    * names). Semantics: a matched target row satisfying the condition
    * is REPLACED by itself with the assignments applied (unassigned
    * columns keep the target's values); a matched row failing it is
    * UNTOUCHED; a source row matching nothing inserts `insert`'s
    * values (unlisted columns NULL) — or nothing when `insert` is
    * None. Source keys must be unique (the usual MERGE contract).
    *
    * The merged row set is BUILT here — one inner join over the
    * key-range-pruned matched slice, never the table — and committed
    * through [[mergeIntoVectored]] (`vectored = true`, the
    * key-scattered CDC shape: matched positions vector away, updates
    * land as new files) or [[mergeInto]] (CoW: touched files rewrite).
    * Only keys whose rows actually CHANGE travel, so cond-false rows
    * cost nothing in either path. Row-tracked tables keep matched ids
    * and assign fresh insert ids through the vectored path's own
    * enrichment. */
  def mergeIntoWhen(spark: SparkSession, root: String, source: DataFrame,
                    keys: Seq[String],
                    matchedCond: Option[org.apache.spark.sql.Column],
                    set: Map[String, org.apache.spark.sql.Column],
                    insert: Option[Map[String, org.apache.spark.sql.Column]],
                    matchedDelete: Boolean = false,
                    vectored: Boolean = true,
                    txn: Option[Long] = None): Int = {
    require(set.nonEmpty != matchedDelete,
      "WHEN MATCHED takes exactly one action: UPDATE SET assignments " +
        "or DELETE (matchedDelete)")
    mergeIntoWhenMulti(spark, root, source, keys,
      Seq(matchedCond ->
        (if (matchedDelete) MatchedDelete else MatchedUpdate(set))),
      insert, vectored, txn)
  }

  /** One WHEN MATCHED clause's action. */
  sealed trait MatchedAction
  final case class MatchedUpdate(
      set: Map[String, org.apache.spark.sql.Column]) extends MatchedAction
  case object MatchedDelete extends MatchedAction

  /** The ordered WHEN MATCHED grammar with a single unconditional
    * INSERT clause — see [[mergeIntoWhenFull]] for the complete
    * three-family grammar this delegates to. */
  def mergeIntoWhenMulti(spark: SparkSession, root: String,
                         source: DataFrame, keys: Seq[String],
                         matched: Seq[(Option[org.apache.spark.sql.Column], MatchedAction)],
                         insert: Option[Map[String, org.apache.spark.sql.Column]],
                         vectored: Boolean = true,
                         txn: Option[Long] = None): Int =
    mergeIntoWhenFull(spark, root, source, keys, matched,
      notMatched = insert.map(vals =>
        (None: Option[org.apache.spark.sql.Column]) -> vals).toSeq,
      bySource = Seq.empty, vectored = vectored, txn = txn)

  /** The COMPLETE three-family MERGE grammar (Delta's evaluation
    * rule: within each family clauses evaluate in order, the FIRST
    * condition-true clause claims the row, later clauses never see it):
    *
    *   WHEN MATCHED [AND cond] THEN UPDATE SET … | THEN DELETE   (ordered)
    *   WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES …   (ordered)
    *   WHEN NOT MATCHED BY SOURCE [AND cond]
    *     THEN UPDATE SET … | THEN DELETE                          (ordered)
    *
    * In each family every clause except the last must carry a
    * condition (an unconditional earlier clause would shadow
    * everything after it — the Delta contract). Target row aliased
    * `t`, source row `s`; NOT MATCHED conditions/values may reference
    * `s` only, NOT MATCHED BY SOURCE conditions/assignments `t` only
    * (the other side does not exist for those rows). Rows claimed by
    * no clause are UNTOUCHED and never travel.
    *
    * Scale shape: the matched and not-matched arms read only the
    * key-range-pruned slice (manifest stats from the SOURCE's observed
    * key bounds — never the table). The BY SOURCE arm inherently
    * anti-joins the FULL live table against the source keys (any file
    * anywhere may hold unmatched rows — the same full-target cost
    * Delta's BY SOURCE pays); with broadcast-sized source keys that is
    * one scan with no shuffle of the big side. Claimed rows travel as
    * rebuilt rows / same-commit delete keys through
    * [[mergeIntoVectored]] or [[mergeInto]] — one atomic version
    * either way, and their keys widen the commit's own pruning bounds
    * so the vector/rewrite pass still touches only stat-matching
    * files. */
  def mergeIntoWhenFull(spark: SparkSession, root: String,
                        source0: DataFrame, keys: Seq[String],
                        matched: Seq[(Option[org.apache.spark.sql.Column], MatchedAction)],
                        notMatched: Seq[(Option[org.apache.spark.sql.Column], Map[String, org.apache.spark.sql.Column])],
                        bySource: Seq[(Option[org.apache.spark.sql.Column], MatchedAction)] = Seq.empty,
                        vectored: Boolean = true,
                        txn: Option[Long] = None): Int = {
    import org.apache.spark.sql.functions.{col, lit, when}
    require(keys.nonEmpty, "merge needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    Seq("WHEN MATCHED" -> matched.map(_._1),
        "WHEN NOT MATCHED" -> notMatched.map(_._1),
        "WHEN NOT MATCHED BY SOURCE" -> bySource.map(_._1)).foreach {
      case (family, conds) => require(conds.dropRight(1).forall(_.nonEmpty),
        s"only the LAST $family clause may omit its condition — an " +
          "unconditional earlier clause would shadow everything after it")
    }
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    // The WHEN grammar consumes its source up to FOUR times before the
    // commit paths run — the bounds agg feeding the matched-slice
    // pruning, the matched join probe, the NOT MATCHED anti-join and
    // the BY SOURCE key set — and each consumer is a separate action
    // that re-evaluates (and re-plans) the caller's arbitrary source
    // dataflow. Materialize it ONCE up front (r19; the same Delta
    // materializeSource shape the inner merge paths apply to the built
    // row set) and release after the commit.
    val (source, releaseSrc) = materializeOnce(spark, source0)
    try {
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    val tracked = m.props.get(PropRowTracking).contains("true")
    // the business columns: under row tracking the engine owns _row_id —
    // assignments may not touch it, and the built row set omits it so
    // the merge paths' own enrichment preserves/assigns ids uniformly
    val fields = schema.fields.filterNot(tracked && _.name == RowIdCol)
    val allSets = (matched ++ bySource).collect {
      case (_, MatchedUpdate(set)) =>
        require(set.nonEmpty, "THEN UPDATE SET needs assignments")
        set
    }
    (allSets.flatMap(_.keySet) ++ notMatched.flatMap(_._2.keySet))
      .foreach(c => require(fields.exists(_.name == c),
        s"MERGE assigns unknown column $c (table: [${m.schemaDdl}])"))
    // SET must not rewrite the key (it would re-key the match itself);
    // INSERT listing the key is the normal spelling
    allSets.flatMap(_.keySet).foreach(c => require(!keys.contains(c),
      s"MERGE must not assign the key column $c"))
    keys.foreach(k => require(
      source.schema.fieldNames.contains(k) && fields.exists(_.name == k),
      s"key column $k must exist on both sides"))
    // tgt/joined are LAZY: a BY-SOURCE-only merge never consumes the
    // matched slice, so it skips the source bounds scan and the
    // manifest pruning pass entirely (mergeInto/mergeIntoVectored
    // derive their own bounds from the built row set anyway).
    // An empty frame in the declared row shape seeds the union when an
    // arm contributes nothing.
    val emptyShape = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(fields))
    // matched slice: stats-sound — every possible match lives in the
    // key-range-pruned files (same bounds the apply pass prunes by)
    lazy val tgt = {
      val touched = prunedFiles(spark, root,
        keyRangePreds(source.select(keys.map(col): _*), keys), Some(cur))
      readSnapshotFiles(spark, root, m, touched).alias("t")
    }
    val src = source.alias("s")
    lazy val joined = {
      val joinCond = keys.map(k => col(s"t.$k") === col(s"s.$k"))
        .reduce(_ && _)
      // first-condition-true clause claims the row; -1 = no clause (the
      // row stays untouched and never travels)
      val clauseIdx = matched.zipWithIndex
        .foldRight(lit(-1): org.apache.spark.sql.Column) {
          case (((cond, _), i), rest) =>
            when(cond.getOrElse(lit(true)), lit(i)).otherwise(rest)
        }
      tgt.join(src, joinCond, "inner")
        .withColumn("__graft_clause", clauseIdx)
    }
    // ONE pass per family (r18 optimization, guide §2.4): the clause
    // branches used to be a UNION of per-clause filtered projections of
    // the SAME join — k update clauses re-evaluated the join k times
    // (exchange reuse dedups the shuffle, not the join/probe work).
    // Collapsed: filter once to the claimed update rows, project each
    // field through a CASE over the claiming clause index. Identical
    // relation (the clause filters partition the rows; each row gets
    // exactly its clause's projection), one join evaluation. The filter
    // leaves only claimed rows, so the LAST clause's value is the CASE's
    // else: no null fallback, and a column stays NOT NULL when every
    // clause's value is.
    def caseProject(base: DataFrame, idxCol: String,
                    sets: Seq[(Int, Map[String, org.apache.spark.sql.Column])],
                    fallback: String => org.apache.spark.sql.Column): Seq[DataFrame] =
      if (sets.isEmpty) Seq.empty
      else Seq(base.filter(col(idxCol).isin(sets.map(_._1): _*))
        .select(fields.toSeq.map { f =>
          val vals = sets.map { case (i, set) =>
            i -> set.get(f.name).getOrElse(fallback(f.name)).cast(f.dataType) }
          vals.init.foldRight(vals.last._2) { case ((i, v), rest) =>
            when(col(idxCol) === i, v).otherwise(rest)
          }.as(f.name)
        }: _*))
    val updates = caseProject(joined, "__graft_clause",
      matched.zipWithIndex.collect { case ((_, MatchedUpdate(set)), i) => i -> set },
      n => col(s"t.$n"))
    val delIdx = matched.zipWithIndex.collect {
      case ((_, MatchedDelete), i) => i }
    val delKeys =
      if (delIdx.isEmpty) None
      else Some(joined.filter(col("__graft_clause").isin(delIdx: _*))
        .select(keys.map(k => col(s"t.$k").as(k)): _*))
    val inserts =
      if (notMatched.isEmpty) emptyShape
      else {
        // target keys under reserved names: a bare `k` on the right of
        // the anti-join would be ambiguous against the source's own k
        val unmatchedSrc = src.join(
            tgt.select(keys.map(k => col(s"t.$k").as(s"__graft_t_$k")): _*),
            keys.map(k => col(s"s.$k") === col(s"__graft_t_$k"))
              .reduce(_ && _),
            "left_anti")
        val insIdx = notMatched.zipWithIndex
          .foldRight(lit(-1): org.apache.spark.sql.Column) {
            case (((cond, _), i), rest) =>
              when(cond.getOrElse(lit(true)), lit(i)).otherwise(rest)
          }
        val tagged = unmatchedSrc.withColumn("__graft_ins", insIdx)
        // same single-pass collapse as the matched family: claimed
        // insert rows in one filter, per-clause values via CASE
        val insSets = notMatched.zipWithIndex.map { case ((_, vals), i) =>
          i -> fields.map(f =>
            f.name -> vals.get(f.name)
              .orElse(if (keys.contains(f.name)) Some(col(s"s.${f.name}"))
                      else None)
              .getOrElse(lit(null))).toMap
        }
        caseProject(tagged, "__graft_ins", insSets, _ => lit(null)).head
      }
    // BY SOURCE arm: target rows with NO source-key match, claimed by
    // their first condition-true clause. Inherently a full-live-table
    // anti-join (an unmatched row can live in any file — the same
    // full-target cost Delta's BY SOURCE pays); unclaimed rows never
    // travel, and claimed keys widen the commit's pruning bounds below.
    val (bsUpdates, bsDelKeys) =
      if (bySource.isEmpty) (Seq.empty[DataFrame], None)
      else {
        val allTgt = readSnapshotFiles(spark, root, m, m.files).alias("t")
        val srcKeys = source
          .select(keys.map(k => col(k).as(s"__graft_s_$k")): _*)
        val unmatchedTgt = allTgt.join(srcKeys,
          keys.map(k => col(s"t.$k") === col(s"__graft_s_$k"))
            .reduce(_ && _),
          "left_anti")
        val bsIdx = bySource.zipWithIndex
          .foldRight(lit(-1): org.apache.spark.sql.Column) {
            case (((cond, _), i), rest) =>
              when(cond.getOrElse(lit(true)), lit(i)).otherwise(rest)
          }
        val tagged = unmatchedTgt.withColumn("__graft_bys", bsIdx)
        val ups = caseProject(tagged, "__graft_bys",
          bySource.zipWithIndex.collect {
            case ((_, MatchedUpdate(set)), i) => i -> set },
          n => col(s"t.$n"))
        val dIdx = bySource.zipWithIndex.collect {
          case ((_, MatchedDelete), i) => i }
        val dk =
          if (dIdx.isEmpty) None
          else Some(tagged.filter(col("__graft_bys").isin(dIdx: _*))
            .select(keys.map(k => col(s"t.$k").as(k)): _*))
        (ups.toSeq, dk)
      }
    val built = ((updates ++ bsUpdates) :+ inserts).reduce(_ unionByName _)
    // a NOT NULL column some clause can set to NULL is checked per row
    // as the merge writes (Delta's invariant check): the first NULL
    // fails the merge with NotNullViolation, before anything commits
    val notNull = fields.filter(f => !f.nullable && built.schema(f.name).nullable)
      .map(_.name).toSet
    val merged = if (notNull.isEmpty) built else built.select(fields.toSeq.map { f =>
      if (!notNull(f.name)) col(f.name)
      else org.apache.spark.sql.graftbridge.Bridge.toColumn(
        org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
          org.apache.spark.sql.graftbridge.Bridge.toExpression(col(f.name)),
          Seq(f.name))).as(f.name)
    }: _*)
    val allDeletes = (delKeys, bsDelKeys) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b) => a.orElse(b)
    }
    try {
      if (vectored) mergeIntoVectored(spark, root, merged, keys,
        deletes0 = allDeletes, txn = txn)
      else mergeInto(spark, root, merged, keys, deletes0 = allDeletes, txn = txn)
    } catch {
      case e: Exception if notNull.nonEmpty =>
        throw Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .collect { case r: org.apache.spark.SparkThrowable
              if r.getCondition == "NOT_NULL_ASSERT_VIOLATION" =>
            r.getMessageParameters.get("walkedTypePath").trim }
          .find(notNull).map(new NotNullViolation(_)).getOrElse(e)
    }
    } finally releaseSrc()
  }

  /** A table-log file (manifest, checkpoint or txn file) at `path` that
    * is not a log document: not a JSON object, or a field it needs is
    * missing or of the wrong type. */
  final class CorruptManifestException(val path: String, reason: String,
                                       cause: Throwable = null)
      extends java.io.IOException(s"corrupt table log file $path: $reason", cause)

  /** A MERGE wrote NULL into NOT NULL column `column`; nothing was
    * committed. */
  final class NotNullViolation(val column: String)
      extends IllegalArgumentException(
        s"MERGE writes NULL into NOT NULL column $column; nothing was committed")

  /** APPLY CHANGES — fold a CDC changelog into the table with
    * SEQUENCE-GUARDED upserts (the Delta Live Tables APPLY CHANGES INTO
    * analog). `changes` carries the table's columns (including
    * `seqCol`, which the TABLE persists — that is what makes
    * out-of-order delivery safe ACROSS calls) plus an optional boolean
    * `deleteCol` op flag. Semantics, in one commit:
    *
    *  1. Within the batch, the winner per key is the max-`seqCol` row
    *     (deterministic tiebreak on the row hash — but sequencing
    *     SHOULD be unique per key, as in DLT).
    *  2. A winner older than the row the table already holds — equal
    *     or lower sequence — is DISCARDED: a late-arriving batch can
    *     never regress a key, and replaying any batch is a no-op.
    *  3. A surviving winner flagged `deleteCol` deletes the key; the
    *     rest upsert ([[mergeIntoVectored]] — merge-on-read, one
    *     commit, txn-idempotent). A guarded delete whose key holds a
    *     NEWER row leaves it untouched.
    *
    * Scale shape: the stale-guard join reads ONLY the key-range-pruned
    * touched files (the same bounds [[mergeIntoVectored]] prunes by),
    * never the table; the changelog is aggregated once per key. At
    * 100 TB an out-of-order CDC feed (the normal state of a partitioned
    * log) folds in at delta cost with no coordinator ordering step. */
  def applyChanges(spark: SparkSession, root: String, changes: DataFrame,
                   keys: Seq[String], seqCol: String,
                   deleteCol: Option[String] = None,
                   txn: Option[Long] = None): Int = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.Bridge
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(seqCol),
      s"applyChanges needs the table to persist the sequence column " +
        s"$seqCol — that is what guards out-of-order delivery across calls")
    deleteCol.foreach(dc => require(changes.schema.fieldNames.contains(dc),
      s"changes frame lacks the delete-flag column $dc"))
    // full-row-image contract, checked HERE so a schema change racing
    // between the caller building `changes` and this call surfaces as
    // the documented refusal — not as an AnalysisException leaking from
    // an internal select (the focused rename/rollback race found this)
    locally {
      val have = changes.schema.fieldNames.toSet
      // under row tracking the engine OWNS _row_id: a CDC feed is not
      // expected to carry it — the merge below preserves matched keys'
      // ids and assigns fresh ones to inserts
      val engineOwned =
        if (m.props.get(PropRowTracking).contains("true")) Set(RowIdCol)
        else Set.empty[String]
      val lacking = schema.fieldNames
        .filterNot(have.contains).filterNot(engineOwned.contains)
      require(lacking.isEmpty,
        s"applyChanges changes frame must carry every table column " +
          s"(full row images); missing: ${lacking.mkString(", ")} — if a " +
          "schema change raced this call, rebuild the frame and re-run")
      keys.foreach(k => require(have.contains(k) &&
        schema.fieldNames.contains(k), s"key column $k must exist in " +
        "both the changes frame and the table"))
    }
    // 1. batch-local winner per key
    val dataCols = changes.schema.fieldNames.filterNot(deleteCol.contains)
    // the tiebreak hash must SEE the op: a same-key equal-sequence
    // delete+upsert pair carrying identical row images would otherwise
    // hash identically and row_number would pick delete-vs-keep
    // arbitrarily — coalesce(flag, false) so NULL and false agree
    val tieCols = dataCols.map(col).toSeq ++ deleteCol.map(dc =>
      coalesce(col(dc).cast("boolean"), lit(false)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(seqCol).desc, xxhash64(tieCols: _*).desc)
    // The winner set feeds the pruning bounds, the stale-guard join,
    // and both op splits — FOUR consumers of one frame. Materialize it
    // (and below, the stale-guard survivors) ONCE, the Delta merge
    // materializeSource rule: re-evaluated, keys could appear OUTSIDE
    // the bounds the first pass captured, their target files prune
    // away, their current rows go unseen, and a STALE change slips the
    // guard. Separate actions reuse no shuffle either, so each consumer
    // would re-run the whole batch window AND re-pay Catalyst/AQE
    // planning of the full dataflow (70-400 ms per execution, ProfileQ
    // q219/q220). With winners and fresh truncated to LogicalRDDs, the
    // downstream merge sees already-materialized narrow frames and
    // skips its own source materialization (alreadyTruncated).
    val (winners, releaseW) = Bridge.materializeReleasable(spark, changes
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1).drop("__graft_rn"))
    try {
      // 2. stale-guard against the CURRENT row, reading only the pruned
      // key range; NULL target seq (new key, or pre-seq file) admits
      val preds: RangePreds =
        keyRangePreds(winners.select(keys.map(col): _*), keys)
      val curSeq = readWhere(spark, root, preds, Some(cur))
        .select((keys.map(col) :+ col(seqCol).as("__graft_cur_seq")): _*)
      val fresh0 = winners.join(curSeq, keys, "left")
        .filter(col("__graft_cur_seq").isNull ||
          col(seqCol) > col("__graft_cur_seq"))
        .drop("__graft_cur_seq")
      val (fresh, releaseF) = Bridge.materializeReleasable(spark, fresh0)
      try {
        // 3. split ops and land as ONE merge-on-read commit
        val (ups, dels) = deleteCol match {
          case Some(dc) =>
            (fresh.filter(!coalesce(col(dc), lit(false))).drop(dc),
              Some(fresh.filter(coalesce(col(dc), lit(false)))
                .select(keys.map(col): _*)))
          case None => (fresh, None)
        }
        val ordered = ups.select(schema.fieldNames.toSeq
          .filter(ups.columns.contains).map(col): _*)
        mergeIntoVectored(spark, root, ordered, keys, deletes0 = dels,
          txn = txn)
      } finally releaseF()
    } finally releaseW()
  }

  /** MERGE with SCHEMA EVOLUTION (the Delta `withSchemaEvolution`
    * recipe): before the merge, the table's schema grows to absorb the
    * source — source-only columns are ADDED (metadata-only; existing
    * rows read NULL), and a table column whose source type is strictly
    * wider WIDENS through the same lossless lattice as
    * [[alterColumnType]]. Then the merge itself preserves matched rows'
    * values for table columns the source does NOT carry (Delta's
    * `UPDATE SET *` semantics: unsupplied columns keep their old
    * values, inserts get NULL) — one extra broadcast-or-shuffle join
    * against ONLY the stats-pruned touched files, never the table.
    *
    * Schema changes and the merge are SEPARATE commits (schema DDLs are
    * metadata-only and the conflict-rebase walk refuses racing schema
    * changes, so folding both into one delta would weaken that
    * protection). A crash between them leaves added nullable columns
    * and no merge — harmless, and the txn ledger keeps the re-run
    * idempotent. Keys must be unique in the target (the standing merge
    * contract). `vectored = true` delegates to [[mergeIntoVectored]]
    * (merge-on-read), else [[mergeInto]] (copy-on-write). */
  def mergeIntoEvolve(spark: SparkSession, root: String, source: DataFrame,
                      keys: Seq[String], deletes: Option[DataFrame] = None,
                      txn: Option[Long] = None,
                      vectored: Boolean = false): Int = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.StructType
    require(keys.nonEmpty, "mergeIntoEvolve needs at least one key column")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    if (txn.exists(committedTxns(spark, root).contains)) return cur
    val schema0 = StructType.fromDDL(readManifest(spark, root, cur).schemaDdl)
    require(keys.forall(k => schema0.fieldNames.contains(k) &&
      source.schema.fieldNames.contains(k)),
      s"merge keys $keys must exist in both table and source")
    // 1. widen table columns the source carries strictly wider
    source.schema.fields.foreach { sf =>
      schema0.find(_.name == sf.name).foreach { tf =>
        if (tf.dataType != sf.dataType) {
          if (canWiden(tf.dataType, sf.dataType))
            alterColumnType(spark, root, sf.name, sf.dataType.sql)
          else require(canWiden(sf.dataType, tf.dataType),
            s"merge cannot reconcile ${sf.name}: table has " +
              s"${tf.dataType.simpleString}, source has " +
              s"${sf.dataType.simpleString}, and neither widens to the other")
        }
      }
    }
    // 2. add source-only columns (nullable, no default — inserts and
    // pre-existing rows both read NULL, the Delta evolution rule)
    source.schema.fields
      .filterNot(f => schema0.fieldNames.contains(f.name))
      .foreach(f => addColumn(spark, root, f.name, f.dataType.sql))
    val cur2 = currentVersion(spark, root).get
    val m2 = readManifest(spark, root, cur2)
    val schema2 = StructType.fromDDL(m2.schemaDdl)
    // 3. cast the source onto the (possibly widened) table types
    val srcCast = source.select(source.schema.fields.toSeq.map { f =>
      val tf = schema2(f.name)
      if (f.dataType == tf.dataType) col(f.name)
      else col(f.name).cast(tf.dataType).as(f.name)
    }: _*)
    // 4. matched-row preservation for table columns the source lacks:
    // left-join the source against the touched files' current rows —
    // matched rows keep their values, inserts stay NULL
    val srcNames = source.schema.fieldNames.toSet
    // a missing GENERATED column never joins from the target: its
    // expression recomputes it exactly — for matched rows (the invariant
    // already held there) AND for inserts (where a target join would
    // leave NULL and the staged genCheck would refuse)
    val missing = schema2.fieldNames.filterNot(c =>
      srcNames.contains(c) || m2.gens.contains(c)).toSeq
    val sourceEff =
      if (missing.isEmpty) srcCast
      else {
        val touched = prunedFiles(spark, root,
          keyRangePreds(srcCast.select(keys.map(col): _*), keys), Some(cur2))
        val target = readSnapshotFiles(spark, root, m2, touched)
          .select((keys ++ missing).map(col): _*)
        srcCast.join(target, keys, "left")
      }
    val ordered = sourceEff.select(schema2.fields.toSeq.map { f =>
      if (!srcNames.contains(f.name) && m2.gens.contains(f.name))
        org.apache.spark.sql.functions.expr(m2.gens(f.name))
          .cast(f.dataType).as(f.name)
      else col(f.name)
    }: _*)
    if (vectored) mergeIntoVectored(spark, root, ordered, keys, deletes, txn)
    else mergeInto(spark, root, ordered, keys, deletes, txn)
  }

  /** Touched-key bounds as range predicates — the stats-pruning input
    * every merge shape shares; only stats-comparable domains prune. */
  private def keyRangePreds(allKeys: DataFrame,
                            keys: Seq[String]): RangePreds = {
    import org.apache.spark.sql.functions.{col, min => fmin, max => fmax}
    val aggCols = keys.flatMap(k => Seq(fmin(col(k)), fmax(col(k))))
    val bounds = allKeys.agg(aggCols.head, aggCols.tail: _*).head
    keys.zipWithIndex.flatMap { case (k, i) =>
      (bounds.get(2 * i), bounds.get(2 * i + 1)) match {
        case (lo: Any, hi: Any)
          if lo.isInstanceOf[Number] || lo.isInstanceOf[String] =>
          Some(k -> (Some(lo): Option[Any], Some(hi): Option[Any]))
        case _ => None
      }
    }.toMap
  }

  /** Change data feed between two committed versions: (rowsAdded,
    * rowsRemoved) as multisets — an update surfaces as remove(old row) +
    * add(new row), and a row rewritten unchanged surfaces in neither.
    * When `toV` is ONE copy-on-write merge commit ([[mergeInto]] and every
    * merge face over it) that wrote change files, both sides come from
    * those small files: its pre-images and the files of its source rows.
    * Otherwise, because data files are immutable and every
    * commit carries files over BY NAME, the diff reads ONLY the file-set
    * difference — rows in files toV references but fromV doesn't, minus
    * rows both sides re-wrote unchanged (multiset EXCEPT ALL both ways,
    * so a compaction that rewrites identical rows into new files reports
    * no changes) — plus the rows of carried files whose deletion vectors
    * changed. Carried-over files are never opened: a small merge against
    * a huge table diffs in time proportional to the rewrite, not the
    * table. */
  def changesBetween(spark: SparkSession, root: String,
                     fromV: Int, toV: Int): (DataFrame, DataFrame) = {
    val (adds, rems, addsEmpty, remsEmpty) = diffSides(spark, root, fromV, toV)
    if (remsEmpty || addsEmpty)
      (if (remsEmpty) adds else adds.exceptAll(rems),
       if (addsEmpty) rems else rems.exceptAll(adds))
    else twoWayDiff(adds, rems)
  }

  /** The raw diff sides for `(fromV, toV]` plus their metadata-provable
    * emptiness — the shared front half of [[changesBetween]] and
    * [[changelogBetween]]. A single-commit range whose commit wrote
    * change files ([[mergeInto]]) takes its sides from them: post-images
    * as adds, pre-images as rems, read under the commit's own schema and
    * column mapping, with no removed or carried file opened. Every other
    * range diffs
    * the file sets: appends, merge-on-read DMLs (their vectors and added
    * files already give the change), deletes, compaction, overwrite,
    * rollback, multi-commit ranges. */
  private def diffSides(spark: SparkSession, root: String,
                        fromV: Int, toV: Int)
      : (DataFrame, DataFrame, Boolean, Boolean) = {
    require(fromV <= toV, s"changesBetween: from $fromV > to $toV")
    val a = readManifest(spark, root, fromV)
    val b = readManifest(spark, root, toV)
    if (toV == fromV + 1 && b.changes.nonEmpty) {
      // a side is a few small files, one per writing task, holding the
      // merge's source rows or the target rows they matched — the bound
      // materializeOnce already accepts: read each side in one task
      val (pre, post) = b.changes.partition(isPreImage)
      def side(fs: Seq[String]) =
        readRawWithDefaults(spark, root, b, fs, b.partitionedRead).coalesce(1)
      return (side(post), side(pre), post.isEmpty, pre.isEmpty)
    }
    // both sides read under the TO-version schema: across an addColumn
    // boundary the pre-evolution rows surface NULL in the new column on
    // both sides, so carried-over data still cancels in the exceptAll.
    // Each side applies ITS OWN deletion vectors — a row vectored away
    // before fromV was never visible in either snapshot and must not
    // surface in the diff.
    val aSet = a.files.toSet
    val bSet = b.files.toSet
    val onlyNew = readSnapshotFiles(spark, root, b,
      b.files.filterNot(aSet), Some(b.schemaDdl))
    val onlyOld = readSnapshotFiles(spark, root, a,
      a.files.filterNot(bSet), Some(b.schemaDdl), Some(b.physMap))
    // files carried BY NAME whose vectors changed: a position deleted in
    // (fromV, toV] is a REMOVED row; a position released (rollback across
    // a vectored delete) is an ADDED row. The CHANGED set is decided
    // from manifest metadata alone (sidecar names — immutable, so a
    // different name IS a different vector), and the delta rows come
    // from one scan of exactly those files filtered by TWO lazy
    // membership expressions (in one version's vector AND NOT the
    // other's) — the positions themselves never transit the driver,
    // completing the DV layer's driver-boundedness (the old shape
    // loaded both sides' full vectors driver-side to set-diff them:
    // O(all changed files' positions) heap on the CDC path).
    // Vector-free tables skip this entirely — the diff plan is then
    // byte-identical to the pre-DV shape (no empty-frame unions on the
    // hot incremental paths).
    val changed =
      if (a.dvs.isEmpty && b.dvs.isEmpty) Seq.empty[String]
      else b.files.filter(f => aSet.contains(f) && a.dvs.get(f) != b.dvs.get(f))
    // vectors only GROW except across a rollback (the MoR DMLs merge
    // prior ∪ fresh; CoW rewrites drop the file from `common` entirely) —
    // so when no version in the range is a rollback (or a pre-op-field
    // manifest whose operation is unknowable), fromV's vector is a
    // subset of toV's on every carried file and the RE-ADDED side is
    // provably empty without opening anything. This keeps the
    // delete-only CDC flow at ONE scan of the changed files.
    lazy val mayShrink = {
      // bound the walk: an unbounded catch-up range (stream restart after
      // thousands of commits) must not serially parse every manifest just
      // to skip ONE scan — past the checkpoint-spaced bound, scanning is
      // cheaper than proving
      val lo = fromV + 1
      if (toV - lo > 8 * CheckpointEvery) true
      else (lo to toV).exists { v =>
        // an intermediate manifest can be GONE (expire keeps a txn-pinned
        // fromV alive while dropping versions between it and the tail) —
        // an unreadable manifest's op is exactly as unknowable as the
        // pre-op-field case, so it forfeits the skip, never the batch
        val op =
          if (v == toV) Some(b.op)
          else scala.util.Try(readManifest(spark, root, v).op).toOption
        op.forall(o => o.isEmpty || o == "rollback")
      }
    }
    def vectorDeltaRows(inSide: Manifest, notSide: Manifest): Option[DataFrame] = {
      // metadata-decidable emptiness: a side whose vectors are ABSENT on
      // every changed file can have no member rows — the first-delete
      // CDC flow then skips the re-added scan entirely
      if (changed.isEmpty || changed.forall(f => inSide.dvs.get(f).isEmpty))
        return None
      if ((inSide eq a) && !mayShrink) return None // monotone growth
      import org.apache.spark.sql.functions.{col, not}
      import org.apache.spark.sql.graftbridge.Bridge
      def refsOf(m: Manifest) = spark.sparkContext.broadcast(
        changed.flatMap(f => m.dvs.get(f).map(f -> _.dvFile)).toMap)
      val confB = hadoopConfBc(spark)
      val scanned = readRawWithDefaults(spark, root, b, changed.sorted,
        b.partitionedRead, withMeta = true)
      def member(m: Manifest) = Bridge.toColumn(graft.functions.DvDeletedLazyExpr(
        Bridge.toExpression(col(DvFileCol)),
        Bridge.toExpression(col(DvPosCol)), refsOf(m), root, confB))
      Some(scanned.filter(member(inSide) && not(member(notSide)))
        .drop(DvFileCol, DvPosCol))
    }
    // re-added: in the FROM vector but no longer in TO's (rollback);
    // removed: in TO's vector but not in FROM's (the delete itself)
    val vAdd = vectorDeltaRows(a, b)
    val vRem = vectorDeltaRows(b, a)
    val adds = vAdd.map(onlyNew.unionByName).getOrElse(onlyNew)
    val rems = vRem.map(onlyOld.unionByName).getOrElse(onlyOld)
    // One-sided fast path (r18 optimization, guide §2.4): when a side is
    // METADATA-provably empty — no file-set difference on that side and
    // no vector-delta scan planned — `x.exceptAll(empty) == x` as a
    // multiset, so the two hash-aggregate exceptAll shuffles are skipped
    // outright. This is the dominant commit shape at scale: a pure
    // APPEND diffs as its new files verbatim (no cancellation possible),
    // and a first DELETE on a file diffs as its DV-delta rows alone.
    // Mixed commits (rewrites, merges) keep the full two-way exceptAll —
    // identical-image cancellation (the compaction contract) only
    // arises there.
    val addsEmpty = b.files.forall(aSet.contains) && vAdd.isEmpty
    val remsEmpty = a.files.forall(bSet.contains) && vRem.isEmpty
    (adds, rems, addsEmpty, remsEmpty)
  }

  /** The COMBINED changelog for `(fromV, toV]`: the table's data columns
    * plus `_change_type` ("insert"/"delete") — relationally identical to
    * tagging and unioning [[changesBetween]]'s two sides, but on mixed
    * commits built from ONE signed-aggregate evaluation (r19, guide
    * §2.4): the (adds, rems) pair duplicates the reduce-side
    * HashAggregate above the shared union exchange into EVERY consumer
    * branch (exchange reuse dedups only the exchange), so each
    * changelog consumer paid the final aggregation twice per mixed
    * commit. Here the change type is the delta's SIGN, read off the one
    * aggregate: per distinct row image r with d = #adds(r) − #rems(r),
    * emit |d| copies typed insert (d > 0) or delete (d < 0) — exactly
    * the two `exceptAll` outputs tagged and unioned, the d = 0
    * identical-image cancellation bucket (the compaction contract)
    * included. One-sided commits (pure appends, first deletes) keep the
    * r18 aggregation-free fast path. A copy-on-write merge commit's sides
    * are its change files ([[diffSides]]), so the aggregate reads only
    * those. */
  private[graft] def changelogBetween(spark: SparkSession, root: String,
                                      fromV: Int, toV: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, when, abs => fabs}
    val (adds, rems, addsEmpty, remsEmpty) = diffSides(spark, root, fromV, toV)
    if (remsEmpty || addsEmpty)
      (if (remsEmpty) adds else adds.exceptAll(rems))
        .withColumn("_change_type", lit("insert"))
        .unionByName((if (addsEmpty) rems else rems.exceptAll(adds))
          .withColumn("_change_type", lit("delete")))
    else {
      val d = col(DiffDelta)
      replicated(signedDelta(adds, rems).filter(d =!= 0), fabs(d),
        adds.columns.toSeq.map(col) :+
          when(d > 0, lit("insert")).otherwise(lit("delete")).as("_change_type"))
    }
  }

  /** BOTH directions of a multiset diff in ONE aggregation pass (r19,
    * guide §2.4): `(adds EXCEPT ALL rems, rems EXCEPT ALL adds)`. Spark
    * rewrites each `exceptAll` separately (RewriteExceptAll: union the
    * sides under +1/−1 sign columns, aggregate over every column, keep
    * sum > 0, replicate) — two directions swap the sign literals, so the
    * union subtrees differ and NO exchange is reused: both sides are
    * scanned and shuffled TWICE per mixed-commit CDF batch (measured,
    * q230: paired duplicate jobs per trigger). Here both outputs derive
    * from the SAME signed aggregate — one scan of each side, one shuffle
    * — and the shared exchange is reused when a consumer (the change
    * feed) unions the two outputs into one plan. Relation is identical:
    * per distinct row image r, adds-side emits max(#adds(r) − #rems(r),
    * 0) copies and rems-side max(#rems(r) − #adds(r), 0) — exactly
    * Spark's own rewrite, including its NULL/NaN grouping semantics
    * (both sides aggregate rows the same way). Identical-image
    * cancellation (the compaction contract) is the d = 0 bucket, which
    * neither side emits. */
  private def twoWayDiff(adds: DataFrame, rems: DataFrame)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.col
    val agg = signedDelta(adds, rems)
    def emit(sign: Int): DataFrame = {
      val d = col(DiffDelta) * sign
      replicated(agg.filter(d > 0), d, adds.columns.toSeq.map(col))
    }
    (emit(1), emit(-1))
  }

  private val DiffDelta = "__graft_diff_d"

  /** The ONE signed aggregate behind both mixed-commit diffs: per
    * distinct row image r of `adds ∪ rems`, its columns plus
    * [[DiffDelta]] = #adds(r) − #rems(r) as an int. */
  private def signedDelta(adds: DataFrame, rems: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, sum => fsum}
    val Side = "__graft_diff_sign"
    adds.withColumn(Side, lit(1L))
      .unionByName(rems.withColumn(Side, lit(-1L)))
      .groupBy(adds.columns.toSeq.map(col): _*)
      .agg(fsum(col(Side)).cast("int").as(DiffDelta))
  }

  /** `n` (> 0) copies of each row of `df`, projected to `out`. */
  private def replicated(df: DataFrame, n: org.apache.spark.sql.Column,
                         out: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.functions.{lit, explode, array_repeat}
    val Rep = "__graft_diff_rep"
    df.select(out :+ explode(array_repeat(lit(true), n)).as(Rep): _*).drop(Rep)
  }

  /** Follow the commit log as a STREAM: the versioned table is its own
    * streaming source. The immutable `_log/` manifests drive Spark's
    * file stream (whose checkpoint remembers which manifests were seen),
    * and `apply` receives (version, rowsAdded, rowsRemoved) in version
    * order — each version once per checkpoint lifetime, only NEW commits
    * on a re-drain with the same checkpoint. This is the Delta-style
    * "stream FROM a table's change feed" incremental-consumer shape on
    * public APIs only: the heavy diff work rides [[changesBetween]]
    * (file-set difference — carried-over files never open), so following
    * a 100 TB table costs per-commit delta, never table size. Downstream
    * stays correct across a checkpoint rollback by keying writes on the
    * version ([[appendTxn]](txn = version) — the q158 discipline:
    * re-delivery is refused by the txn ledger, not by hope). Drains
    * synchronously (Trigger.AvailableNow). */
  def followChanges(spark: SparkSession, root: String, checkpoint: String,
                    queryName: String = "graft_follow_changes")
                   (apply: (Int, DataFrame, DataFrame) => Unit): Unit = {
    import org.apache.spark.sql.functions.input_file_name
    import org.apache.spark.sql.streaming.Trigger
    val stream = spark.readStream
      .format("text")
      .load(new Path(logDir(root), "*.manifest.json").toString)
      .select(input_file_name().as("f"))
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val vs = batch.select("f").collect() // bounded: manifests new this batch
          .map(_.getString(0))
          .flatMap { p =>
            p.substring(p.lastIndexOf('/') + 1) match {
              case ManifestRe(n) => Some(n.toInt)
              case _ => None
            }
          }.distinct.sorted
        vs.foreach { v =>
          val (add, rem) =
            if (v == 1) { // first commit: everything is an add
              val first = read(spark, root, Some(1))
              (first, first.limit(0))
            } else changesBetween(spark, root, v - 1, v)
          apply(v, add, rem)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .queryName(queryName)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** Rollback: publish an older version's exact file list as the NEW
    * newest version (history is preserved — undo is itself a commit). */
  def rollback(spark: SparkSession, root: String, to: Int): Int = {
    val m = readManifest(spark, root, to)
    // the restored content carries its ingest history: the COPY INTO
    // ledger fold treats a rollback as SET-to-this (loadedAsOf), so a
    // later COPY INTO can't re-ingest files whose rows this restore
    // just brought back
    val ledgerAtTarget = loadedAsOf(spark, root, to).toSeq.sorted
    // retry-on-race is semantically free here: a rollback re-applied on
    // a newer head still publishes `to`'s exact content as the newest
    // version — undoing the raced commit is what rollback MEANS
    commitMetaTransform(spark, root, head =>
      Manifest(head.version + 1, m.schemaDdl, m.files,
        stats = m.stats, blooms = m.blooms, partitionCols = m.partitionCols,
        hlls = m.hlls, dvs = m.dvs, rows = m.rows, op = "rollback",
        colMap = m.colMap, maxCid = m.maxCid, checks = m.checks,
        defaults = m.defaults, noCol = m.noCol, gens = m.gens,
        // allocation history is monotonic THROUGH a rollback: ids
        // assigned after `to` must never be re-assigned, even though
        // their rows are gone — the head's higher mark wins
        ids = m.ids.map { case (c, hw) =>
          c -> math.max(hw, head.ids.getOrElse(c, hw)) },
        props = m.props, loads = ledgerAtTarget))
  }

  /** Compaction as a commit: rewrite the newest version into
    * ceil(bytes/targetBytes) files and publish as a new version. Readers
    * of any resolved version are untouched — no rename-aside directory
    * swap, so no window without a table. No-op (returns
    * current version) when already at or below the target count. */
  def compact(spark: SparkSession, root: String,
              targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Seq.empty): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    // recorded clustering keys ([[setClusteringKeys]] / [[zorderBy]])
    // are the DEFAULT layout: a scheduled maintenance compact in a
    // fresh session preserves the table's clustering without the
    // caller re-stating it; an explicit clusterBy still overrides
    val cluster =
      if (clusterBy.nonEmpty) clusterBy
      else m.props.get(PropClusterBy)
        .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    // a PARAMETERLESS maintenance compact on a property-clustered table
    // no-ops when the head commit IS already the clustering rewrite
    // (nothing landed since): an hourly OPTIMIZE loop must not
    // full-rewrite 100 TB on every tick just because clustering is
    // recorded. An explicit clusterBy argument still always rewrites.
    if (clusterBy.isEmpty && cluster.nonEmpty && m.dvs.isEmpty &&
        (m.op == "zorder" || m.op == "compact"))
      return cur
    // a recorded CURVE layout (zorderBy) re-optimizes along the curve,
    // not lexicographically — plain range-clustering would destroy the
    // multi-dimensional locality the table declared
    val curve = m.props.get(PropClusterCurve)
    if (clusterBy.isEmpty && cluster.size >= 2 &&
        curve.exists(c => c == "morton" || c == "hilbert"))
      return zorderBy(spark, root, cluster, targetBytes, curve.get)
    val bytes = fileLengths(spark, root, m.files).values.sum
    val target = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // a DV-bearing table is never a no-op: the rewrite is what
    // MATERIALIZES the vectors (the contract every CoW path carries —
    // compactWhere already had this carve-out)
    if (cluster.isEmpty && target >= m.files.size && m.dvs.isEmpty)
      return cur
    val base = read(spark, root, Some(cur))
    // clustering: range-partition + sort on the cluster key, so each
    // compacted file covers a NARROW disjoint key range and the manifest
    // [lo, hi] stats prune hard — the OPTIMIZE…CLUSTER BY answer to "my
    // filter column is scattered across every file". A composite key
    // clusters hierarchically (major column first), the layout the
    // z-order/hilbert keys (q109/q123) feed here for multi-column
    // locality: cluster by the precomputed curve key to get 2-D pruning
    // out of 1-D range stats.
    val df =
      if (cluster.isEmpty) base.repartition(target)
      else {
        import org.apache.spark.sql.functions.col
        val ks = cluster.map(col)
        base.repartitionByRange(target, ks: _*).sortWithinPartitions(ks: _*)
      }
    val added = writeDataFiles(spark, root, df, cur + 1, m.partitionCols,
      m.physMap)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    // footprint = every base file (the rewrite read them all), so the
    // commit rebases across concurrent APPENDS (their files carry over
    // un-compacted — the next maintenance pass picks them up) and
    // refuses anything that removed or re-vectored a rewritten file
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = m.files.toSet, addedFiles = added,
      addedStats = addedStats, addedRows = addedRows, op = "compact"))
  }

  /** Rewrite the table Z-ORDERED on `cols` — multi-dimensional
    * clustering as a commit (the OPTIMIZE…ZORDER BY shape): each
    * dimension quantizes over its live [min, max] (equal-width buckets,
    * bounds from manifest stats or one aggregate) into an ADAPTIVE bit
    * width — integral dimensions take only the bits their value range
    * needs, so a low-cardinality dimension stops diluting the others'
    * locality (see the bitsD comment) — and the per-dimension bits
    * INTERLEAVE into a Morton key (`curve = "morton"`), or map through
    * the 2-D Hilbert xy2d construction (`curve = "hilbert"`, q123's
    * curve: consecutive keys always grid-adjacent, tighter per-file
    * boxes at equal file counts). The rewrite range-partitions + sorts
    * on the key before writing. Why not plain
    * `compact(clusterBy = cols)`: lexicographic clustering narrows
    * per-file [lo, hi] on the LEADING column only — a filter on the
    * second column alone still opens every file. On the Morton layout
    * every zorder column's per-file range is narrow simultaneously, so
    * conjunctive (and single-column) range predicates prune files on
    * all dimensions at once — at 100 TB the difference between opening
    * one zone and scanning the table (the public Delta/Iceberg OPTIMIZE
    * designs; q109/q123 carry the curve math at query level, this
    * commits it as the physical layout). Numeric, date and timestamp
    * columns quantize (dates as epoch days, timestamps as micros);
    * NULLs land in bucket 0. Deletion vectors materialize like every
    * copy-on-write rewrite. Returns the new version. */
  def zorderBy(spark: SparkSession, root: String, cols: Seq[String],
               targetBytes: Long = 128L * 1024 * 1024,
               curve: String = "morton"): Int =
    zorderImpl(spark, root, cols, targetBytes, curve, None)

  /** Z-ORDER scoped by predicate — [[compactWhere]]'s incremental shape
    * with [[zorderBy]]'s curve layout: only the stat-matching files
    * (one hot partition, one day's spray) rewrite ALONG THE CURVE,
    * everything else carries over by name. Bucket boundaries come from
    * TABLE-WIDE bounds, so a slice-at-a-time re-cluster converges to
    * the same cell grid an unscoped rewrite would build. Does not
    * re-record the table's clustering properties (a slice rewrite is
    * maintenance, not a layout declaration). */
  def zorderWhere(spark: SparkSession, root: String, preds: RangePreds,
                  cols: Seq[String],
                  targetBytes: Long = 128L * 1024 * 1024,
                  curve: String = "morton"): Int = {
    require(preds.nonEmpty, "zorderWhere needs at least one predicate range")
    zorderImpl(spark, root, cols, targetBytes, curve, Some(preds))
  }

  private def zorderImpl(spark: SparkSession, root: String, cols: Seq[String],
                         targetBytes: Long, curve: String,
                         scope: Option[RangePreds]): Int = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    require(cols.size >= 2,
      "zorderBy needs at least two columns (one column: use compact(clusterBy))")
    require(cols.size <= 4, "zorderBy supports at most 4 dimensions")
    require(curve == "morton" || curve == "hilbert",
      s"unknown curve '$curve' (morton | hilbert)")
    require(curve == "morton" || cols.size == 2,
      "the hilbert curve layout is 2-D; use morton for 3-4 dimensions")
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(m.schemaDdl)
    // each dimension as a double for equal-width bucketing
    def dim(c: String): Column = {
      val dt = schema.fields.find(_.name == c).map(_.dataType)
        .getOrElse(throw new IllegalArgumentException(s"no column $c"))
      dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => col(c).cast(DoubleType)
        case DateType => unix_date(col(c)).cast(DoubleType)
        case TimestampType => unix_micros(col(c)).cast(DoubleType)
        case other => throw new IllegalArgumentException(
          s"zorderBy: column $c has unsupported type ${other.catalogString}")
      }
    }
    val touched = scope.map(p => prunedFiles(spark, root, p, Some(cur)))
      .getOrElse(m.files)
    // scoped no-op: nothing (or one un-vectored file) matches
    if (scope.isDefined && touched.size <= 1 &&
      !touched.exists(m.dvs.contains)) return cur
    val base = readSnapshotFiles(spark, root, m, touched)
    // bucketing bounds: per-column [lo, hi] folded from MANIFEST stats
    // when every live file records one — zero extra scan. Bounds only
    // steer the layout (out-of-range values clamp; answers never depend
    // on them), so even conservative stats are fine; any file missing a
    // stat for any column falls back to ONE bounds aggregate.
    def statBounds(): Option[Seq[(Double, Double)]] = {
      val fms = metaFiles(spark, root, Some(cur))
        .filterNot(f => f.rows.contains(0L) || f.rows.exists(_ == f.dvCard))
      if (fms.isEmpty) return None
      val per = cols.map { c =>
        val ss = fms.map(_.stats.get(c))
        if (ss.exists(s => s.isEmpty || (s.get.typ != "long" && s.get.typ != "double")))
          None
        else scala.util.Try {
          val vs = ss.flatten
          (vs.map(_.lo.toDouble).min, vs.map(_.hi.toDouble).max)
        }.toOption
      }
      if (per.exists(_.isEmpty)) None else Some(per.flatten)
    }
    val bounds: Seq[(Double, Double)] = statBounds().getOrElse {
      val aggCols = cols.flatMap(c => Seq(min(dim(c)), max(dim(c))))
      val boundsRow = base.agg(aggCols.head, aggCols.tail: _*).head
      cols.indices.map(d =>
        (if (boundsRow.isNullAt(2 * d)) 0.0 else boundsRow.getDouble(2 * d),
         if (boundsRow.isNullAt(2 * d + 1)) 0.0 else boundsRow.getDouble(2 * d + 1)))
    }
    // ADAPTIVE bits per dimension (morton): an integral dimension takes
    // only the bits its live value RANGE needs (a 4-value enum takes 2,
    // never 8). This is not about dropping constant-zero high bits —
    // those wouldn't change the order — it's the BUCKETING: fixed 8-bit
    // equal-width buckets smear a 4-value domain across the full 0..255
    // range, so every one of its 8 interleave positions carries
    // information and dilutes the other dimensions' locality at every
    // level. Sized to the domain, the skewed dimension occupies exactly
    // its log2(range+1) positions and the wide dimensions' per-file
    // ranges tighten (ZOrderSpec measures it). Continuous domains
    // (double/decimal/timestamp) keep 8; bounds come from the same
    // manifest stats as the bucket widths — zero extra scan.
    def integralDim(c: String): Boolean =
      schema.fields.find(_.name == c).map(_.dataType).exists {
        case ByteType | ShortType | IntegerType | LongType | DateType => true
        case _ => false
      }
    val bitsD: Seq[Int] = cols.zipWithIndex.map { case (c, d) =>
      if (curve == "hilbert") 8
      else {
        val (lo, hi) = bounds(d)
        if (hi <= lo) 1 // constant (or all-null) dimension: one bucket
        else if (!integralDim(c)) 8
        else {
          val range = hi - lo // (range + 1) integer values need
          if (!range.isFinite || range >= 255.0) 8 // ceil(log2(range+1)) bits
          else math.max(1,
            64 - java.lang.Long.numberOfLeadingZeros(math.ceil(range).toLong))
        }
      }
    }
    def bucket(c: String, d: Int): Column = {
      val (lo, hi) = bounds(d)
      val buckets = 1 << bitsD(d)
      val b =
        if (hi <= lo) lit(0L) // constant (or all-null) dimension
        else least(greatest(
          floor((dim(c) - lit(lo)) / lit((hi - lo) / buckets)), lit(0.0)),
          lit((buckets - 1).toDouble)).cast(LongType)
      coalesce(b, lit(0L))
    }
    val bytes = fileLengths(spark, root, touched).values.sum
    val target = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val keyed =
      if (curve == "hilbert") {
        // 2-D Hilbert (q123's layered xy2d, 256×256): consecutive keys
        // are always grid-ADJACENT — no Morton "jumps" — so per-file
        // boxes on a key-sorted layout are tighter for the same file
        // count. Each level is one projected column (acc referenced
        // many times → CollapseProject keeps them as attributes, not an
        // exponentially inlined tree).
        var df = base
          .withColumn("__graft_zacc",
            bucket(cols.head, 0) * lit(256L) + bucket(cols(1), 1))
        for (k <- 7 to 0 by -1)
          df = df.withColumn("__graft_zacc", expr(
            graft.functions.SpaceCurves.hilbertLevelSql(
              1L << k, "__graft_zacc", "div")))
        df.withColumn("__graft_z", expr("__graft_zacc div 65536"))
          .drop("__graft_zacc")
      } else {
        // variable-width Morton: round-robin the dimensions' bits into
        // key positions; a dimension out of bits drops out of the cycle
        val dstPos: Seq[Seq[Int]] = {
          val acc = Seq.fill(cols.size)(scala.collection.mutable.ArrayBuffer.empty[Int])
          var p = 0
          for (i <- 0 until bitsD.max; d <- cols.indices if i < bitsD(d)) {
            acc(d) += p
            p += 1
          }
          acc.map(_.toSeq)
        }
        val zc = cols.zipWithIndex.map { case (c, d) =>
          val bn = bucket(c, d)
          (0 until bitsD(d)).map(i =>
            shiftleft(shiftright(bn, i).bitwiseAND(lit(1L)),
              dstPos(d)(i))).reduce(_ bitwiseOR _)
        }.reduce(_ bitwiseOR _)
        base.withColumn("__graft_z", zc)
      }
    val df = keyed
      .repartitionByRange(target, col("__graft_z"))
      .sortWithinPartitions(col("__graft_z"))
      .drop("__graft_z")
    val added = writeDataFiles(spark, root, df, cur + 1, m.partitionCols,
      m.physMap)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    // the layout RECORD rides the same commit (a fresh session's
    // compact then defaults to these keys; properties surface them)
    // a scoped rewrite gets its own op string: compact's "head is
    // already the clustering rewrite" no-op must not trigger off a
    // slice rewrite that left the bulk untouched
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = touched.toSet, addedFiles = added,
      addedStats = addedStats, addedRows = addedRows,
      op = if (scope.isDefined) "zorder-where" else "zorder",
      propUpdates =
        if (scope.isDefined) Map.empty
        else Map(PropClusterBy -> cols.mkString(","),
          PropClusterCurve -> curve)))
  }

  /** Incremental compaction — OPTIMIZE scoped by predicate: only files
    * whose manifest stats can match `preds` (one hot partition, one
    * day's small-file spray) are rewritten into ceil(bytes/targetBytes)
    * files; everything else carries over BY NAME with its stats and
    * blooms. At 100 TB this is the only compaction shape that exists in
    * practice: continuous ingest keeps producing small recent files
    * while the cold bulk stays perfectly laid out — rewriting the whole
    * table (plain [[compact]]) would be a full-table IO storm for a
    * tail-sized problem. Commits at base+1 (a concurrent commit refuses
    * it, the caller retries); a reader of any resolved version is
    * untouched. No-op when the touched set is empty or ≤ 1 file. */
  def compactWhere(spark: SparkSession, root: String, preds: RangePreds,
                   targetBytes: Long = 128L * 1024 * 1024,
                   clusterBy: Seq[String] = Seq.empty): Int = {
    val cur = currentVersion(spark, root)
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    val m = readManifest(spark, root, cur)
    val touched = prunedFiles(spark, root, preds, Some(cur))
    // a single touched file still compacts when it carries a deletion
    // vector — materializing the vector is the point of the rewrite
    if (touched.size <= 1 && clusterBy.isEmpty &&
      !touched.exists(m.dvs.contains)) return cur
    val bytes = fileLengths(spark, root, touched).values.sum
    val target = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val base = readSnapshotFiles(spark, root, m, touched)
    val df =
      if (clusterBy.isEmpty) base.repartition(target)
      else {
        import org.apache.spark.sql.functions.col
        val ks = clusterBy.map(col)
        base.repartitionByRange(target, ks: _*).sortWithinPartitions(ks: _*)
      }
    val v = cur + 1
    val added = writeDataFiles(spark, root, df, v, m.partitionCols, m.physMap)
    val (addedStats, addedRows) = addedMeta(spark, root, m.schemaDdl, added,
      m.physMap)
    // rewritten files MATERIALIZE their deletion vectors (the read above
    // applied them), so the compacted files carry none
    commitDelta(spark, root, m, CommitDelta(
      removedFiles = touched.toSet, addedFiles = added,
      addedStats = addedStats, addedRows = addedRows, op = "compact"))
  }

  /** Time-based retention — the "keep 7 days of history" shape, built on
    * [[expire]]'s version-count contract so all its GC guarantees (clone
    * back-references, txn pins, delta-chain checkpoints) apply unchanged.
    * Keeps every version from the OLDEST one whose manifest wall clock is
    * after `tsMillis` onward (and at least the newest `keepAtLeast`):
    * a version committed after the cutoff is NEVER expired, even when
    * manifest mtimes are non-monotonic in version number (clock skew, a
    * restored copy) — at worst an old-by-clock version sitting above a
    * young one is conservatively retained. */
  def expireOlderThan(spark: SparkSession, root: String, tsMillis: Long,
                      keepAtLeast: Int = 1,
                      minOrphanAgeMillis: Long = 0L): (Int, Int) = {
    val hist = commitTimestamps(spark, root).sortBy(_._1)
    val firstYoung = hist.indexWhere(_._2 > tsMillis)
    val keep =
      if (firstYoung < 0) keepAtLeast
      else math.max(keepAtLeast, hist.size - firstYoung)
    expire(spark, root, keepLast = keep,
      minOrphanAgeMillis = minOrphanAgeMillis)
  }

  /** Expire all but the newest `keepLast` versions: their manifests are
    * deleted, then any data file or DV sidecar referenced by NO surviving
    * manifest (and protected by no txn pin or registered clone) is
    * removed — which also sweeps orphans from crashed commits. Returns
    * (manifests deleted, files deleted).
    *
    * `minOrphanAgeMillis` guards the COMMIT-IN-FLIGHT race: a writer
    * stages its data files BEFORE publishing the manifest, so a
    * concurrent expire sees them as unreferenced; with an age floor an
    * unreferenced file younger than the floor survives the sweep (the
    * in-flight commit then publishes normally; a genuinely crashed
    * commit's files age past the floor and go next time). 0 — the
    * default, what single-writer tests and maintenance-window GC want —
    * sweeps immediately; deployments running expire CONCURRENTLY with
    * writers should set it comfortably above their longest commit
    * (Delta's deleted-file-retention default solves the same race). */
  /** What [[expire]]`(keepLast)` WOULD retire: (versions to drop,
    * versions kept, kept manifests). ONE definition of the retention
    * decision — txn pins (a live transaction of a registered catalog
    * keeps its version readable), tag pins (a tagged version survives
    * until the tag is dropped), then age — shared by expire (the
    * deleter) and [[vacuum]]'s dry run (the reporter), so the report
    * can never disagree with the sweep. */
  private def retentionPlan(spark: SparkSession, root: String,
                            keepLast: Int, f: FileSystem)
      : (Seq[Int], Seq[Int], Seq[Manifest]) = {
    val vs = versions(spark, root)
    // transaction-catalog back-references: a version PINNED by a live txn
    // of a registered catalog stays fully readable — manifest and files —
    // no matter how old; GC of pinned history goes through the CATALOG's
    // own expire first (drop the txn, then the table version ages out).
    // A marker whose catalog no longer exists is retired.
    val pinned: Set[Int] =
      if (!f.exists(logDir(root))) Set.empty
      else f.listStatus(logDir(root)).map(_.getPath)
        .filter(_.getName.startsWith(".txnpin-"))
        .flatMap { mk =>
          val in = f.open(mk)
          val cat = try new String(
            org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
          finally in.close()
          val txns = TxnCatalog.txns(spark, cat)
          if (txns.isEmpty) { f.delete(mk, false); Seq.empty }
          else {
            val mine = f.makeQualified(new Path(root)).toUri.getPath
            txns.flatMap(t =>
              TxnCatalog.snapshot(spark, cat, Some(t)).tables.collect {
                case (_, (r, v))
                    if fs(spark, new Path(r)).makeQualified(new Path(r))
                      .toUri.getPath == mine => v
              })
          }
        }.toSet
    // tag pins: a TAGGED version (a reproducible training snapshot, a
    // release) survives retention — manifest and files — until the tag
    // is dropped. Same protection class as txn pins: GC of tagged
    // history is a two-step (drop_tag, then expire), never a surprise.
    val tagPinned = tags(spark, root).map(_._2).toSet
    val keepVersion = pinned ++ tagPinned
    val (dropAged, keepTail) = vs.splitAt(math.max(0, vs.size - keepLast))
    val drop = dropAged.filterNot(keepVersion)
    val keep = keepTail ++ dropAged.filter(keepVersion)
    (drop, keep, keep.map(v => readManifest(spark, root, v)))
  }

  /** VACUUM with a DRY RUN face: what retention at `keepLast` would
    * remove — dropped version manifests (and their checkpoint files),
    * then every data file and DV sidecar referenced ONLY by the dropped
    * history (or by nothing at all: crashed-commit orphans) — with byte
    * accounting, computed from manifests + one directory listing,
    * deleting NOTHING. Rows are (kind ∈ manifest|checkpoint|data|dv,
    * root-relative path, bytes). `keepLast = 0` means "keep ALL
    * history": only orphans sweep (the Delta VACUUM default — retention
    * drops must be asked for explicitly). `minOrphanAgeMillis` guards
    * the commit-in-flight race exactly as [[expire]] documents: a
    * concurrent writer's staged-but-unpublished files look unreferenced
    * and must survive until they age past the floor. `dryRun = false`
    * runs [[expire]] with the same retention and age floor after
    * computing the report — the two can't disagree because
    * [[retentionPlan]] and the age rule are shared. */
  def vacuum(spark: SparkSession, root: String, keepLast: Int,
             dryRun: Boolean = true,
             minOrphanAgeMillis: Long = 0L): Seq[(String, String, Long)] = {
    require(keepLast >= 0, "keepLast: 0 = keep all history, n >= 1 = retention")
    val f = fs(spark, new Path(root))
    val keep =
      if (keepLast == 0) math.max(1, versions(spark, root).size)
      else keepLast
    val (drop, _, keptManifests) = retentionPlan(spark, root, keep, f)
    val live = keptManifests.flatMap(_.dataRefs).toSet
    val liveDv = keptManifests.flatMap(_.dvs.values.map(_.dvFile)).toSet
    val cloneLive = cloneProtected(spark, root, f)
    val now = System.currentTimeMillis()
    def candidates(dir: Path, kind: String,
                   isLive: String => Boolean): Seq[(String, String, Long)] =
      if (!f.exists(dir)) Seq.empty
      else {
        val base = f.makeQualified(dir).toUri.getPath
        walkFiles(f, dir).flatMap { p =>
          val st = f.getFileStatus(p)
          val full = f.makeQualified(p).toUri.getPath
          val rel = kind + full.stripPrefix(base)
          val aged = minOrphanAgeMillis <= 0L ||
            now - st.getModificationTime >= minOrphanAgeMillis
          if (isLive(rel) || cloneLive.contains(full) || !aged) None
          else Some((kind, rel, st.getLen))
        }
      }
    val report =
      drop.flatMap { v =>
        Seq(manifestPath(root, v) -> "manifest",
          checkpointPath(root, v) -> "checkpoint").flatMap {
          case (p, kind) => scala.util.Try(f.getFileStatus(p).getLen)
            .toOption.map(len => (kind, s"_log/${p.getName}", len))
        }
      } ++
        candidates(dataDir(root), "data", live.contains) ++
        candidates(dvDir(root), "dv", liveDv.contains)
    if (!dryRun) expire(spark, root, keep, minOrphanAgeMillis)
    report.sortBy(r => (r._1, r._2))
  }

  def expire(spark: SparkSession, root: String, keepLast: Int,
             minOrphanAgeMillis: Long = 0L): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the newest version")
    val f = fs(spark, new Path(root))
    val (drop, keep, keptManifests) = retentionPlan(spark, root, keepLast, f)
    val live = keptManifests.flatMap(_.dataRefs).toSet
    val liveDv = keptManifests.flatMap(_.dvs.values.map(_.dvFile)).toSet
    // delta chains must not dangle: any surviving version whose parent
    // this expire drops gets a full .checkpoint.json FIRST (assembled
    // while the chain is still whole — the Delta checkpoint recipe), so
    // readers of kept history never need an expired segment
    val keepSet = keep.toSet
    keep.zip(keptManifests).foreach { case (v, mm) =>
      if (v > 1 && !keepSet.contains(v - 1) &&
        !f.exists(checkpointPath(root, v)) &&
        readDoc(f, manifestPath(root, v), v)._2.nonEmpty)
        writeCheckpoint(spark, root, mm)
    }
    drop.foreach { v =>
      f.delete(manifestPath(root, v), false)
      f.delete(checkpointPath(root, v), false) // a dropped version's ck is dead
    }
    val dd = dataDir(root)
    // clone back-references: any local file a REGISTERED, still-existing
    // clone references stays live — expire never breaks a clone it knows
    // about. A marker whose clone is gone (no manifests) is retired.
    val cloneLive: Set[String] = cloneProtected(spark, root, f)
    def files(p: Path): Seq[Path] = walkFiles(f, p)
    val base = f.makeQualified(dd).toUri.getPath
    val now = System.currentTimeMillis()
    def agedOut(p: Path): Boolean =
      minOrphanAgeMillis <= 0L ||
        now - f.getFileStatus(p).getModificationTime >= minOrphanAgeMillis
    val removed =
      if (!f.exists(dd)) 0
      else files(dd).count { p =>
        val full = f.makeQualified(p).toUri.getPath
        val rel = "data" + full.stripPrefix(base)
        !live.contains(rel) && !cloneLive.contains(full) && agedOut(p) &&
          f.delete(p, false)
      }
    // deletion-vector sidecars age out with the manifests that reference
    // them (same rule as data files: live = referenced by any surviving or
    // pinned version, here or in a registered clone)
    val dvd = dvDir(root)
    val dvBase = f.makeQualified(dvd).toUri.getPath
    val removedDv =
      if (!f.exists(dvd)) 0
      else files(dvd).count { p =>
        val full = f.makeQualified(p).toUri.getPath
        val rel = "dv" + full.stripPrefix(dvBase)
        !liveDv.contains(rel) && !cloneLive.contains(full) && agedOut(p) &&
          f.delete(p, false)
      }
    (drop.size, removed + removedDv)
  }

  /** clone back-references: every absolute path a REGISTERED,
    * still-existing clone references (expire never breaks a clone it
    * knows about); markers whose clone is gone are retired. */
  private def cloneProtected(spark: SparkSession, root: String,
                             f: FileSystem): Set[String] =
    if (!f.exists(logDir(root))) Set.empty
    else f.listStatus(logDir(root)).map(_.getPath)
      .filter(_.getName.startsWith(".clone-"))
      .flatMap { mk =>
        val in = f.open(mk)
        val dst = try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
        val vs2 = versions(spark, dst)
        if (vs2.isEmpty) { f.delete(mk, false); Seq.empty }
        else vs2.flatMap { v2 =>
          val m2 = readManifest(spark, dst, v2)
          m2.dataRefs ++ m2.dvs.values.map(_.dvFile)
        }.filter(_.startsWith("/"))
      }.toSet

  /** Recursive listing: partitioned tables nest files under k=v dirs. */
  private def walkFiles(f: FileSystem, p: Path): Seq[Path] =
    walkStatuses(f, p).map(_.getPath)

  private def walkStatuses(f: FileSystem,
                           p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    f.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) walkStatuses(f, st.getPath) else Seq(st)
    }

  /** Lengths of the manifest's live files from ONE recursive listing of
    * data/ (a 100k-file table must not pay 100k getFileStatus round
    * trips for a metadata-only inspection); entries resolving OUTSIDE
    * it — a shallow clone's absolute references — fall back per file. */
  private def fileLengths(spark: SparkSession, root: String,
                          files: Seq[String]): Map[String, Long] = {
    val f = fs(spark, new Path(root))
    val dd = dataDir(root)
    val byPath: Map[String, Long] =
      if (!f.exists(dd)) Map.empty
      else walkStatuses(f, dd).map(st =>
        f.makeQualified(st.getPath).toUri.getPath -> st.getLen).toMap
    files.map { rel =>
      val p = new Path(root, rel)
      rel -> byPath.getOrElse(f.makeQualified(p).toUri.getPath,
        f.getFileStatus(p).getLen)
    }.toMap
  }

  /** Dry-run GC report: files under data/ and dv/ that NO existing
    * version references and no registered clone protects — the stranded
    * writes of crashed commits and lost [[appendCas]] attempts, i.e.
    * exactly what [[expire]] would sweep WITHOUT dropping any history.
    * Returns (root-relative path, bytes). Report only: [[expire]] stays
    * the sole deleter and re-evaluates its full protection set (txn
    * pins, clone markers, checkpoint rules) at deletion time. */
  def orphanFiles(spark: SparkSession, root: String): Seq[(String, Long)] = {
    val f = fs(spark, new Path(root))
    val ms = versions(spark, root).map(v => readManifest(spark, root, v))
    val live = ms.flatMap(_.dataRefs).toSet
    val liveDv = ms.flatMap(_.dvs.values.map(_.dvFile)).toSet
    val cloneLive = cloneProtected(spark, root, f)
    def report(dir: Path, prefix: String, ref: Set[String]): Seq[(String, Long)] =
      if (!f.exists(dir)) Seq.empty
      else {
        val base = f.makeQualified(dir).toUri.getPath
        walkFiles(f, dir).flatMap { p =>
          val full = f.makeQualified(p).toUri.getPath
          val rel = prefix + full.stripPrefix(base)
          if (ref.contains(rel) || cloneLive.contains(full)) None
          else Some(rel -> f.getFileStatus(p).getLen)
        }
      }
    (report(dataDir(root), "data", live) ++
      report(dvDir(root), "dv", liveDv)).sortBy(_._1)
  }

  /** The data files the commit carrying transaction `txn` ADDED (its
    * manifest's file set minus its parent version's) — empty when no
    * committed version carries `txn`. The streaming bloom-maintenance
    * anchor: a batch may attach ITS union bloom only to files its own
    * txn created; stamping any other un-bloomed file (a compaction
    * rewrite, a pre-seeded base) would violate [[attachBlooms]]'
    * superset contract and unsoundly prune the dedup probe. */
  def filesAddedByTxn(spark: SparkSession, root: String,
                      txn: Long): Seq[String] = {
    val vs = versions(spark, root)
    vs.reverse.find(v => readManifest(spark, root, v).txn.contains(txn))
      .map { v =>
        val m = readManifest(spark, root, v)
        val i = vs.indexOf(v)
        // the diff must be against the txn commit's TRUE parent (v − 1).
        // If expire dropped intermediate versions while the txn version
        // survives (a pin), the nearest SURVIVING predecessor is not the
        // parent and the diff would credit the txn with files it never
        // wrote — letting a caller stamp a batch bloom onto a foreign
        // file and unsoundly prune. Diff only when the parent itself
        // survives; otherwise report nothing (absent knowledge is safe:
        // the files just stay un-bloomed until the next indexBloom).
        val parentFiles =
          if (v == 1) Set.empty[String] // genesis: every file is the txn's
          else if (i > 0 && vs(i - 1) == v - 1)
            readManifest(spark, root, v - 1).files.toSet
          else return Seq.empty // parent expired: ownership unprovable
        m.files.filterNot(parentFiles)
      }.getOrElse(Seq.empty)
  }

  /** The table's hive partition columns (empty when unpartitioned). */
  def partitionColsOf(spark: SparkSession, root: String,
                      version: Option[Int] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, v).partitionCols
  }

  /** Read an arbitrary manifest file set of this table under a FIXED
    * schema — the streaming source's read half (its schema is pinned at
    * stream start, not at each batch). Partition-aware like every
    * manifest read. */
  def readFilesAs(spark: SparkSession, root: String, files: Seq[String],
                  schema: org.apache.spark.sql.types.StructType,
                  version: Option[Int] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, root))
    v.map(readManifest(spark, root, _)) match {
      case Some(m) =>
        // apply the resolved version's deletion vectors (files absent
        // from that manifest simply have none) under the caller's FIXED
        // schema, resolved through the version's column mapping: a
        // schema pinned AFTER a rename names fields by their CURRENT
        // logical name — mapped to the frozen physical one every file
        // carries — while a name pinned BEFORE a rename resolves
        // through the field's recorded lineage to the same frozen
        // physical name (a double-rename's intermediate name included).
        // Only a name NO field ever held falls through to by-name
        // parquet resolution (null-fills — a column the version
        // genuinely doesn't have); a name two fields held over history
        // refuses rather than guesses.
        readSnapshotFiles(spark, root, m, files, Some(schema.toDDL),
          Some(pinnedPhysMap(schema, m)))
      case None =>
        readPaths(spark, schema.toDDL,
          files.map(f => new Path(root, f).toString), partitioned = false, root)
    }
  }

  /** The pinned schema's logical-name → frozen-physical-name map against
    * `m`'s column mapping, resolving HISTORICAL names through each
    * field's rename lineage. Ambiguous historical names (held by more
    * than one field over history) refuse. */
  private def pinnedPhysMap(schema: org.apache.spark.sql.types.StructType,
                            m: Manifest): Map[String, String] = {
    if (m.colMap.isEmpty) return Map.empty
    val pm = m.physMap
    val live = m.colMap.map(_.name).toSet
    lazy val lin = m.lineage
    schema.fields.iterator.flatMap { f =>
      if (live.contains(f.name))
        pm.get(f.name).map(f.name -> _)
      else lin.get(f.name) match {
        case Some(Some(cur)) =>
          Some(f.name -> pm.getOrElse(cur, cur))
        case Some(None) => throw new IllegalStateException(
          s"pinned column ${f.name} matches the rename lineage of more " +
            "than one field; restart the stream to adopt the current schema")
        case None => None // never a field's name: by-name null-fill
      }
    }.toMap
  }

  /** `version`'s deletion-vector references: data file → (sidecar, deleted
    * row count). Exposed so incremental consumers (the streaming source's
    * append-only guard, specs) can DETECT row removals that change no file
    * set — a vectored delete commits the same files with a new vector. */
  def dvRefs(spark: SparkSession, root: String,
             version: Option[Int] = None): Map[String, (String, Long)] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, v).dvs.map { case (f, d) => f -> (d.dvFile, d.card) }
  }

  /** `version`'s rename lineage as historical-name → current-logical
    * name: every logical name a field EVER held (plus its frozen
    * physical name), for names no longer live — lets a consumer holding
    * a schema pinned before any number of renames recognize the field
    * under its current name. A name held by more than one field over
    * history maps to None (ambiguous — refuse, never guess). Empty
    * until mapping activates. */
  /** Whether version `v` changed any ROWS relative to v-1 — decided
    * from manifest metadata alone (same file list AND same deletion
    * vectors = metadata-only commit: DDLs, index builds, constraint
    * and layout changes, tags). Lets a change-feed consumer skip the
    * version without building a diff plan for it. */
  private[graft] def versionChangedRows(spark: SparkSession, root: String,
                                        v: Int): Boolean = {
    require(v >= 2, s"version $v has no predecessor")
    val a = readManifest(spark, root, v - 1)
    val b = readManifest(spark, root, v)
    a.files != b.files || a.dvs != b.dvs
  }

  private[graft] def historicalToCurrent(spark: SparkSession, root: String,
                                         version: Option[Int] = None): Map[String, Option[String]] = {
    val v = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    readManifest(spark, root, v).lineage
  }

  /** Shallow clone: publish `srcRoot`'s chosen snapshot (default
    * newest) as version 1 of a NEW table at `dstRoot`, referencing the
    * SOURCE's immutable data files by absolute path — zero data copied,
    * O(manifest) time regardless of table size. The clone is a real
    * table from then on: commits to it stage locally (a snapshot may
    * mix cloned-from and local files), stats/blooms carry over keyed by
    * the remapped names so pruning works unchanged, and nothing the
    * clone does ever mutates the source (its files are never rewritten,
    * and the clone's [[expire]] only walks its OWN data dir).
    *
    * Unlike the standard shallow-clone contract (where vacuuming the
    * SOURCE strands clones — the documented Delta hazard), the clone
    * REGISTERS itself: a `.clone-*` marker lands in the `_log/` of every
    * root whose files the cloned manifest references (clone chains
    * propagate to the original owner), and [[expire]] keeps any local
    * file a registered, still-existing clone references. Deleting the
    * clone's directory retires its marker on the source's next expire. */
  def cloneShallow(spark: SparkSession, srcRoot: String, dstRoot: String,
                   version: Option[Int] = None): Int = {
    require(currentVersion(spark, dstRoot).isEmpty, s"table exists at $dstRoot")
    val v = version.orElse(currentVersion(spark, srcRoot))
      .getOrElse(throw new IllegalArgumentException(s"no table at $srcRoot"))
    val m = readManifest(spark, srcRoot, v)
    val f = fs(spark, new Path(srcRoot))
    val abs = m.files.map(rel =>
      f.makeQualified(new Path(srcRoot, rel)).toUri.getPath)
    val remap = m.files.zip(abs).toMap
    // deletion vectors clone by reference too — sidecars are as immutable
    // as the data files they annotate, and the same back-reference markers
    // keep them alive across the source's expire
    val absDv = m.dvs.map { case (k, d) =>
      remap.getOrElse(k, k) ->
        d.copy(dvFile = f.makeQualified(new Path(srcRoot, d.dvFile)).toUri.getPath)
    }
    writeManifest(spark, dstRoot, Manifest(1, m.schemaDdl, abs,
      stats = m.stats.map { case (k, s) => remap.getOrElse(k, k) -> s },
      blooms = m.blooms.map { case (k, b) => remap.getOrElse(k, k) -> b },
      hlls = m.hlls.map { case (k, h) => remap.getOrElse(k, k) -> h },
      partitionCols = m.partitionCols, dvs = absDv,
      rows = m.rows.map { case (k, n) => remap.getOrElse(k, k) -> n },
      op = "clone", colMap = m.colMap, maxCid = m.maxCid,
      checks = m.checks, defaults = m.defaults,
      noCol = m.noCol.map { case (k, cs) => remap.getOrElse(k, k) -> cs },
      gens = m.gens, ids = m.ids, props = m.props))
    // back-reference every owning root (a clone OF a clone references
    // the original's files — the marker must land with the owner)
    (abs ++ absDv.values.map(_.dvFile)).flatMap(ownerRootOf).distinct.foreach { owner =>
      val fo = fs(spark, new Path(owner))
      fo.mkdirs(logDir(owner))
      val marker = new Path(logDir(owner),
        s".clone-${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fo.create(marker, true)
      try out.write(dstRoot.getBytes("UTF-8")) finally out.close()
    }
    1
  }

  // ---- named refs: tags and branches (write-audit-publish) ----------------
  // The Iceberg refs design re-expressed on the manifest chain: a TAG is
  // a named, retention-pinned version (reproducible training snapshots);
  // a BRANCH is a shallow-cloned staging table whose head publishes back
  // onto main as ONE metadata-only fast-forward commit — the
  // write-audit-publish pattern. Both are O(1) metadata: no data file
  // moves at tag, branch, or publish time.

  private def tagPath(root: String, name: String) =
    new Path(logDir(root), s".tag-$name")

  private def requireRefName(name: String): Unit =
    require(name.nonEmpty && name.length <= 64 && name.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_' || c == '.'),
      s"ref name '$name' must match [A-Za-z0-9._-]{1,64}")

  /** TAG `version` (default newest) as `name`. Tags are immutable —
    * re-tagging an existing name refuses (drop first); creation is a
    * CAS on the tag file, so two racing creates resolve to one winner.
    * A tagged version is pinned: [[expire]] keeps its manifest AND its
    * files no matter how old, until [[dropTag]]. Returns the tagged
    * version. */
  def createTag(spark: SparkSession, root: String, name: String,
                version: Option[Int] = None): Int = {
    requireRefName(name)
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no table at $root")
    val v = version.getOrElse(vs.max)
    require(vs.contains(v), s"version $v does not exist at $root")
    val f = fs(spark, new Path(root))
    val tmp = new Path(logDir(root),
      s".reftmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = f.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    require(atomicClaim(f, tmp, tagPath(root, name)),
      s"tag '$name' already exists at $root (drop it first; tags are immutable)")
    v
  }

  /** The version tag `name` pins. */
  def tagVersion(spark: SparkSession, root: String, name: String): Int = {
    requireRefName(name)
    val f = fs(spark, new Path(root))
    val p = tagPath(root, name)
    require(f.exists(p), s"no tag '$name' at $root")
    readText(f, p).trim.toInt
  }

  /** All tags as (name, pinned version), name-sorted. */
  def tags(spark: SparkSession, root: String): Seq[(String, Int)] = {
    val f = fs(spark, new Path(root))
    if (!f.exists(logDir(root))) Seq.empty
    else f.listStatus(logDir(root)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith(".tag-"))
      .map { p =>
        p.getName.stripPrefix(".tag-") -> readText(f, p).trim.toInt
      }.sortBy(_._1)
  }

  /** Drop tag `name`, releasing its retention pin. Returns the version
    * it pinned (now eligible for [[expire]] like any other). */
  def dropTag(spark: SparkSession, root: String, name: String): Int = {
    val v = tagVersion(spark, root, name)
    fs(spark, new Path(root)).delete(tagPath(root, name), false)
    v
  }

  /** Snapshot read of the version tag `name` pins — time travel by name
    * instead of number. */
  def readTag(spark: SparkSession, root: String, name: String): DataFrame =
    read(spark, root, Some(tagVersion(spark, root, name)))

  /** Where branch `name`'s staging table lives: under the parent so the
    * branch travels with the table (backup, mv) and its data files sort
    * under one namespace. */
  def branchRoot(root: String, name: String): String = {
    requireRefName(name)
    s"${root.stripSuffix("/")}/_branch/$name"
  }

  private def forkPath(bRoot: String) = new Path(logDir(bRoot), ".fork")

  private def writeForkBase(spark: SparkSession, bRoot: String, base: Int): Unit = {
    val f = fs(spark, new Path(bRoot))
    f.mkdirs(logDir(bRoot))
    val out = f.create(forkPath(bRoot), true)
    try out.write(base.toString.getBytes("UTF-8")) finally out.close()
  }

  /** The main-table version branch `name` forked from — the version
    * [[fastForward]] CASes against. Advanced to the published version on
    * every successful fast-forward, so one branch sustains repeated
    * write-audit-publish cycles. */
  def forkBaseOf(spark: SparkSession, root: String, name: String): Int = {
    val bRoot = branchRoot(root, name)
    val f = fs(spark, new Path(bRoot))
    require(f.exists(forkPath(bRoot)), s"no branch '$name' at $root")
    readText(f, forkPath(bRoot)).trim.toInt
  }

  /** Create branch `name` from `version` (default newest): a shallow
    * clone — data files shared by reference, schema, column mapping and
    * CHECK constraints carried — that stages writes AWAY from readers of
    * main. Writers use the ordinary table API against [[branchRoot]];
    * constraints validate there, audits read there; [[fastForward]]
    * publishes. Refuses if the branch already exists. */
  def createBranch(spark: SparkSession, root: String, name: String,
                   version: Option[Int] = None): String = {
    val bRoot = branchRoot(root, name)
    val base = version.orElse(currentVersion(spark, root))
      .getOrElse(throw new IllegalArgumentException(s"no table at $root"))
    cloneShallow(spark, root, bRoot, Some(base))
    writeForkBase(spark, bRoot, base)
    bRoot
  }

  /** All branches as (name, fork base, branch head version). */
  def branches(spark: SparkSession, root: String): Seq[(String, Int, Int)] = {
    val dir = new Path(root, "_branch")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .flatMap { n =>
        currentVersion(spark, branchRoot(root, n))
          .map(h => (n, forkBaseOf(spark, root, n), h))
      }.sortBy(_._1)
  }

  /** PUBLISH branch `name`: one metadata-only commit on main adopting
    * the branch head wholesale — files (by reference — zero data
    * movement), schema, column mapping, deletion vectors, stats/blooms/
    * HLLs, and CHECK constraints. The commit CASes on the fork base: if
    * main advanced since the branch forked, it REFUSES — the audited
    * snapshot is not what would result, so re-branch and re-audit (the
    * WAP contract; racing appends belong on the branch or after the
    * publish). On success the branch re-forks from the published
    * version, ready for the next cycle. Returns main's new version.
    *
    * GC safety is the clone-marker protocol in both directions: branch
    * files main now references get a back-reference marker in the
    * BRANCH's log (its expire/drop keeps them), and files main already
    * owned return to root-relative form so main's own expire accounts
    * for them natively. */
  def fastForward(spark: SparkSession, root: String, name: String): Int = {
    val bRoot = branchRoot(root, name)
    val bHead = currentVersion(spark, bRoot)
      .getOrElse(throw new IllegalArgumentException(s"no branch '$name' at $root"))
    val fork = forkBaseOf(spark, root, name)
    val bm = readManifest(spark, bRoot, bHead)
    val f = fs(spark, new Path(root))
    val rootAbs = f.makeQualified(new Path(root)).toUri.getPath
    // normalize every file reference into MAIN's namespace: branch-owned
    // paths go absolute (shared by reference, the clone convention);
    // paths under main's own data/dv dirs return to relative form
    def normalize(p: String): String = {
      val abs =
        if (p.startsWith("/")) p
        else f.makeQualified(new Path(bRoot, p)).toUri.getPath
      if (abs.startsWith(s"$rootAbs/data/") || abs.startsWith(s"$rootAbs/dv/"))
        abs.stripPrefix(s"$rootAbs/")
      else abs
    }
    val files2 = bm.files.map(normalize)
    val remap = bm.files.zip(files2).toMap
    def rekey[T](m: Map[String, T]): Map[String, T] =
      m.map { case (k, v) => remap.getOrElse(k, normalize(k)) -> v }
    val dvs2 = bm.dvs.map { case (k, d) =>
      remap.getOrElse(k, normalize(k)) -> d.copy(dvFile = normalize(d.dvFile))
    }
    val published = commitMetaTransform(spark, root, { head =>
      require(head.version == fork,
        s"cannot fast-forward branch '$name': the table advanced to " +
          s"v${head.version} since the fork at v$fork — the audited " +
          "snapshot is stale; re-branch from the current head and re-audit")
      // layout may differ: the branch can stage a setPartitionLayout and
      // publish it — per-file layout resolution makes the mix readable
      Manifest(head.version + 1, bm.schemaDdl, files2,
        stats = rekey(bm.stats), blooms = rekey(bm.blooms),
        partitionCols = bm.partitionCols, hlls = rekey(bm.hlls),
        dvs = dvs2, rows = rekey(bm.rows), op = s"fast-forward:$name",
        colMap = bm.colMap, maxCid = bm.maxCid, checks = bm.checks,
        defaults = bm.defaults, noCol = rekey(bm.noCol), gens = bm.gens,
        ids = bm.ids, props = bm.props)
    })
    // back-reference markers with every FOREIGN owner (the branch; for a
    // branch-of-a-clone, the original): their GC must keep what main
    // now references
    (files2 ++ dvs2.values.map(_.dvFile)).filter(_.startsWith("/"))
      .flatMap(ownerRootOf).distinct.filterNot(_ == rootAbs)
      .foreach { owner =>
        val fo = fs(spark, new Path(owner))
        fo.mkdirs(logDir(owner))
        val marker = new Path(logDir(owner),
          s".clone-${java.util.UUID.randomUUID().toString.take(8)}")
        val out = fo.create(marker, true)
        try out.write(root.getBytes("UTF-8")) finally out.close()
      }
    writeForkBase(spark, bRoot, published)
    published
  }

  /** Drop branch `name`: its manifests and fork record go; its data/DV
    * files are swept EXCEPT what a clone marker protects — i.e. files a
    * fast-forward published into main survive under the branch directory
    * (main references them absolutely) until main itself stops
    * referencing them. Returns (versions removed, files removed). A new
    * branch may reuse the name afterwards. */
  def dropBranch(spark: SparkSession, root: String, name: String): (Int, Int) = {
    val bRoot = branchRoot(root, name)
    val f = fs(spark, new Path(bRoot))
    val vs = versions(spark, bRoot)
    require(vs.nonEmpty, s"no branch '$name' at $root")
    val protectedFiles = cloneProtected(spark, bRoot, f)
    vs.foreach { v =>
      f.delete(manifestPath(bRoot, v), false)
      f.delete(checkpointPath(bRoot, v), false)
    }
    f.delete(forkPath(bRoot), false)
    var removed = 0
    Seq(dataDir(bRoot), dvDir(bRoot)).foreach { dir =>
      if (f.exists(dir)) walkFiles(f, dir).foreach { p =>
        val full = f.makeQualified(p).toUri.getPath
        if (!protectedFiles.contains(full) && f.delete(p, false)) removed += 1
      }
    }
    (vs.size, removed)
  }

  /** The table root owning an absolute data-file or DV-sidecar path
    * (prefix before "/data/" or "/dv/"), if the path has the table
    * layout. */
  private def ownerRootOf(absPath: String): Option[String] = {
    val i = absPath.indexOf("/data/")
    val j = absPath.indexOf("/dv/")
    if (i > 0) Some(absPath.substring(0, i))
    else if (j > 0) Some(absPath.substring(0, j))
    else None
  }
}
