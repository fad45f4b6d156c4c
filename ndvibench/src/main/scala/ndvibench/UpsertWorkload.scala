package ndvibench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sink.VersionedTable

/** `product_upsert`: the load stage alone. Two product tables are built
  * once per run: `ndvi_full` (one row per scene) and `ndvi_clipped` (one
  * row per scene and AOI). One op merges a batch of product rows, mostly
  * updates of existing keys and some inserts: the per-scene rows with
  * `mergeInto` (copy-on-write) into `ndvi_full`, the per-(scene, AOI) rows
  * with `mergeIntoVectored` (merge-on-read) into `ndvi_clipped`. It then
  * reads each table's change feed for the new version and one snapshot
  * aggregate per table (row count and checksum).
  *
  * Every op starts from the same committed state: before the op, untimed,
  * both tables are copied from a template into fresh roots. A fresh root is
  * a path the sink has never read, so its manifest cache is cold for the
  * pre-op version on every op.
  *
  * The oracle is an in-memory key -> row model. After every op the table
  * checksums (count and sum of xxhash64 over the row) and the change-feed
  * row counts must equal the model's. */
final class UpsertWorkload(spark: SparkSession, work: Path, seed: Long) extends Workload {
  import UpsertWorkload._

  private val templateDir = work.resolve("template")
  private val tablesDir = work.resolve("tables")
  private def root(k: Int, t: String) = tablesDir.resolve(s"op$k").resolve(t).toString

  // the model: base state, and the checksums it implies
  private var baseDays: Array[Int] = _               // scene -> epoch day
  private var baseMean: Array[Double] = _            // scene * Aois + aoi - 1 -> mean
  private var baseSums: Map[String, (Long, BigInt)] = Map.empty
  private var baseBytes: Map[String, Long] = Map.empty
  private var schemas: Map[String, StructType] = Map.empty
  private val outcomes = collection.mutable.Map.empty[Int, Outcome]
  private val batches = collection.mutable.Map.empty[Int, Batch]

  /** The template tables, generated by Spark from the seed with hash
    * expressions the model evaluates the same way. Each table is written
    * as `FilesPerTable` files over contiguous key ranges. */
  def generate(): String = {
    val h0 = XxHash64Function.hash(seed, LongType, 42L)
    baseDays = Array.tabulate(Scenes)(i =>
      Day0 + Math.floorMod(XxHash64Function.hash(i.toLong, LongType, h0), 3650L).toInt)
    val h1 = XxHash64Function.hash(1L, LongType, h0)
    baseMean = Array.tabulate(Scenes * Aois)(j =>
      (Math.floorMod(XxHash64Function.hash(j.toLong, LongType, h1), 1100001L) - 200000L)
        .toDouble / 1e6)
    Workload.deleteTree(templateDir)
    val scene = format_string("LC08_L2SP_%07d", col("scene"))
    VersionedTable.create(spark, templateDir.resolve("ndvi_full").toString,
      spark.range(0, Scenes, 1, FilesPerTable).select(
        format_string("LC08_L2SP_%07d", col("id")).as("scene_id"),
        date_add(lit(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(Day0.toLong))),
          pmod(xxhash64(lit(seed), col("id")), lit(3650L)).cast("int"))
          .as("acquisition_date")))
    VersionedTable.create(spark, templateDir.resolve("ndvi_clipped").toString,
      spark.range(0, Scenes.toLong * Aois, 1, FilesPerTable)
        .select(col("id"), expr(s"id div $Aois").as("scene"))
        .select(scene.as("scene_id"), (col("id") % Aois + 1).as("aoi_id"),
          ((pmod(xxhash64(lit(seed), lit(1L), col("id")), lit(1100001L)) - 200000L)
            .cast("double") / 1e6).as("mean_ndvi")))
    baseSums = Map(
      "ndvi_full" -> (Scenes.toLong,
        (0 until Scenes).map(i => BigInt(fullHash(sceneId(i), baseDays(i)))).sum),
      "ndvi_clipped" -> ((Scenes * Aois).toLong,
        (0 until Scenes * Aois).map(j =>
          BigInt(clippedHash(sceneId(j / Aois), j % Aois + 1L, baseMean(j)))).sum))
    baseBytes = Tables.map(t => t -> Workload.treeBytes(templateDir.resolve(t))).toMap
    Workload.sha256(Iterator(baseDays.mkString(",").getBytes,
      baseMean.mkString(",").getBytes))
  }

  def setup(): Unit = {
    // batches carry the tables' own schemas (nullability included)
    schemas = Tables.map(t =>
      t -> VersionedTable.schemaOf(spark, templateDir.resolve(t).toString)).toMap
    // the template must read back as the model says, or no op can pass
    Tables.foreach { t =>
      val got = checksum(VersionedTable.read(spark, templateDir.resolve(t).toString), t)
      require(got == baseSums(t), s"template $t checksum $got != ${baseSums(t)}")
    }
    Files.createDirectories(tablesDir)
  }

  /** Op k's batch, from (seed, k): distinct existing keys to update with a
    * changed value, and new scenes to insert. Every op's batch has the same
    * shape, so ops cost the same. */
  private def batchOf(k: Int): Batch = {
    val rnd = new java.util.SplittableRandom(seed * 31 + k + 1)
    val upd = collection.mutable.LinkedHashSet.empty[Int]
    while (upd.size < ClippedUpdates) upd += rnd.nextInt(Scenes * Aois)
    val clippedUpd = upd.toSeq.map(j => (j, baseMean(j) + (0.001 + rnd.nextInt(50) / 1000.0)))
    val newScenes = (0 until NewScenes).map(i => Scenes + i)
    val clippedIns = for (i <- newScenes; a <- 1 to Aois) yield
      (i, a.toLong, math.rint(rnd.nextDouble() * 1e6) / 1e6)
    val fullUpd = upd.toSeq.map(_ / Aois).distinct.take(FullUpdates)
      .map(i => (i, baseDays(i) + 1 + rnd.nextInt(30)))
    val fullIns = newScenes.map(i => (i, Day0 + 4000 + rnd.nextInt(100)))
    Batch(clippedUpd, clippedIns, fullUpd, fullIns)
  }

  override def prepare(k: Int): Unit = {
    Workload.deleteTree(tablesDir.resolve(s"op$k"))
    Tables.foreach(t => Workload.copyTree(templateDir.resolve(t),
      tablesDir.resolve(s"op$k").resolve(t)))
    batches(k) = batchOf(k)
  }

  def run(k: Int, tr: Option[Tracer]): Unit = {
    def span[T](name: String)(body: => T): T = tr.fold(body)(_.span(name)(body))
    val b = batches(k)
    val full = fullFrame(b.fullUpd.map { case (i, d) => (sceneId(i), d) } ++
      b.fullIns.map { case (i, d) => (sceneId(i), d) })
    val clipped = clippedFrame(b.clippedUpd.map { case (j, m) =>
      (sceneId(j / Aois), (j % Aois + 1).toLong, m) } ++
      b.clippedIns.map { case (i, a, m) => (sceneId(i), a, m) })
    val (rf, rc) = (root(k, "ndvi_full"), root(k, "ndvi_clipped"))
    val body = () => {
      val vf = span("sink.merge_cow") {
        VersionedTable.mergeInto(spark, rf, full, Seq("scene_id"))
      }
      val vc = span("sink.merge_mor") {
        VersionedTable.mergeIntoVectored(spark, rc, clipped, Seq("scene_id", "aoi_id"))
      }
      val cdf = span("sink.cdf") {
        Seq(rf -> vf, rc -> vc).map { case (r, v) =>
          val (add, rem) = VersionedTable.changesBetween(spark, r, v - 1, v)
          (add.count(), rem.count())
        }
      }
      val sums = span("sink.read") {
        Seq(checksum(VersionedTable.read(spark, rf), "ndvi_full"),
          checksum(VersionedTable.read(spark, rc), "ndvi_clipped"))
      }
      outcomes(k) = Outcome(Seq(vf, vc), cdf, sums)
    }
    tr match {
      case Some(t) => t.span("op")(body())
      case None => body()
    }
  }

  def verify(k: Int): Option[String] = {
    val o = outcomes.remove(k).getOrElse(return Some(s"op $k: no result"))
    val b = batches(k)
    // the model after the batch
    val fullSum = baseSums("ndvi_full")._2 -
      b.fullUpd.map { case (i, _) => BigInt(fullHash(sceneId(i), baseDays(i))) }.sum +
      (b.fullUpd ++ b.fullIns).map { case (i, d) => BigInt(fullHash(sceneId(i), d)) }.sum
    val clippedSum = baseSums("ndvi_clipped")._2 -
      b.clippedUpd.map { case (j, _) =>
        BigInt(clippedHash(sceneId(j / Aois), j % Aois + 1L, baseMean(j))) }.sum +
      b.clippedUpd.map { case (j, m) =>
        BigInt(clippedHash(sceneId(j / Aois), j % Aois + 1L, m)) }.sum +
      b.clippedIns.map { case (i, a, m) => BigInt(clippedHash(sceneId(i), a, m)) }.sum
    val want = Seq(
      (baseSums("ndvi_full")._1 + b.fullIns.size, fullSum),
      (baseSums("ndvi_clipped")._1 + b.clippedIns.size, clippedSum))
    val wantCdf = Seq(
      (b.fullUpd.size + b.fullIns.size).toLong -> b.fullUpd.size.toLong,
      (b.clippedUpd.size + b.clippedIns.size).toLong -> b.clippedUpd.size.toLong)
    val problems = Seq(
      if (o.versions != Seq(2, 2)) Some(s"versions ${o.versions}") else None,
      if (o.sums != want) Some(s"checksums ${o.sums} != $want") else None,
      if (o.cdf != wantCdf) Some(s"change feed ${o.cdf} != $wantCdf") else None).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  def written(k: Int): Long =
    Workload.treeBytes(tablesDir.resolve(s"op$k")) - baseBytes.values.sum

  /** Clean-up, after recording the op's write amplification (bytes
    * written / bytes of the changed rows at the template's bytes per row)
    * and the live file count of both tables. */
  def release(k: Int): Unit = {
    val b = batches.remove(k).get
    val perRow = Tables.map(t => t -> baseBytes(t).toDouble / baseSums(t)._1).toMap
    val changed = (b.fullUpd.size + b.fullIns.size) * perRow("ndvi_full") +
      (b.clippedUpd.size + b.clippedIns.size) * perRow("ndvi_clipped")
    val live = Tables.map(t => VersionedTable.filesOf(spark, root(k, t)).size).sum
    sinkByOp(k) = (written(k) / changed, live.toDouble)
    Workload.deleteTree(tablesDir.resolve(s"op$k"))
  }
  private val sinkByOp = collection.mutable.Map.empty[Int, (Double, Double)]

  def layers(tr: Tracer, ops: Seq[Int]): Seq[(String, Double)] = {
    def self(name: String) = Workload.mean(ops.flatMap(tr.of(_, name)).map(_.selfS))
    Seq(
      "sink.merge_cow_s" -> self("sink.merge_cow"),
      "sink.merge_mor_s" -> self("sink.merge_mor"),
      "sink.cdf_s" -> self("sink.cdf"),
      "sink.read_s" -> self("sink.read"),
      "sink.write_amp" -> Workload.mean(ops.flatMap(sinkByOp.get).map(_._1)),
      "sink.files_live" -> Workload.mean(ops.flatMap(sinkByOp.get).map(_._2)))
  }

  def facts: Workload.Obj = Workload.obj(
    "ndvi_full_rows" -> Scenes, "ndvi_clipped_rows" -> Scenes * Aois,
    "files_per_table" -> FilesPerTable,
    "batch_clipped_updates" -> ClippedUpdates,
    "batch_clipped_inserts" -> NewScenes * Aois,
    "batch_full_updates" -> FullUpdates, "batch_full_inserts" -> NewScenes,
    "template_mb" -> baseBytes.values.sum / 1e6,
    "restore" -> "fresh table roots per op: manifest cache cold for the pre-op version")

  private def fullFrame(rows: Seq[(String, Int)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (s, d) =>
        Row(s, java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))) }: _*),
      schemas("ndvi_full"))

  private def clippedFrame(rows: Seq[(String, Long, Double)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { case (s, a, m) => Row(s, a, m) }: _*),
      schemas("ndvi_clipped"))

  /** (row count, sum of xxhash64 over every column) of a table snapshot. */
  private def checksum(df: DataFrame, table: String): (Long, BigInt) = {
    val cols = (if (table == "ndvi_full") Seq("scene_id", "acquisition_date")
      else Seq("scene_id", "aoi_id", "mean_ndvi")).map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigInt(r.getDecimal(1).toBigInteger))
  }
}

object UpsertWorkload {
  val Scenes = 100000
  val Aois = 3
  val FilesPerTable = 8
  val ClippedUpdates = 1800
  val NewScenes = 67
  val FullUpdates = 300
  val Day0: Int = java.time.LocalDate.parse("2013-04-11").toEpochDay.toInt
  val Tables = Seq("ndvi_full", "ndvi_clipped")

  def sceneId(i: Int): String = f"LC08_L2SP_$i%07d"

  /** Spark's xxhash64(col...) of one row: each column hashed with the
    * previous column's hash as the seed, starting from 42. */
  def fullHash(scene: String, day: Int): Long = {
    val h = XxHash64Function.hash(UTF8String.fromString(scene), StringType, 42L)
    XxHash64Function.hash(day, DateType, h)
  }

  def clippedHash(scene: String, aoi: Long, mean: Double): Long = {
    val h0 = XxHash64Function.hash(UTF8String.fromString(scene), StringType, 42L)
    val h1 = XxHash64Function.hash(aoi, LongType, h0)
    XxHash64Function.hash(mean, DoubleType, h1)
  }

  final case class Batch(clippedUpd: Seq[(Int, Double)],
                         clippedIns: Seq[(Int, Long, Double)],
                         fullUpd: Seq[(Int, Int)], fullIns: Seq[(Int, Int)])

  final case class Outcome(versions: Seq[Int], cdf: Seq[(Long, Long)],
                           sums: Seq[(Long, BigInt)])
}
