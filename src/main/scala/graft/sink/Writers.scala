package graft.sink

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sink-side conflict semantics (SURVEY.md §2.10, K3–K9), replacing the
  * reference's Postgres ON CONFLICT upserts
  * (reference src/load/load_to_postgis.py:151-328) with pure-DataFrame
  * algorithms over parquet tables:
  *
  *  - K3/K4 insert-if-absent (DO NOTHING)  → left-anti join + append
  *  - K5/K6 merge (DO UPDATE)              → union + row_number, new wins
  *  - K7 per-row error isolation           → valid/reject split
  *
  * Atomicity is Spark's job-level commit; the reference's staged
  * `conn.commit()` per table (K9, load_to_postgis.py:370-384) maps to
  * ordered write jobs. At 100 TB the merge shuffles once on the key — at
  * that scale you'd bucket the target table by the merge key so the window
  * runs shuffle-free.
  */
object Writers {

  /** K3/K4: rows of `incoming` whose key is absent from `existing`
    * (ON CONFLICT DO NOTHING). Broadcast the smaller side when existing
    * keys are dimension-sized. */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame,
                     keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(),
      keys, "left_anti")

  /** K5/K6: merge with last-writer-wins on the conflict key — new rows
    * replace old on key collision; among duplicate-key rows within one
    * side, the LARGEST `tieBreak` (the newest) wins, matching the
    * last-writer-wins contract. */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String],
            tieBreak: String): DataFrame = {
    val unioned = existing.withColumn("_is_new", lit(0))
      .unionByName(incoming.withColumn("_is_new", lit(1)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_is_new").desc, col(tieBreak).desc)
    unioned.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_is_new", "_rn")
  }

  /** K7: split rows by a validity predicate → (valid, rejects). The rejects
    * side carries the reason for the A3 run-summary accounting. */
  def splitRejects(df: DataFrame, valid: org.apache.spark.sql.Column,
                   reason: String): (DataFrame, DataFrame) =
    (df.filter(valid),
     df.filter(!valid).withColumn("reject_reason", lit(reason)))

  /** K1/K2 tile-table write: zstd parquet, laid out for scan locality —
    * partition by scene prefix would explode small dirs at low SF, so we
    * sort within partitions by the grid key instead (parquet row-group
    * stats then prune on scene_id/tile ranges). Commit order mirrors the
    * reference loader: data job first, then the K8 metadata step. */
  def writeTiles(tiles: DataFrame, path: String): Unit = {
    tiles
      .sortWithinPartitions("scene_id", "band", "tile_row", "tile_col")
      .write.mode(SaveMode.Overwrite)
      .option("compression", "zstd")
      .parquet(path)
    addTableMetadata(tiles.sparkSession, path)
  }

  /** [[writeTiles]] through the [[VersionedTable]] commit protocol:
    * same sorted zstd layout and K8 sidecar, but published as a manifest
    * commit (create on first write, overwrite after) — concurrent readers
    * that resolved an earlier version keep reading its immutable files,
    * and the previous tile table stays reachable by time travel until
    * expired. This is the 100 TB replacement for the directory-swap
    * commit. Returns the committed version. */
  def writeTilesVersioned(tiles: DataFrame, root: String): Int = {
    val spark = tiles.sparkSession
    val sorted = tiles.sortWithinPartitions("scene_id", "band", "tile_row", "tile_col")
    val v =
      if (VersionedTable.currentVersion(spark, root).isEmpty)
        VersionedTable.create(spark, root, sorted)
      else VersionedTable.overwrite(spark, root, sorted)
    writeMetadataSidecar(spark, VersionedTable.read(spark, root, Some(v)), root)
    v
  }

  /** K8: the parquet analog of the reference's AddRasterConstraints step
    * (load_to_postgis.py:332-354 — after each load it registers SRID /
    * scale / blocksize metadata so catalog clients can discover raster
    * properties without scanning). Here: derive the same properties FROM
    * the committed table and record them as a `_table_metadata.json`
    * sidecar next to the parquet files; a rewrite recomputes it (the
    * DropRasterConstraints + re-add cycle). One aggregate job over the
    * table's metadata columns — pixels are never read. */
  def addTableMetadata(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    writeMetadataSidecar(spark, spark.read.parquet(path), path)

  /** K8 sidecar from an explicit frame (used by the versioned layout,
    * where data files live under `root/data` rather than at the root). */
  private def writeMetadataSidecar(spark: org.apache.spark.sql.SparkSession,
                                   t: DataFrame, path: String): Unit = {
    val row = t.agg(
      sort_array(collect_set(col("epsg"))).as("srids"),
      sort_array(collect_set(col("band"))).as("bands"),
      max(col("width")).as("block_w"),
      max(col("height")).as("block_h"),
      sort_array(collect_set(element_at(col("transform"), 1))).as("scales_x"),
      sort_array(collect_set(element_at(col("transform"), 5))).as("scales_y"),
      count(lit(1)).as("n_tiles")).head
    def jsonArr[T](xs: Seq[T]): String = xs.mkString("[", ",", "]")
    val json =
      s"""{"srids": ${jsonArr(row.getSeq[Int](0))},
         | "bands": ${jsonArr(row.getSeq[String](1).map(b => "\"" + b + "\""))},
         | "block_width": ${row.getInt(2)}, "block_height": ${row.getInt(3)},
         | "pixel_scale_x": ${jsonArr(row.getSeq[Double](4))},
         | "pixel_scale_y": ${jsonArr(row.getSeq[Double](5))},
         | "n_tiles": ${row.getLong(6)}}""".stripMargin
    val hPath = new org.apache.hadoop.fs.Path(path, "_table_metadata.json")
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(hPath, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }
}
