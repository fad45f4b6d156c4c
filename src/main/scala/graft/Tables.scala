package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table access for the driver test data (TESTDATA.md).
  *
  * All queries read through here so the scan always goes through the
  * vectorized parquet reader with Catalyst pushdown (filters/column
  * pruning reach the scan — see SURVEY.md §4). At 100 TB the same call
  * pattern holds: one parquet dataset per table, partition-pruned by
  * directory layout; nothing here assumes single-file inputs.
  */
object Tables {
  /** Schema cache for the base tables (r18 optimization): every
    * `spark.read.parquet(path)` without an explicit schema pays a
    * footer-read schema inference plus path glob on the DRIVER, and a
    * query touches its tables several times (plan + reuse). The schema
    * of a given parquet path is immutable for the life of a run, so
    * infer once per path and pass it explicitly thereafter — the same
    * role a table catalog plays at 100 TB (schemas come from metadata,
    * not footer sniffing). Results are unchanged: the inferred schema
    * IS what the schema-less read would resolve. */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val sch = schemaCache.computeIfAbsent(p, _ => spark.read.parquet(p).schema)
    spark.read.schema(sch).parquet(p)
  }

  /** Session settings every entry point applies: if the testdata
    * generation wrote events.ts as parquet TIMESTAMP(NANOS) (not a legal
    * Spark type), read it as a nanos long and convert in [[events]];
    * harmless when the generation writes MICROS. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // NOTE (r18): a GLOBAL AQE coalescing floor of 128k was measured
    // and rejected — it fixed the CPU-dense verify stages (q126/q139/
    // q156, 2 tasks on 32 cores) but taxed the iterative graph family
    // 16-35% (in-JVM A/B: q179 1.55->2.09s, q128 1.75->2.12s, q161
    // 2.67->3.11s — byte-small, cpu-LIGHT loop stages pay per-task
    // overhead). The floor is instead SCOPED to the operators that are
    // provably CPU-dense per byte: see [[cpuDense]] below.
    // the engine's Catalyst surface (optimizer rules + SQL functions) —
    // builder-applied because spark.sql.extensions is a static conf
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    // the SQL maintenance face: CALL graft.compact(...) etc.
    "spark.sql.catalog.graft" -> "graft.catalog.GraftCatalog",
    // TorrentBroadcast allocates one whole block for every broadcast,
    // however small (Spark's default block is 4 MiB). The broadcasts of
    // one ndvibench op (task binaries, scan Hadoop confs, small join
    // sides) serialize to 0.2-112.5 KiB, median about 20 KiB, so every
    // one fits one 128 KiB block; a larger broadcast only takes more
    // blocks.
    "spark.broadcast.blockSize" -> "128k")

  /** Run `df` under a LOWER AQE partition-coalescing floor, scoped to
    * this frame only (guide §2.2/§2.5 + §8 "use what you know that the
    * optimizer does not"). AQE's parallelismFirst coalescing sizes
    * post-shuffle partitions by BYTES (floor 1 MB) — correct for scan-
    * like stages, but a CPU-DENSE compact stage (hashed shingle sets,
    * candidate pairs verified by codegen kernels: ~100x more CPU per
    * byte than a scan) gets serialized onto 1-2 of 32 cores. The
    * operator knows its own density, so it opts in here: a cloned
    * session (same SparkContext, private SQLConf) carries the 128 KB
    * floor, and the returned frame plans/executes under it without
    * leaking the conf to the caller's session. Measured r18 (sf0.1,
    * local[32]): q126 5.6->1.9 s, q139 5.4->1.7 s, q156 5.2->2.5 s;
    * scoping avoids the 16-35% loop-family tax a global floor cost.
    * At cluster scale any data-sized stage is parallelism-bound, not
    * floor-bound — the floor only matters where it should. */
  def cpuDense(s: SparkSession, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    val scoped = Bridge.cloneSession(s)
    // Floor resolution (r19): runtime conf > env > 128k. The constant is
    // PRINCIPLED as a per-task CPU-work bound, not a parallelism bound:
    // opted-in stages run ~2 CPU-s/MB (measured q126), so 128k ≈ 0.25 s
    // of CPU per task ≈ 25x task overhead. The defaultParallelism
    // scaling the floor might seem to need is ALREADY supplied by AQE's
    // parallelismFirst target max(total/defaultParallelism, floor):
    // post-shuffle tasks = min(parallelism, total/floor), so a lower
    // floor can never over-split past one task per core, and on a big
    // cluster any data-sized stage is parallelism-bound with the floor
    // irrelevant. A P-derived floor (e.g. 4MB/P) was considered and
    // rejected: it under-parallelizes exactly when P is small (the
    // driver's 8-core scaling run) and binds nothing when P is large.
    // In-JVM A/B at 128k|64k|32k measured the three within noise at
    // local[32] (OPTIMIZATION_r19.md), so the r18-measured 128k stands.
    scoped.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      s.conf.get("spark.graft.cpuDense.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_CPU_DENSE_MIN_PARTITION", "128k")))
    Bridge.ofRows(scoped, df)
  }

  /** Normalize an events frame's `ts` to a microsecond TimestampType on
    * the session's UTC clock — exactly what DuckDB surfaces from the same
    * file — across BOTH testdata generations: TIMESTAMP(NANOS) arrives as
    * a nanos BIGINT (under nanosAsLong; integer `div` truncates toward
    * zero == floor for post-epoch values, matching DuckDB's ns→us
    * truncation), TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ (cast to
    * the instant type keeps the wall clock under a UTC session). Works
    * on streaming frames too (schema is known up front). */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Raw events with an integer-microseconds column `tus` alongside —
    * the pure-integer path for window/gap arithmetic that must stay
    * bit-exact across engines (no timestamp object in the hot loop). */
  def eventsMicros(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("tus", expr("ts div 1000"))
      case TimestampNTZType =>
        raw.withColumn("tus", unix_micros(col("ts").cast(TimestampType)))
      case _ => raw.withColumn("tus", unix_micros(col("ts")))
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events with `ts` surfaced as a microsecond TimestampType regardless
    * of the testdata generation's physical type — see [[normalizeTs]]. */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(table(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
