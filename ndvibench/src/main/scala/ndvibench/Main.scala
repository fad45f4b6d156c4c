package ndvibench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark process: one workload, one seed, a closed loop of ops on
  * one client thread for `--seconds`, then one result.
  *
  *   --workload scene_large|product_upsert
  *   --seed N --seconds S --trace 0|1 --cpus N --work DIR --out FILE
  *
  * Untraced runs report the end-to-end metrics; traced runs alternate an
  * untraced op with a traced one and report the per-layer metrics and the
  * tracing slowdown. The full result (metrics, environment, op log, spans,
  * counters) goes to `--out`; stdout ends with one compact JSON line. */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        cpus: Int, work: Path, out: Path)

  final case class OpLog(k: Int, traced: Boolean, wallS: Double, cpuS: Double,
                         allocMb: Double, gcS: Double, jitS: Double,
                         writtenMb: Double, jobs: Int, tasks: Int,
                         shuffleMb: Double, executorCpuS: Double,
                         error: Option[String]) {
    def ok: Boolean = error.isEmpty
    def json: Workload.Obj = Workload.obj("op" -> k, "traced" -> traced, "wall_s" -> wallS,
      "cpu_s" -> cpuS, "alloc_mb" -> allocMb, "gc_s" -> gcS, "jit_s" -> jitS,
      "written_mb" -> writtenMb, "jobs" -> jobs, "tasks" -> tasks,
      "shuffle_mb" -> shuffleMb, "executor_cpu_s" -> executorCpuS,
      "ok" -> ok, "error" -> error)
  }

  /** Set-ups per run (inputs from the seed, oracle, frames): `setup_s`
    * is the median of their process CPU time, which CPU steal does not
    * inflate the way it does wall time on a shared VM. JVM and Spark
    * session start happen once, before any repo code runs, and are
    * recorded, not bounded. */
  val SetupReps = 3

  /** The metrics an untraced run prints: those that hold still between
    * runs of the same code on a shared VM (NOTES.md has the spreads). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "alloc_mb_per_op" -> "MB", "written_mb_per_op" -> "MB",
    "ok_ratio" -> "ratio")

  /** In the full result only. Op time, CPU and live heap move by more than
    * a bound may allow between runs of the same code here (CPU steal, the
    * JIT still compiling). The counts say which layer did what, not which
    * way is better (a fan-out over more tasks can be the faster op).
    * `failed_ratio` is 0 on a correct run, so the printed form is
    * `ok_ratio`. */
  val Diagnostics: Seq[(String, String)] = Seq(
    "ops_per_s" -> "1/s", "op_s_p50" -> "s", "cpu_s_per_op" -> "s",
    "heap_live_peak_mb" -> "MB", "failed_ratio" -> "ratio",
    "jobs_per_op" -> "count", "tasks_per_op" -> "count",
    "shuffle_mb_per_op" -> "MB", "executor_cpu_s_per_op" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.decode_s" -> "s", "sources.decode_mpx_per_s" -> "Mpx/s",
    "sources.decode_tasks" -> "count", "sources.decode_mpx_per_s_1t" -> "Mpx/s",
    "sources.decode_alloc_mb" -> "MB",
    "pipeline.select_s" -> "s",
    "raster.pair_s" -> "s", "raster.pair_shuffle_mb" -> "MB",
    "raster.ndvi_s" -> "s", "raster.ndvi_mpx_per_s" -> "Mpx/s",
    "geo.aoi_s" -> "s",
    "raster.clip_s" -> "s", "raster.clip_keep_ratio" -> "ratio",
    "raster.mean_s" -> "s", "raster.viz_s" -> "s",
    "pipeline.run_s" -> "s", "pipeline.plan_s" -> "s",
    "pipeline.jobs" -> "count", "pipeline.tasks" -> "count",
    "pipeline.driver_gap_s" -> "s", "pipeline.slot_util" -> "ratio",
    "sink.commit_s" -> "s",
    "sink.merge_cow_s" -> "s", "sink.merge_mor_s" -> "s",
    "sink.cdf_s" -> "s", "sink.read_s" -> "s",
    "sink.write_amp" -> "ratio", "sink.files_live" -> "count",
    "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "trace.op_s" -> "s", "trace.slowdown" -> "ratio")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("cpus", "4").toInt,
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath)
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().master(s"local[${o.cpus}]").appName("ndvibench")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(o.work)
    val spark = session(o)
    val w: Workload = o.workload match {
      case "scene_large" => new SceneWorkload(spark, o.work, o.seed)
      case "product_upsert" => new UpsertWorkload(spark, o.work, o.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      val result = measure(o, spark, w)
      Files.createDirectories(o.out.getParent)
      Files.write(o.out, Workload.json(result._1).getBytes("UTF-8"))
      println(Workload.json(result._2))
    } finally spark.stop()
  }

  /** Progress on stderr, so a slow phase can be told apart in the log. */
  def note(msg: String): Unit =
    System.err.println(f"[ndvibench ${(System.currentTimeMillis() - Jvm.startMillis) / 1e3}%8.2f s] $msg")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Returns (full result, compact line). */
  def measure(o: Opts, spark: SparkSession, w: Workload): (Workload.Obj, Workload.Obj) = {
    val heap = new HeapPeak
    val counters = new SparkCounters(spark)
    val t0Ns = System.nanoTime()
    val tracer = if (o.trace) Some(new Tracer(spark, counters, t0Ns)) else None
    val sessionS = (System.currentTimeMillis() - Jvm.startMillis) / 1e3

    // ---- set-up, repeated: inputs, oracle, frames ------------------------
    val setups = (1 to SetupReps).map { i =>
      val s0 = Jvm.snap()
      val (digest, genS) = timed(w.generate())
      val (_, restS) = timed(w.setup())
      val cpuS = (Jvm.snap() - s0).cpuS
      note(f"set-up $i: inputs $genS%.2f s, oracle and frames $restS%.2f s, cpu $cpuS%.2f s")
      (digest, genS, restS, cpuS)
    }
    val deterministic = setups.map(_._1).distinct.size == 1
    val setupS = Workload.median(setups.map(_._4))
    val log = collection.mutable.ArrayBuffer.empty[OpLog]
    def oneOp(k: Int, traced: Boolean): OpLog = {
      w.prepare(k)
      tracer.foreach(_.beginOp(k))
      counters.drain()
      val c0 = counters.sum("")
      val s0 = Jvm.snap()
      val err = try { w.run(k, if (traced) tracer else None); None }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val d = Jvm.snap() - s0
      counters.drain()
      val c = counters.sum("")
      val verdict = err.orElse(
        try w.verify(k) catch { case e: Exception => Some(s"verify: $e") })
      val written = try w.written(k) catch { case _: Exception => 0L }
      w.release(k)
      val l = OpLog(k, traced, d.wallS, d.cpuS, d.allocMb, d.gcMs / 1e3,
        d.jitMs / 1e3, written / 1e6, c.jobs - c0.jobs, c.tasks - c0.tasks,
        (c.shuffleWrite - c0.shuffleWrite) / 1e6, (c.cpuNs - c0.cpuNs) / 1e9,
        verdict.map(_.take(400)))
      log += l
      note(f"op $k${if (traced) " traced" else ""}: ${l.wallS}%.2f s, cpu ${l.cpuS}%.1f s, " +
        f"jit ${l.jitS}%.1f s" +
        verdict.fold("")(v => s", FAILED: $v"))
      l
    }
    // A scene op is the paper's pipeline run, a batch job a user starts
    // cold every time, so it is timed cold, on one op per run. Upsert ops
    // model a long-lived loader: one warm-up op takes the cold start (class
    // loading, code generation, most of the JIT), then three ops are timed;
    // three take longer than the window, so every run times the same ops.
    // A traced run warms up first either way, so that its untraced and
    // traced ops compare.
    val upsert = o.workload == "product_upsert"
    val warmups = if (upsert || o.trace) 1 else 0
    val minPlain = if (upsert) 3 else 1
    // a traced run alternates untraced and traced ops
    val minOps = if (o.trace) math.max(2, minPlain) else minPlain
    val (_, warmS) = timed((0 until warmups).foreach(k => oneOp(k, traced = false)))

    // ---- the timed window: closed loop, one client thread ------------------
    // a full collection first, so every run starts the window with the
    // same old generation and the post-GC peak compares across runs
    System.gc()
    val steal0 = Steal.read()
    val jvm0 = Jvm.snap()
    heap.start()
    var k = warmups
    val loopStart = System.nanoTime()
    // at least `minOps` ops, so each run times the same number of ops
    // while an op takes longer than seconds / minOps; a run whose ops keep
    // failing stops early, its result is incorrect anyway
    while ((k - warmups < minOps || System.nanoTime() - loopStart < o.seconds * 1e9) &&
           log.count(!_.ok) < 3) {
      oneOp(k, traced = o.trace && (k - warmups) % 2 == 1)
      k += 1
    }
    val heapPeak = heap.stopMb()
    val jvmWin = Jvm.snap() - jvm0
    val stealPct = Steal.percent(steal0, Steal.read())

    val timedOps = log.drop(warmups).toSeq
    val plain = timedOps.filterNot(_.traced)
    val attempted = plain.size
    val okOps = plain.count(_.ok)
    val walls = plain.map(_.wallS)
    // drift: second-half / first-half median wall of the untraced ops after
    // the first (cold) warm-up op, timed ones included
    val settled = log.drop(1).filterNot(_.traced).map(_.wallS).toSeq
    val half = settled.size / 2
    val drift =
      if (half == 0) Double.NaN
      else Workload.median(settled.drop(settled.size - half)) /
        Workload.median(settled.take(half))

    def perOp(f: OpLog => Double) = plain.map(f).sum / attempted
    val endToEnd = Seq(
      "setup_s" -> setupS,
      "alloc_mb_per_op" -> perOp(_.allocMb),
      "written_mb_per_op" -> perOp(_.writtenMb),
      "ok_ratio" -> okOps.toDouble / attempted)
    val diagnostics = Seq(
      "ops_per_s" -> okOps / walls.sum,
      "op_s_p50" -> Workload.median(walls),
      "cpu_s_per_op" -> perOp(_.cpuS),
      "heap_live_peak_mb" -> heapPeak,
      "failed_ratio" -> (attempted - okOps).toDouble / attempted,
      "jobs_per_op" -> perOp(_.jobs.toDouble),
      "tasks_per_op" -> perOp(_.tasks.toDouble),
      "shuffle_mb_per_op" -> perOp(_.shuffleMb),
      "executor_cpu_s_per_op" -> perOp(_.executorCpuS))

    val perLayer: Seq[(String, Double)] = tracer.map { tr =>
      tr.finishSelfTimes()
      val tracedOps = timedOps.filter(_.traced).map(_.k)
      val opSpans = tracedOps.flatMap(tr.of(_, "op"))
      val generic = Seq(
        "pipeline.plan_s" -> Workload.mean(opSpans.map(s => counters.planMs(s.startMs, s.endMs) / 1e3)),
        "pipeline.jobs" -> Workload.mean(opSpans.map(s => counters.sum(s"op${s.op}/").jobs.toDouble)),
        "pipeline.tasks" -> Workload.mean(opSpans.map(s => counters.sum(s"op${s.op}/").tasks.toDouble)),
        "pipeline.driver_gap_s" -> Workload.mean(opSpans.map(s =>
          s.wallS - counters.busyMs(s.startMs, s.endMs) / 1e3)),
        "pipeline.slot_util" -> Workload.mean(opSpans.map(s =>
          counters.sum(s"op${s.op}/").taskMs / 1e3 / (o.cpus * s.wallS))),
        "jvm.gc_s" -> Workload.mean(plain.map(_.gcS)),
        "jvm.jit_s" -> Workload.mean(plain.map(_.jitS)),
        "trace.op_s" -> Workload.median(timedOps.filter(_.traced).map(_.wallS)),
        "trace.slowdown" -> Workload.median(timedOps.filter(_.traced).map(_.wallS)) /
          Workload.median(walls))
      val oneThread = w match {
        case s: SceneWorkload => Seq("sources.decode_mpx_per_s_1t" -> s.decodeOneThread())
        case _ => Seq.empty
      }
      val got = (w.layers(tr, tracedOps) ++ generic ++ oneThread).toMap
      // every per-layer metric is reported; a layer the workload does not
      // exercise reads 0
      PerLayer.map { case (n, _) => n -> got.getOrElse(n, 0.0) }
    }.getOrElse(Seq.empty)

    val allOk = log.forall(_.ok) && deterministic
    val units = (EndToEnd ++ Diagnostics ++ PerLayer).toMap
    val reported = if (o.trace) perLayer else endToEnd
    // traced ops count as attempted too; untraced runs have only untraced ops
    val failed = timedOps.count(!_.ok)
    val compact = Workload.obj(
      "correct" -> allOk, "attempted" -> timedOps.size, "failed" -> failed,
      "metrics" -> Workload.obj(reported.map { case (n, v) =>
        n -> Workload.obj("value" -> v, "unit" -> units(n)) }: _*))
    val full = Workload.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> o.trace, "correct" -> allOk, "attempted" -> timedOps.size,
      "failed" -> failed,
      "metrics" -> Workload.obj(endToEnd: _*),
      "diagnostics" -> Workload.obj(diagnostics: _*),
      "per_layer" -> Workload.obj(perLayer: _*),
      "units" -> Workload.obj(units.toSeq.sortBy(_._1): _*),
      "setup" -> Workload.obj("jvm_and_session_s" -> sessionS,
        "inputs_s" -> setups.map(_._2), "inputs_deterministic" -> deterministic,
        "oracle_and_frames_s" -> setups.map(_._3), "cpu_s" -> setups.map(_._4),
        "warmup_ops" -> warmups,
        "warmup_s" -> warmS),
      "stationarity" -> Workload.obj(
        "second_half_over_first_half_p50" -> drift, "ops" -> settled.size),
      "env" -> Workload.obj(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "spark_local_n" -> o.cpus,
        "heap_max_mb" -> Jvm.maxHeapMb, "steal_pct" -> stealPct,
        "window_s" -> jvmWin.wallS, "window_gc_s" -> jvmWin.gcMs / 1e3,
        "window_jit_s" -> jvmWin.jitMs / 1e3, "window_cpu_s" -> jvmWin.cpuS,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "inputs" -> w.facts,
      "ops" -> log.map(_.json),
      "spans" -> tracer.map(_.spans.map(_.json)).getOrElse(Seq.empty))
    counters.close()
    (full, compact)
  }
}
