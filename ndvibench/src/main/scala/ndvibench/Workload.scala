package ndvibench

/** One benchmark workload. The harness calls, in order: `generate` then
  * `setup`, one or more times (each `generate` must rebuild the same
  * inputs from the seed and return their digest), then per op `prepare`,
  * `run` (the only timed call), `verify`, `written` and `release`. */
trait Workload {
  /** Build the inputs from the seed; returns a digest of them. */
  def generate(): String
  /** Everything else set-up needs once the inputs exist: oracle, frames. */
  def setup(): Unit
  /** Untimed preparation of op `k` (fresh or restored table roots). */
  def prepare(k: Int): Unit = ()
  /** Op `k`. Layer calls go through `tr` when the run is traced. */
  def run(k: Int, tr: Option[Tracer]): Unit
  /** Untimed oracle check of op `k`: None when its outputs are correct. */
  def verify(k: Int): Option[String]
  /** Bytes of files op `k` added under its table roots. */
  def written(k: Int): Long
  /** Untimed clean-up of op `k`. */
  def release(k: Int): Unit
  /** Per-layer metrics from the spans of the traced ops. */
  def layers(tr: Tracer, ops: Seq[Int]): Seq[(String, Double)]
  /** Sizes of the generated inputs, for the result file. */
  def facts: Workload.Obj
}

object Workload {
  /** An ordered JSON object for the result files. */
  type Obj = java.util.Map[String, Any]

  /** An ordered JSON object; a non-finite double reads as null. */
  def obj(fields: (String, Any)*): Obj = {
    val m = new java.util.LinkedHashMap[String, Any]()
    fields.foreach {
      case (k, d: Double) if d.isNaN || d.isInfinite => m.put(k, null)
      case (k, v) => m.put(k, v)
    }
    m
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** Compact JSON of an `obj` tree (Scala options and collections included). */
  def json(v: Any): String = mapper.writeValueAsString(v)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Total bytes of the regular files under `dir` (0 if absent). */
  def treeBytes(dir: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(dir)) 0L
    else {
      val st = java.nio.file.Files.walk(dir)
      try st.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally st.close()
    }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val st = java.nio.file.Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally st.close()
    }

  def copyTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
    val st = java.nio.file.Files.walk(src)
    try st.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally st.close()
  }

  def sha256(chunks: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    chunks.foreach(md.update)
    md.digest().take(12).map(b => f"${b & 0xff}%02x").mkString
  }
}
