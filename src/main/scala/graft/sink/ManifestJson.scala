package graft.sink

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import scala.jdk.CollectionConverters._
import VersionedTable._

/** The one JSON codec of the table logs: [[VersionedTable]]'s version
  * manifests (full or delta) and checkpoints, and [[TxnCatalog]]'s txn
  * files.
  *
  * A full manifest is one object: `version`; the per-commit fields
  * `op`, `txn`, `cts`, `loads` and `changes`; the table metadata
  * `partitionCols`, `maxcid` + `colmap`, `checks`, `defaults`, `gens`,
  * `ids`, `props` and `schema`; the file list `files`; then the
  * per-file metadata as flat arrays of objects that each name their
  * file (`stats`, `blooms`, `hlls`, `dvs`, `nrows`, `nocol`). A delta
  * writes `"delta": true` and `removes` / `adds` / `touch` in place of
  * `files`, and the metadata of its added and touched files only. Keys
  * are written in that fixed order, and every field but `version`,
  * `schema`, the file lists and `stats` is omitted when empty. A txn
  * file is `{"txn": n, "tables": {name: {"root", "version"}}}`. */
private[sink] object ManifestJson {

  private val mapper = JsonMapper.builder()
    // txn files from before this codec hold table names with raw
    // control characters (their writer escaped only '"' and '\')
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()

  /** `m` as a full manifest — also the checkpoint form. */
  def full(m: Manifest): Array[Byte] = {
    val o = header(m, delta = false)
    strings(o.putArray("files"), m.files)
    perFile(o, m)
    mapper.writeValueAsBytes(o)
  }

  /** `m` as a DELTA against its parent snapshot `p`: removed file
    * entries, appended ones, and the metadata of exactly the files this
    * commit added or touched (whose stats/blooms/registers/vectors
    * differ from the parent's). None when the delta encoding cannot
    * reproduce `m` exactly — wrong parent version, or a file order the
    * remove-then-append replay would not recreate (rollback) — in which
    * case the caller writes a full manifest. */
  def delta(m: Manifest, p: Manifest): Option[Array[Byte]] = {
    if (p.version + 1 != m.version) return None
    val pset = p.files.toSet
    val mset = m.files.toSet
    val removes = p.files.filterNot(mset)
    val adds = m.files.filterNot(pset)
    if (p.files.filterNot(removes.toSet) ++ adds != m.files) return None
    val touch = m.files.filter(pset).filter(f =>
      m.stats.get(f) != p.stats.get(f) || m.blooms.get(f) != p.blooms.get(f) ||
        m.hlls.get(f) != p.hlls.get(f) || m.dvs.get(f) != p.dvs.get(f) ||
        m.rows.get(f) != p.rows.get(f) || m.noCol.get(f) != p.noCol.get(f))
    val sel = (touch ++ adds).toSet
    def sub[T](mm: Map[String, T]): Map[String, T] =
      mm.view.filterKeys(sel).toMap
    val o = header(m, delta = true)
    strings(o.putArray("removes"), removes)
    strings(o.putArray("adds"), adds)
    strings(o.putArray("touch"), touch)
    perFile(o, m.copy(stats = sub(m.stats), blooms = sub(m.blooms),
      hlls = sub(m.hlls), dvs = sub(m.dvs), rows = sub(m.rows),
      noCol = sub(m.noCol)))
    Some(mapper.writeValueAsBytes(o))
  }

  /** A delta document's edits of its parent's file list. */
  final case class Delta(removes: Set[String], adds: Seq[String],
                         touch: Seq[String]) {
    /** Replay delta manifest `d` over its parent snapshot: removed
      * entries drop (with their metadata), added entries append in
      * recorded order, and a touched-or-added file's metadata is
      * REPLACED by exactly what the delta carries. */
    def replay(d: Manifest, parent: Manifest): Manifest = {
      val sel = (touch ++ adds).toSet
      def merge[T](pm: Map[String, T], dm: Map[String, T]): Map[String, T] =
        (pm -- removes -- sel) ++ dm
      d.copy(files = parent.files.filterNot(removes) ++ adds,
        stats = merge(parent.stats, d.stats),
        blooms = merge(parent.blooms, d.blooms),
        hlls = merge(parent.hlls, d.hlls), dvs = merge(parent.dvs, d.dvs),
        rows = merge(parent.rows, d.rows),
        noCol = merge(parent.noCol, d.noCol))
    }
  }

  /** Parse the manifest or checkpoint at `path` as version `v`. A delta
    * comes back with its [[Delta]], its manifest holding no files and
    * only the added and touched files' metadata until replayed. */
  def decode(path: String, v: Int, text: String): (Manifest, Option[Delta]) =
    parsing(path, text) { o =>
      num(o, "version") // required; the file name fixes the version read
      val delta =
        if (!o.path("delta").asBoolean(false)) None
        else Some(Delta(strs(o, "removes", required = true).toSet,
          strs(o, "adds", required = true), strs(o, "touch")))
      def grouped[T](kv: Seq[(String, T)]): Map[String, Seq[T]] =
        kv.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val m = Manifest(v, str(o, "schema"),
        files = if (delta.isEmpty) strs(o, "files", required = true) else Seq.empty,
        txn = opt(o, "txn")(num),
        stats = grouped(keyed(o, "stats", "file")(e => ColStat(str(e, "col"),
          str(e, "t"), str(e, "lo"), str(e, "hi"),
          opt(e, "nn")(num).getOrElse(-1L), opt(e, "u")(str).getOrElse(""),
          e.path("lv").asBoolean(false), opt(e, "sm")(num)))),
        blooms = grouped(keyed(o, "blooms", "bfile")(e =>
          FileBloom(str(e, "bcol"), int(e, "m"), int(e, "k"), str(e, "bits")))),
        partitionCols = strs(o, "partitionCols"),
        hlls = grouped(keyed(o, "hlls", "hfile")(e =>
          FileHll(str(e, "hcol"), int(e, "hm"), str(e, "regs")))),
        dvs = keyed(o, "dvs", "vfile")(e =>
          FileDv(str(e, "dv"), num(e, "card"))).toMap,
        rows = keyed(o, "nrows", "rfile")(num(_, "n")).toMap,
        op = opt(o, "op")(str).getOrElse(""),
        colMap = arr(o, "colmap").map(e => FieldMap(int(e, "cid"),
          str(e, "cname"), str(e, "cphys"), strs(e, "cprior"))),
        maxCid = opt(o, "maxcid")(int).getOrElse(0),
        checks = arr(o, "checks").map(e =>
          TableCheck(str(e, "kname"), str(e, "kexpr"))),
        defaults = keyed(o, "defaults", "dname")(str(_, "dexpr")).toMap,
        noCol = keyed(o, "nocol", "ncfile")(strs(_, "nccols")).toMap,
        gens = keyed(o, "gens", "gname")(str(_, "gexpr")).toMap,
        ids = keyed(o, "ids", "iname")(num(_, "ihw")).toMap,
        props = keyed(o, "props", "pkey")(str(_, "pval")).toMap,
        ts = opt(o, "cts")(num).getOrElse(0L),
        loads = strs(o, "loads"),
        changes = strs(o, "changes"))
      (m, delta)
    }

  /** Txn `n` of a catalog pinning `tables` (name → (root, version)). */
  def txn(n: Int, tables: Map[String, (String, Int)]): Array[Byte] = {
    val o = mapper.createObjectNode().put("txn", n)
    val t = o.putObject("tables")
    tables.toSeq.sortBy(_._1).foreach { case (name, (root, v)) =>
      t.putObject(name).put("root", root).put("version", v)
    }
    mapper.writeValueAsBytes(o)
  }

  /** The (name → (root, version)) pins of the txn file at `path`. */
  def txnTables(path: String, text: String): Map[String, (String, Int)] =
    parsing(path, text) { o =>
      num(o, "txn")
      val t = field(o, "tables")
      if (!t.isObject) bad("\"tables\" is not an object")
      t.properties.asScala.map { e =>
        e.getKey -> (str(e.getValue, "root"), int(e.getValue, "version"))
      }.toMap
    }

  // ---- writing -------------------------------------------------------------

  private def header(m: Manifest, delta: Boolean): ObjectNode = {
    val o = mapper.createObjectNode().put("version", m.version)
    if (delta) o.put("delta", true)
    if (m.op.nonEmpty) o.put("op", m.op)
    m.txn.foreach(t => o.put("txn", t))
    if (m.ts > 0L) o.put("cts", m.ts)
    stringField(o, "loads", m.loads)
    stringField(o, "changes", m.changes)
    stringField(o, "partitionCols", m.partitionCols)
    if (m.colMap.nonEmpty) o.put("maxcid", m.maxCid)
    objects(o, "colmap", m.colMap) { (e, f) =>
      stringField(e.put("cid", f.id).put("cname", f.name)
        .put("cphys", f.phys), "cprior", f.prior)
    }
    objects(o, "checks", m.checks)((e, c) =>
      e.put("kname", c.name).put("kexpr", c.expr))
    objects(o, "defaults", m.defaults.toSeq.sortBy(_._1)) { case (e, (c, x)) =>
      e.put("dname", c).put("dexpr", x) }
    objects(o, "gens", m.gens.toSeq.sortBy(_._1)) { case (e, (c, x)) =>
      e.put("gname", c).put("gexpr", x) }
    objects(o, "ids", m.ids.toSeq.sortBy(_._1)) { case (e, (c, hw)) =>
      e.put("iname", c).put("ihw", hw) }
    objects(o, "props", m.props.toSeq.sortBy(_._1)) { case (e, (k, v)) =>
      e.put("pkey", k).put("pval", v) }
    o.put("schema", m.schemaDdl)
  }

  private def perFile(o: ObjectNode, m: Manifest): Unit = {
    def each[T](mm: Map[String, Seq[T]]): Seq[(String, T)] =
      mm.toSeq.sortBy(_._1).flatMap { case (f, xs) => xs.map(f -> _) }
    objects(o, "stats", each(m.stats), always = true) { case (e, (f, c)) =>
      e.put("file", f).put("col", c.col).put("t", c.typ)
        .put("lo", c.lo).put("hi", c.hi)
      if (c.nulls >= 0) e.put("nn", c.nulls)
      if (c.unit.nonEmpty) e.put("u", c.unit)
      if (c.live) e.put("lv", true)
      c.sum.foreach(s => e.put("sm", s))
    }
    objects(o, "blooms", each(m.blooms)) { case (e, (f, b)) =>
      e.put("bfile", f).put("bcol", b.col).put("m", b.mBits).put("k", b.k)
        .put("bits", b.bits) }
    objects(o, "hlls", each(m.hlls)) { case (e, (f, h)) =>
      e.put("hfile", f).put("hcol", h.col).put("hm", h.m).put("regs", h.regs) }
    objects(o, "dvs", m.dvs.toSeq.sortBy(_._1)) { case (e, (f, d)) =>
      e.put("vfile", f).put("dv", d.dvFile).put("card", d.card) }
    objects(o, "nrows", m.rows.toSeq.sortBy(_._1)) { case (e, (f, n)) =>
      e.put("rfile", f).put("n", n) }
    objects(o, "nocol", m.noCol.toSeq.sortBy(_._1)) { case (e, (f, cs)) =>
      strings(e.put("ncfile", f).putArray("nccols"), cs) }
  }

  private def strings(a: ArrayNode, xs: Seq[String]): Unit = xs.foreach(a.add(_))

  private def stringField(o: ObjectNode, k: String, xs: Seq[String]): Unit =
    if (xs.nonEmpty) strings(o.putArray(k), xs)

  /** `xs` as array `k` of objects, each filled by `fill`; omitted when
    * empty unless `always`. */
  private def objects[T](o: ObjectNode, k: String, xs: Seq[T],
                         always: Boolean = false)(fill: (ObjectNode, T) => Any): Unit =
    if (xs.nonEmpty || always) {
      val a = o.putArray(k)
      xs.foreach(x => fill(a.addObject(), x))
    }

  // ---- reading -------------------------------------------------------------

  private final class Malformed(msg: String) extends RuntimeException(msg)
  private def bad(msg: String): Nothing = throw new Malformed(msg)

  /** `body` over the JSON object `text`; anything that is not one, or
    * lacks what `body` requires, is a [[CorruptManifestException]]
    * naming `path`. */
  private def parsing[T](path: String, text: String)(body: JsonNode => T): T =
    try {
      val o = mapper.readTree(text)
      if (o == null || !o.isObject) bad("not a JSON object")
      body(o)
    } catch {
      case e: Malformed => throw new CorruptManifestException(path, e.getMessage)
      case e: com.fasterxml.jackson.core.JacksonException =>
        throw new CorruptManifestException(path, e.getOriginalMessage, e)
    }

  private def field(o: JsonNode, k: String): JsonNode =
    Option(o.get(k)).getOrElse(bad(s"""no "$k" field"""))

  private def str(o: JsonNode, k: String): String = {
    val n = field(o, k)
    if (!n.isTextual) bad(s""""$k" is not a string""")
    n.textValue
  }

  private def num(o: JsonNode, k: String): Long = {
    val n = field(o, k)
    if (!n.isIntegralNumber || !n.canConvertToLong)
      bad(s""""$k" is not an integer""")
    n.longValue
  }

  private def int(o: JsonNode, k: String): Int = {
    val n = num(o, k)
    if (!n.isValidInt) bad(s""""$k" is out of range""")
    n.toInt
  }

  private def opt[T](o: JsonNode, k: String)(get: (JsonNode, String) => T): Option[T] =
    if (o.has(k)) Some(get(o, k)) else None

  /** Array `k`'s elements; empty when absent unless `required`. */
  private def arr(o: JsonNode, k: String, required: Boolean = false): Seq[JsonNode] =
    o.get(k) match {
      case null if !required => Seq.empty
      case a: ArrayNode => a.asScala.toSeq
      case _ => field(o, k); bad(s""""$k" is not an array""")
    }

  private def strs(o: JsonNode, k: String, required: Boolean = false): Seq[String] =
    arr(o, k, required).map(n =>
      if (n.isTextual) n.textValue else bad(s""""$k" holds a non-string"""))

  /** Array `k`'s objects as (their string field `key`, `get(object)`). */
  private def keyed[T](o: JsonNode, k: String, key: String)(get: JsonNode => T): Seq[(String, T)] =
    arr(o, k).map(e => str(e, key) -> get(e))
}
