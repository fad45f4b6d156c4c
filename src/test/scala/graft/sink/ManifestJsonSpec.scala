package graft.sink

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import graft.{LogDocs, SparkSpec}
import VersionedTable._

/** The table logs' JSON codec ([[ManifestJson]]): a cold reader (empty
  * manifest cache, as in another JVM) sees exactly what the writer's
  * own JVM sees, including for names that hold JSON's and CSV's special
  * characters; log files written before the codec read back as the
  * manifests they were written from; and a log file that is not a log
  * document raises [[VersionedTable.CorruptManifestException]] naming
  * the file. */
class ManifestJsonSpec extends SparkSpec {
  import spark.implicits._

  /** A name with a comma, a double quote, a backslash, a newline and
    * non-ASCII text. */
  private val Odd = "c,\"\\\n é"

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mj").resolve("t").toString

  private def manifestPath(root: String, v: Int) =
    Paths.get(root, "_log", f"v$v%08d.manifest.json")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Every public read face over every live version. */
  private def faces(root: String): Seq[Any] = {
    val vs = versions(spark, root)
    vs.map { v =>
      (v, filesOf(spark, root, Some(v)), rows(read(spark, root, Some(v))),
        schemaOf(spark, root, Some(v)), constraintsOf(spark, root, Some(v)))
    } ++ Seq(propertiesOf(spark, root), rows(describeHistory(spark, root))) ++
      vs.zip(vs.tail).map { case (a, b) =>
        val (added, removed) = changesBetween(spark, root, a, b)
        (a, b, rows(added), rows(removed))
      }
  }

  /** [[faces]] as the writer's JVM sees them, then after the manifest
    * cache is dropped. */
  private def warmThenCold(root: String): (Seq[Any], Seq[Any]) = {
    val warm = faces(root)
    dropManifestCache()
    (warm, faces(root))
  }

  test("a partition value with a comma reads the same files and rows cold") {
    val root = freshRoot()
    create(spark, root, Seq((1L, "a,b"), (2L, "a,b"), (3L, "x")).toDF("id", "p"),
      partitionBy = Seq("p"))
    append(spark, root, Seq((4L, "a,b")).toDF("id", "p"))
    assert(filesOf(spark, root).exists(_.contains("/p=a,b/")))
    val (warm, cold) = warmThenCold(root)
    assert(cold == warm)
    assert(read(spark, root).filter($"p" === "a,b").count() == 3L)
  }

  test("odd names in columns, checks, defaults, properties, loads and txns " +
    "read the same cold, across deltas and a checkpoint") {
    val root = freshRoot()
    create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "p"))   // v1
    val in = Files.createTempDirectory("graft_mj_in")
    // `loads` records URIs, which percent-encode every odd character
    // but the comma (the fixtures below cover the rest)
    Files.write(in.resolve("l,a.json"), """{"id": 3, "p": "c"}""".getBytes(UTF_8))
    assert(copyInto(spark, root, in.toString, format = "json")._2 == 1) // v2
    addColumn(spark, root, Odd, "INT", Some("7"))                       // v3
    val dflt = "'d,\"\\\\\n é'"
    addColumn(spark, root, "s", "STRING", Some(dflt))                   // v4
    addConstraint(spark, root, "odd_ok",
      s"`$Odd` > 0 OR s = $dflt")                                       // v5
    setTableProperty(spark, root, s"k$Odd", s"v$Odd")                   // v6
    (7 to CheckpointEvery + 2).foreach(i =>
      append(spark, root, Seq((i.toLong, "a")).toDF("id", "p")))
    val last = CheckpointEvery + 2
    assert(LogDocs.isDelta(manifestPath(root, last - 1)))
    assert(LogDocs.read(manifestPath(root, 3)).has("nocol"))
    val (warm, cold) = warmThenCold(root)
    assert(cold == warm)
    assert(propertiesOf(spark, root)(s"k$Odd") == s"v$Odd")
    assert(constraintsOf(spark, root).map(_.expr) == Seq(s"`$Odd` > 0 OR s = $dflt"))
    assert(read(spark, root).filter($"id" === 1L).select(Odd, "s").head.toSeq ==
      Seq(7, "d,\"\\\n é"))
    // the COPY INTO ledger, read cold, still names the loaded file
    dropManifestCache()
    assert(copyInto(spark, root, in.toString, format = "json") == ((last, 0)))
    // a checkpoint replaces the replay of a delta whose parent expired
    expire(spark, root, keepLast = 2)
    assert(Files.exists(Paths.get(root, "_log", f"v${last - 1}%08d.checkpoint.json")))
    val (warmCk, coldCk) = warmThenCold(root)
    assert(coldCk == warmCk)
    // a txn catalog pinning the table under the odd name
    val cat = Files.createTempDirectory("graft_mj_cat").toString
    TxnCatalog.commit(spark, cat, Map(s"t$Odd" -> (root, last)))
    assert(TxnCatalog.snapshot(spark, cat).tables == Map(s"t$Odd" -> (root, last)))
    assert(rows(TxnCatalog.read(spark, cat, s"t$Odd")) == rows(read(spark, root)))
  }

  // ---- log files as the writer before this codec wrote them ---------------
  // (its manifests put each top-level field on its own line; its txn
  // files left control characters in names unescaped)

  private val F1 = "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet"
  private val F2 = "data/p=x/c1-part-00001-0001.c000.zstd.parquet"
  private val F3 = "data/p=x/c2-part-00000-0002.c000.zstd.parquet"

  /** The manifests the fixture texts were written from. */
  private val M1 = Manifest(1, s"`id` BIGINT NOT NULL,`p` STRING,`$Odd` INT",
    Seq(F1, F2), txn = Some(42L),
    stats = Map(
      F1 -> Seq(ColStat("id", "long", "1", "9", 0L, "", live = true, sum = Some(45L)),
        ColStat("ts", "long", "1700000000000000", "1700000060000000", 2L, "ts-micros")),
      F2 -> Seq(ColStat("id", "long", "10", "12"), ColStat(Odd, "string", "a\"b", "z\\y"))),
    blooms = Map(F1 -> Seq(FileBloom("id", 64, 3, "AAECAwQFBgc="))),
    partitionCols = Seq("p", "bucket(4, id)"),
    hlls = Map(F2 -> Seq(FileHll("id", 16, "AQIDBAUGBwgJCgsMDQ4PEA=="))),
    dvs = Map(F1 -> FileDv("dv/v1-0001.dv", 2L)),
    rows = Map(F1 -> 9L, F2 -> 3L), op = "merge",
    colMap = Seq(FieldMap(1, "id", "id"), FieldMap(2, "p", "p"),
      FieldMap(3, Odd, "col-3", Seq("old", "older,name"))),
    maxCid = 3,
    checks = Seq(TableCheck("pos", "id > 0"), TableCheck("q" + Odd, s"`$Odd` <> 'x,\"y'")),
    defaults = Map(Odd -> "'d,\"\\\n é'"), noCol = Map(F1 -> Seq(Odd)),
    gens = Map("g" -> "id * 2"), ids = Map("id" -> 13L),
    props = Map("graft.rowTracking" -> "true", ("k" + Odd) -> ("v" + Odd)),
    ts = 1760000000000L, loads = Seq("file:/in/a,b.csv", s"file:/in/$Odd.csv"),
    changes = Seq("data/p=x/c1-changes-pre-00000.parquet"))
  private val M2 = M1.copy(version = 2, files = Seq(F1, F3), txn = None,
    stats = Map(F1 -> Seq(ColStat("id", "long", "1", "8", 0L, "", live = true, sum = Some(36L))),
      F3 -> Seq(ColStat("id", "long", "20", "21", 0L))),
    hlls = Map.empty, dvs = Map(F1 -> FileDv("dv/v2-0001.dv", 3L)),
    rows = Map(F1 -> 9L, F3 -> 2L), op = "delete-vectored",
    ts = 1760000000500L, loads = Seq.empty,
    changes = Seq("data/p=x/c2-changes-post-00000.parquet"))
  private val Pins = Map("ndvi_full" -> ("tables/ndvi_full", 3),
    s"t$Odd" -> ("tables/t,\"q", 7))

  private val FullV1 =
    """{"version": 1,
      | "op": "merge",
      | "txn": 42,
      | "cts": 1760000000000,
      | "loads": ["file:/in/a,b.csv", "file:/in/c,\"\\\n é.csv"],
      | "changes": ["data/p=x/c1-changes-pre-00000.parquet"],
      | "partitionCols": ["p", "bucket(4, id)"],
      | "maxcid": 3, "colmap": [{"cid": 1, "cname": "id", "cphys": "id"}, {"cid": 2, "cname": "p", "cphys": "p"}, {"cid": 3, "cname": "c,\"\\\n é", "cphys": "col-3", "cprior": ["old", "older,name"]}],
      | "checks": [{"kname": "pos", "kexpr": "id > 0"}, {"kname": "qc,\"\\\n é", "kexpr": "`c,\"\\\n é` <> 'x,\"y'"}],
      | "defaults": [{"dname": "c,\"\\\n é", "dexpr": "'d,\"\\\n é'"}],
      | "gens": [{"gname": "g", "gexpr": "id * 2"}],
      | "ids": [{"iname": "id", "ihw": 13}],
      | "props": [{"pkey": "graft.rowTracking", "pval": "true"}, {"pkey": "kc,\"\\\n é", "pval": "vc,\"\\\n é"}],
      | "schema": "`id` BIGINT NOT NULL,`p` STRING,`c,\"\\\n é` INT",
      | "files": ["data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "data/p=x/c1-part-00001-0001.c000.zstd.parquet"],
      | "stats": [{"file": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "col": "id", "t": "long", "lo": "1", "hi": "9", "nn": 0, "lv": true, "sm": 45}, {"file": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "col": "ts", "t": "long", "lo": "1700000000000000", "hi": "1700000060000000", "nn": 2, "u": "ts-micros"}, {"file": "data/p=x/c1-part-00001-0001.c000.zstd.parquet", "col": "id", "t": "long", "lo": "10", "hi": "12"}, {"file": "data/p=x/c1-part-00001-0001.c000.zstd.parquet", "col": "c,\"\\\n é", "t": "string", "lo": "a\"b", "hi": "z\\y"}],
      | "blooms": [{"bfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "bcol": "id", "m": 64, "k": 3, "bits": "AAECAwQFBgc="}],
      | "hlls": [{"hfile": "data/p=x/c1-part-00001-0001.c000.zstd.parquet", "hcol": "id", "hm": 16, "regs": "AQIDBAUGBwgJCgsMDQ4PEA=="}],
      | "dvs": [{"vfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "dv": "dv/v1-0001.dv", "card": 2}],
      | "nrows": [{"rfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "n": 9}, {"rfile": "data/p=x/c1-part-00001-0001.c000.zstd.parquet", "n": 3}],
      | "nocol": [{"ncfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "nccols": ["c,\"\\\n é"]}]}""".stripMargin
  private val DeltaV2 =
    """{"version": 2,
      | "delta": true,
      | "op": "delete-vectored",
      | "cts": 1760000000500,
      | "changes": ["data/p=x/c2-changes-post-00000.parquet"],
      | "partitionCols": ["p", "bucket(4, id)"],
      | "maxcid": 3, "colmap": [{"cid": 1, "cname": "id", "cphys": "id"}, {"cid": 2, "cname": "p", "cphys": "p"}, {"cid": 3, "cname": "c,\"\\\n é", "cphys": "col-3", "cprior": ["old", "older,name"]}],
      | "checks": [{"kname": "pos", "kexpr": "id > 0"}, {"kname": "qc,\"\\\n é", "kexpr": "`c,\"\\\n é` <> 'x,\"y'"}],
      | "defaults": [{"dname": "c,\"\\\n é", "dexpr": "'d,\"\\\n é'"}],
      | "gens": [{"gname": "g", "gexpr": "id * 2"}],
      | "ids": [{"iname": "id", "ihw": 13}],
      | "props": [{"pkey": "graft.rowTracking", "pval": "true"}, {"pkey": "kc,\"\\\n é", "pval": "vc,\"\\\n é"}],
      | "schema": "`id` BIGINT NOT NULL,`p` STRING,`c,\"\\\n é` INT",
      | "removes": ["data/p=x/c1-part-00001-0001.c000.zstd.parquet"],
      | "adds": ["data/p=x/c2-part-00000-0002.c000.zstd.parquet"],
      | "touch": ["data/p=a,b/c1-part-00000-0001.c000.zstd.parquet"],
      | "stats": [{"file": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "col": "id", "t": "long", "lo": "1", "hi": "8", "nn": 0, "lv": true, "sm": 36}, {"file": "data/p=x/c2-part-00000-0002.c000.zstd.parquet", "col": "id", "t": "long", "lo": "20", "hi": "21", "nn": 0}],
      | "blooms": [{"bfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "bcol": "id", "m": 64, "k": 3, "bits": "AAECAwQFBgc="}],
      | "dvs": [{"vfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "dv": "dv/v2-0001.dv", "card": 3}],
      | "nrows": [{"rfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "n": 9}, {"rfile": "data/p=x/c2-part-00000-0002.c000.zstd.parquet", "n": 2}],
      | "nocol": [{"ncfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "nccols": ["c,\"\\\n é"]}]}""".stripMargin
  private val CheckpointV2 =
    """{"version": 2,
      | "op": "delete-vectored",
      | "cts": 1760000000500,
      | "changes": ["data/p=x/c2-changes-post-00000.parquet"],
      | "partitionCols": ["p", "bucket(4, id)"],
      | "maxcid": 3, "colmap": [{"cid": 1, "cname": "id", "cphys": "id"}, {"cid": 2, "cname": "p", "cphys": "p"}, {"cid": 3, "cname": "c,\"\\\n é", "cphys": "col-3", "cprior": ["old", "older,name"]}],
      | "checks": [{"kname": "pos", "kexpr": "id > 0"}, {"kname": "qc,\"\\\n é", "kexpr": "`c,\"\\\n é` <> 'x,\"y'"}],
      | "defaults": [{"dname": "c,\"\\\n é", "dexpr": "'d,\"\\\n é'"}],
      | "gens": [{"gname": "g", "gexpr": "id * 2"}],
      | "ids": [{"iname": "id", "ihw": 13}],
      | "props": [{"pkey": "graft.rowTracking", "pval": "true"}, {"pkey": "kc,\"\\\n é", "pval": "vc,\"\\\n é"}],
      | "schema": "`id` BIGINT NOT NULL,`p` STRING,`c,\"\\\n é` INT",
      | "files": ["data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "data/p=x/c2-part-00000-0002.c000.zstd.parquet"],
      | "stats": [{"file": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "col": "id", "t": "long", "lo": "1", "hi": "8", "nn": 0, "lv": true, "sm": 36}, {"file": "data/p=x/c2-part-00000-0002.c000.zstd.parquet", "col": "id", "t": "long", "lo": "20", "hi": "21", "nn": 0}],
      | "blooms": [{"bfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "bcol": "id", "m": 64, "k": 3, "bits": "AAECAwQFBgc="}],
      | "dvs": [{"vfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "dv": "dv/v2-0001.dv", "card": 3}],
      | "nrows": [{"rfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "n": 9}, {"rfile": "data/p=x/c2-part-00000-0002.c000.zstd.parquet", "n": 2}],
      | "nocol": [{"ncfile": "data/p=a,b/c1-part-00000-0001.c000.zstd.parquet", "nccols": ["c,\"\\\n é"]}]}""".stripMargin
  private val TxnT1 =
    """{"txn": 1, "tables": {"ndvi_full": {"root": "tables/ndvi_full", "version": 3}, "tc,\"\\""" +
      "\n" + """ é": {"root": "tables/t,\"q", "version": 7}}}"""

  /** `text` re-written compactly, key order kept. */
  private def compact(text: String): String = {
    val lenient = com.fasterxml.jackson.databind.json.JsonMapper.builder()
      .enable(com.fasterxml.jackson.core.json.JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS)
      .build()
    lenient.writeValueAsString(lenient.readTree(text))
  }

  test("manifests, a checkpoint and a txn file from before the codec " +
    "decode to the manifests they were written from") {
    val (full, noEdits) = ManifestJson.decode("v1", 1, FullV1)
    assert(noEdits.isEmpty && full == M1)
    val (d, edits) = ManifestJson.decode("v2", 2, DeltaV2)
    assert(edits.map(_.replay(d, M1)).contains(M2))
    assert(ManifestJson.decode("ck2", 2, CheckpointV2) == ((M2, None)))
    assert(ManifestJson.txnTables("t1", TxnT1) == Pins)
    // the writer emits the same documents; only whitespace changed
    assert(new String(ManifestJson.full(M1), UTF_8) == compact(FullV1))
    assert(ManifestJson.delta(M2, M1).map(new String(_, UTF_8)).contains(compact(DeltaV2)))
    assert(new String(ManifestJson.full(M2), UTF_8) == compact(CheckpointV2))
    assert(new String(ManifestJson.txn(1, Pins), UTF_8) == compact(TxnT1))
  }

  test("a table whose log was written before the codec reads through " +
    "every face, from its delta and from its checkpoint") {
    val root = freshRoot()
    Files.createDirectories(Paths.get(root, "_log"))
    Files.write(manifestPath(root, 1), FullV1.getBytes(UTF_8))
    Files.write(manifestPath(root, 2), DeltaV2.getBytes(UTF_8))
    def check(): Unit = {
      assert(filesOf(spark, root) == M2.files)
      assert(schemaOf(spark, root).fieldNames.toSeq == Seq("id", "p", Odd))
      assert(constraintsOf(spark, root) == M2.checks)
      assert(propertiesOf(spark, root) == M2.props)
      assert(fileColumnStats(spark, root).map(s => (s._1, s._2, s._4, s._5, s._7, s._8)) ==
        Seq((F1, "id", "1", "8", true, Some(36L)), (F3, "id", "20", "21", false, None)))
      assert(commitTimestamps(spark, root).last == (2 -> 1760000000500L))
    }
    dropManifestCache()
    check()
    assert(filesOf(spark, root, Some(1)) == M1.files)
    val h = describeHistory(spark, root).orderBy("version")
      .select("op", "txn").collect().map(r => (r.getString(0), Option(r.get(1))))
    assert(h.toSeq == Seq(("merge", Some(42L)), ("delete-vectored", None)))
    Files.write(Paths.get(root, "_log", "v00000002.checkpoint.json"),
      CheckpointV2.getBytes(UTF_8))
    Files.delete(manifestPath(root, 1))
    dropManifestCache()
    check()
  }

  test("a truncated, field-less or non-object log file raises the typed " +
    "error naming its path") {
    val root = freshRoot()
    create(spark, root, Seq((1L, "a"), (2L, "b")).toDF("id", "p").repartition(2))
    append(spark, root, Seq((3L, "c")).toDF("id", "p"))
    val v1 = manifestPath(root, 1)
    val text = new String(Files.readAllBytes(v1), UTF_8)
    def corrupt(p: java.nio.file.Path, body: String): Unit = {
      Files.write(p, body.getBytes(UTF_8))
      dropManifestCache()
      Seq[() => Any](() => filesOf(spark, root, Some(1)),
          () => read(spark, root, Some(1)).count(), () => read(spark, root).count())
        .foreach { face =>
          val e = intercept[CorruptManifestException](face())
          assert(e.path.endsWith(p.toString) && e.getMessage.contains(p.toString))
        }
    }
    corrupt(v1, text.substring(0, text.indexOf("\"files\"") + 20))
    corrupt(v1, text.substring(0, text.indexOf("\"schema\"")))
    corrupt(v1, "[1, 2, 3]")
    corrupt(v1, "")
    Files.write(v1, text.getBytes(UTF_8))
    LogDocs.edit(v1)(_.remove("schema"))
    corrupt(v1, new String(Files.readAllBytes(v1), UTF_8))
    Files.write(v1, text.getBytes(UTF_8))
    val v2 = manifestPath(root, 2)
    LogDocs.edit(v2)(_.remove("removes"))
    dropManifestCache()
    assert(intercept[CorruptManifestException](read(spark, root)).path
      .endsWith(v2.toString))
    val cat = Files.createTempDirectory("graft_mj_cat").toString
    TxnCatalog.commit(spark, cat, Map("t" -> (root, 1)))
    val t1 = Paths.get(cat, "txn", "t000000001.json")
    Files.write(t1, "42".getBytes(UTF_8))
    assert(intercept[CorruptManifestException](TxnCatalog.snapshot(spark, cat)).path
      .endsWith(t1.toString))
  }
}
