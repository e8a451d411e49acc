package graft

import scala.collection.immutable.SortedSet

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.types._

import graft.sources.VersionedTable
import graft.sources.VersionedTable.{ColStat, Commit, Snapshot}

/** The transaction-log codec against GOLDEN files:
  * `src/test/resources/graftlog/` holds a log (manifests 0..10 and the
  * checkpoint at 9) written by the hand-rolled JSON writer the codec
  * replaced. Every file decodes to the value below and re-encodes to
  * the same JSON tree, so tables already on disk keep reading and new
  * commits keep their format. Counts above `Int.MaxValue` pin that
  * erased `Long` contents decode as `Long`, not `Integer`.
  */
class TransactionLogCodecSpec extends SparkSuite {

  private val tree = new ObjectMapper()
  private def golden(name: String): Array[Byte] =
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource(s"/graftlog/$name").toURI))
  private def treeOf(bytes: Array[Byte]): JsonNode = tree.readTree(bytes)
  private def in(bytes: Array[Byte]) = new java.io.ByteArrayInputStream(bytes)

  private def ts(v: Int) = 1700000000000L + v * 1000L
  private val s0 = StructType(Seq(StructField("id", LongType),
    StructField("price", DoubleType), StructField("name", StringType),
    StructField("note", StringType), StructField("day", StringType)))
  private val s1 = StructType(s0.fields :+ StructField("score", LongType))
  private val s2 = StructType(s1.fields.map(f => if (f.name == "name")
    StructField("title", StringType, true,
      new MetadataBuilder().putString("graftPhysical", "name").build()) else f))
  private val d1 = "v00001-0a1b2c3d"
  private val d7 = "v00007-7e7e7e7e"
  private val dv9 = "dv-v00009-9d9d9d9d"
  private val stats1 = Map(
    "id" -> ColStat("l", -5L, 9000000000L, 0L),
    "price" -> ColStat("d", Double.NegativeInfinity, 12.25, 1L),
    "name" -> ColStat("s", "a\"b", "zé", 2L),
    "note" -> ColStat("s", null, null, 3000000000L),
    "day" -> ColStat("s", "2024-01-01", "2024-01-01", 0L))
  private val stats7 = Map(
    "id" -> ColStat("l", 1L, 4L, 0L),
    "price" -> ColStat("d", 0.5, 2.0, 0L),
    "name" -> ColStat("s", "p", "q", 0L),
    "note" -> ColStat("s", "x", "y", 2L),
    "day" -> ColStat("s", "2024-01-02", "2024-01-02", 0L),
    "score" -> ColStat("l", 10L, 40L, 0L))

  private val commits: Seq[Commit] = Seq(
    Commit(0, "create", Nil, Nil, 0L, ts(0), schemaJson = Some(s0.json),
      propsSet = Map("graft.owner" -> "etl",
        "delta.enableChangeDataFeed" -> "true"),
      partitionCols = Seq("day")),
    Commit(1, "append", Seq(d1), Nil, 3000000000L, ts(1),
      txnApp = Some("ingest"), txnBatch = Some(5000000000L),
      addedStats = Map(d1 -> stats1), addedRows = Map(d1 -> 3000000000L),
      addedBytes = Map(d1 -> 123456789012L), schemaJson = Some(s0.json)),
    Commit(2, "constraint", Nil, Nil, 0L, ts(2),
      constraintAddName = Some("id_nonneg"), constraintAddExpr = Some("id >= 0")),
    Commit(3, "constraint", Nil, Nil, 0L, ts(3),
      constraintAddName = Some("price_finite"),
      constraintAddExpr = Some("price < 1e300")),
    Commit(4, "properties", Nil, Nil, 0L, ts(4),
      propsSet = Map("graft.retention" -> "7"), propsUnset = Seq("graft.owner")),
    Commit(5, "delete-dv", Nil, Nil, 0L, ts(5), dvAdd = Some("dv-v00005-5a5a5a5a"),
      dvDirs = Seq(d1), dvDirRows = Map(d1 -> 2500000000L),
      featuresAdd = Seq("bitmap-dv")),
    Commit(6, "constraint", Nil, Nil, 0L, ts(6),
      constraintDrop = Some("price_finite")),
    Commit(7, "merge", Seq(d7), Nil, 4L, ts(7),
      txnApp = Some("ingest"), txnBatch = Some(5000000001L),
      addedStats = Map(d7 -> stats7), cdf = Some("cdc-v00007-7c7c7c7c"),
      addedRows = Map(d7 -> 4L), addedBytes = Map(d7 -> 2048L),
      schemaJson = Some(s1.json)),
    Commit(8, "alter", Nil, Nil, 0L, ts(8), schemaJson = Some(s2.json),
      featuresAdd = Seq("column-mapping")),
    Commit(9, "coalesce-dv", Nil, Nil, 0L, ts(9),
      dvReset = Some(Map(d1 -> Seq(dv9))),
      dvResetRows = Some(Map(d1 -> 2500000000L)), featuresAdd = Seq("bitmap-dv")),
    Commit(10, "restore", Nil, Seq(d7), 0L, ts(10), schemaJson = Some(s0.json),
      dvReset = Some(Map.empty), dvResetRows = Some(Map.empty)))

  private val checkpoint9 = Snapshot(
    active = Seq(d1, d7),
    stats = Map(d1 -> stats1, d7 -> stats7),
    txns = Map("ingest" -> 5000000001L),
    constraints = Map("id_nonneg" -> "id >= 0"),
    dirRows = Map(d1 -> 3000000000L, d7 -> 4L),
    dirBytes = Map(d1 -> 123456789012L, d7 -> 2048L),
    schemaJson = Some(s2.json),
    props = Map("delta.enableChangeDataFeed" -> "true", "graft.retention" -> "7"),
    partitionCols = Seq("day"),
    dvs = Map(d1 -> Seq(dv9)),
    dvRowsByDir = Map(d1 -> 2500000000L),
    features = SortedSet("bitmap-dv", "column-mapping"))

  /** Runtime classes of the values, unboxed by nothing in between —
    * `==` on boxed numbers is cooperative (an Integer equals a Long),
    * so decoded equality alone would miss an Integer.
    */
  private def classes(xs: Iterable[Any]): Set[Class[_]] =
    xs.filter(_ != null).map(_.getClass).toSet

  private def statClasses(stats: Map[String, Map[String, ColStat]], kind: String) =
    classes(stats.values.flatMap(_.values).filter(_.kind == kind)
      .flatMap(st => Seq(st.min, st.max)))

  test("every golden manifest decodes to its commit and re-encodes to the same tree") {
    commits.foreach { expected =>
      val bytes = golden(f"${expected.version}%08d.json")
      val c = VersionedTable.decodeCommit(in(bytes))
      assert(c === expected, s"manifest ${expected.version}")
      assert(treeOf(VersionedTable.encodeCommit(c)) === treeOf(bytes),
        s"manifest ${expected.version}")
      assert(classes(c.addedRows.values ++ c.addedBytes.values ++
        c.dvDirRows.values ++ c.dvResetRows.toSeq.flatMap(_.values) ++
        c.txnBatch).subsetOf(Set(classOf[java.lang.Long])))
      assert(statClasses(c.addedStats, "l").subsetOf(Set(classOf[java.lang.Long])))
      assert(statClasses(c.addedStats, "d").subsetOf(Set(classOf[java.lang.Double])))
    }
    // the empty DV reset (restore to a DV-free version) stays on disk
    assert(treeOf(golden("00000010.json")).has("dv_reset_rows"))
  }

  test("the golden checkpoint decodes to its snapshot and re-encodes to the same tree") {
    val bytes = golden("00000009.checkpoint.json")
    val s = VersionedTable.decodeCheckpoint(in(bytes))
    assert(s === checkpoint9)
    assert(treeOf(VersionedTable.encodeCheckpoint(9, s)) === treeOf(bytes))
    assert(classes(s.txns.values ++ s.dirRows.values ++ s.dirBytes.values ++
      s.dvRowsByDir.values) === Set(classOf[java.lang.Long]))
    assert(statClasses(s.stats, "l") === Set(classOf[java.lang.Long]))
    assert(statClasses(s.stats, "d") === Set(classOf[java.lang.Double]))
  }

  test("empty strings survive the codec: a \"\" stat bound and a '' property") {
    val stats = Map("d0" -> Map("s" -> ColStat("s", "", "b", 0L)))
    val c = Commit(1, "append", Seq("d0"), Nil, 2L, ts(1), addedStats = stats,
      propsSet = Map("graft.note" -> ""))
    val bytes = VersionedTable.encodeCommit(c)
    assert(treeOf(bytes).at("/added_stats/d0/s/lo").isTextual)
    assert(treeOf(bytes).at("/props_set/graft.note").isTextual)
    assert(VersionedTable.decodeCommit(in(bytes)) === c)
    val s = Snapshot(active = Seq("d0"), stats = stats,
      props = Map("graft.note" -> ""), schemaJson = Some(s0.json))
    assert(VersionedTable.decodeCheckpoint(in(
      VersionedTable.encodeCheckpoint(1, s))) === s)
  }

  test("a directory whose string min is \"\" is kept by range, IS NOT NULL and IN pruning") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vt_empty_min").toString
    val vt = new VersionedTable(spark, dir, checkpointInterval = 2)
    vt.append(Seq((1L, ""), (2L, "b")).toDF("k", "s"))
    vt.setProperties(Map("graft.note" -> ""))
    // a fresh handle folds the log (and the version-2 checkpoint) from disk
    val back = new VersionedTable(spark, dir)
    assert(back.pruneActiveAll(Nil, notNullCols = Seq("s"))._1.size === 1)
    assert(back.pruneActive("s", None, Some("a"))._1.size === 1)
    assert(back.pruneActiveIn("s", Seq(""))._1.size === 1)
    assert(back.readPruned("s", None, Some("a")).filter($"s" <= "a")
      .as[(Long, String)].collect().toSeq === Seq((1L, "")))
    assert(back.tableProperties().get("graft.note") === Some(""))
  }

  test("a pruned read of a directory written before an evolution has readAt's schema") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("vt_pruned_evolved").toString
    val vt = new VersionedTable(spark, dir)
    vt.append(Seq((1L, 1)).toDF("k", "n"))
    vt.addColumns(StructType(Seq(StructField("extra", StringType))))
    vt.append(Seq((100L, 2, "x")).toDF("k", "n", "extra"))
    val pruned = vt.readPruned("k", Some(0L), Some(10L))
    assert(vt.pruneActive("k", Some(0L), Some(10L))._1.size === 1)
    assert(pruned.schema === vt.read().schema)
    assert(pruned.collect().toSeq.map(_.toSeq) === Seq(Seq(1L, 1, null)))
  }

  private def tableFrom(files: Seq[String]): (String, VersionedTable) = {
    val dir = java.nio.file.Files.createTempDirectory("vt_golden").toString
    val log = new java.io.File(dir, "_graft_log")
    log.mkdirs()
    files.foreach(f => java.nio.file.Files.write(
      new java.io.File(log, f).toPath, golden(f)))
    (dir, new VersionedTable(spark, dir, checkpointInterval = 9))
  }

  test("the golden log folds to the golden checkpoint and reads as a table") {
    val manifests = commits.map(c => f"${c.version}%08d.json")
    // without the checkpoint: fold 0..9, then let vacuum re-checkpoint 9
    val (dir, vt) = tableFrom(manifests.take(10))
    assert(vt.latestVersion === 9)
    assert(vt.dvsAt(9) === Map(d1 -> Seq(dv9)))
    assert(vt.tableFeatures(Some(9)) === Set("bitmap-dv", "column-mapping"))
    assert(vt.tableSchema(Some(9)) === s2)
    vt.vacuum(keepLast = 1)
    val written = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      dir, "_graft_log", "00000009.checkpoint.json"))
    assert(treeOf(written) === treeOf(golden("00000009.checkpoint.json")))
    // with the checkpoint: version 10 resolves from it plus one delta
    val (_, full) = tableFrom(manifests :+ "00000009.checkpoint.json")
    assert(full.history().count() === 11)
    assert(full.activeDirs(Some(10)) === Seq(d1))
    assert(full.dvsAt(10) === Map.empty)
    assert(full.tableSchema(Some(10)) === s0)
  }

  private def forged(manifest0: String): (String, VersionedTable) = {
    val dir = java.nio.file.Files.createTempDirectory("vt_forged").toString
    val log = new java.io.File(dir, "_graft_log")
    log.mkdirs()
    java.nio.file.Files.write(new java.io.File(log, "00000000.json").toPath,
      manifest0.getBytes("UTF-8"))
    (dir, new VersionedTable(spark, dir))
  }

  test("a log with data directories but no schema is refused on read and write") {
    val (dir, vt) = forged(
      """{"version":0,"op":"append","num_rows":1,"ts_ms":1,
        |"added":["v00000-deadbeef"],"removed":[]}""".stripMargin)
    val r = intercept[IllegalStateException] { vt.read() }
    assert(r.getMessage.contains(dir) && r.getMessage.contains("version 0"))
    assert(r.getMessage.contains("no schema"))
    import spark.implicits._
    val w = intercept[IllegalStateException] { vt.append(Seq(1L).toDF("k")) }
    assert(w.getMessage.contains("no schema"))
  }

  test("a stats entry without a null count is refused, naming the file") {
    val (_, vt) = forged(
      s"""{"version":0,"op":"append","num_rows":1,"ts_ms":1,
         |"added":["v00000-deadbeef"],"removed":[],
         |"schema":${tree.writeValueAsString(StructType(Seq(
           StructField("k", LongType))).json)},
         |"added_stats":{"v00000-deadbeef":{"k":{"k":"l","lo":1,"hi":1}}}}"""
        .stripMargin)
    val e = intercept[IllegalStateException] { vt.read() }
    assert(e.getMessage.contains("00000000.json"))
    assert(e.getMessage.contains("version 0"))
    assert(e.getMessage.contains("'n'"))
  }
}
