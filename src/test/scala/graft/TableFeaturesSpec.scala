package graft

import org.apache.spark.sql.functions._

/** PROTOCOL / TABLE FEATURES (Delta's table-features action): the
  * first commit using a capability an oblivious reader would silently
  * corrupt on records a required feature in the log; snapshots fold
  * the set; and any snapshot demanding a feature outside
  * [[graft.sources.VersionedTable.KnownFeatures]] is refused LOUDLY on
  * read and on write — an unknown future manifest requirement can
  * never be silently ignored. Features are monotonic; versions before
  * the announcement keep reading.
  */
class TableFeaturesSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(): String =
    java.nio.file.Files.createTempDirectory("vt_feat").toString

  private def seeded(): (String, graft.sources.VersionedTable) = {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append(Seq((1, "a"), (2, "b")).toDF("k", "s"))
    (dir, vt)
  }

  test("gated capabilities announce their feature; describeDetail surfaces the set") {
    val (dir, vt) = seeded()
    assert(vt.tableFeatures() === Set.empty)
    vt.widenColumn("k", org.apache.spark.sql.types.LongType)
    assert(vt.tableFeatures() === Set("type-widening"))
    vt.renameColumn("s", "label")
    assert(vt.tableFeatures() === Set("type-widening", "column-mapping"))
    vt.delete(col("k") === 1L, useDeletionVectors = true)
    assert(vt.tableFeatures() ===
      Set("type-widening", "column-mapping", "bitmap-dv"))
    // the feature set is visible through DESCRIBE DETAIL (SQL + API)
    assert(vt.detail().head.getString(6) ===
      "bitmap-dv,column-mapping,type-widening")
    assert(spark.sql(s"DESCRIBE DETAIL '$dir'").head.getString(6) ===
      "bitmap-dv,column-mapping,type-widening")
    // features are versioned: the pre-widen snapshot demands none
    assert(vt.tableFeatures(Some(0)) === Set.empty)
  }

  test("merge-borne widening announces type-widening on the merge commit itself") {
    val (_, vt) = seeded()
    // source spells k wider (long) than the table (int): evolution
    // widens on the merge commit — the feature must ride that commit
    vt.mergeClauses(Seq((2L, "bb")).toDF("k", "s"), Seq("k"),
      matched = Seq(graft.sources.MergeClause(None,
        graft.sources.MergeAction.Update(None))),
      notMatched = Seq(graft.sources.MergeClause(None,
        graft.sources.MergeAction.Insert(None))),
      evolveSchema = true)
    assert(vt.tableFeatures() === Set("type-widening"))
    assert(vt.history().filter(col("op") === "alter").count() === 0)
  }

  test("an unknown required feature refuses reads AND writes loudly; prior versions keep reading") {
    val (dir, vt) = seeded()
    vt.append(Seq((3, "c")).toDF("k", "s")) // v1
    // forge a future writer's commit demanding a feature this build
    // does not implement
    val log = new java.io.File(dir, "_graft_log")
    val forged = new java.io.File(log, "00000002.json")
    java.nio.file.Files.write(forged.toPath,
      """{"version":2,"op":"properties","num_rows":0,"ts_ms":1,
        |"added":[],"removed":[],
        |"features_add":["time-crystal-clustering"]}""".stripMargin
        .getBytes("UTF-8"))
    val fresh = new graft.sources.VersionedTable(spark, dir)
    val r = intercept[IllegalStateException] { fresh.read().collect() }
    assert(r.getMessage.contains("time-crystal-clustering"))
    assert(r.getMessage.contains("does not implement"))
    val w = intercept[IllegalStateException] {
      fresh.append(Seq((4, "d")).toDF("k", "s"))
    }
    assert(w.getMessage.contains("time-crystal-clustering"))
    // versions BEFORE the announcement still read exactly
    assert(fresh.readAt(1).count() === 3)
    assert(fresh.readAt(0).count() === 2)
  }

  /** A seeded table (v0..v2) whose manifest 3 is `body`. */
  private def forgedAt3(body: String): graft.sources.VersionedTable = {
    val (dir, vt) = seeded()
    vt.append(Seq((3, "c")).toDF("k", "s")) // v1
    vt.append(Seq((4, "d")).toDF("k", "s")) // v2
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(dir, "_graft_log"), "00000003.json").toPath,
      body.getBytes("UTF-8"))
    new graft.sources.VersionedTable(spark, dir)
  }

  test("an empty-object manifest is refused as undecodable, naming file and version") {
    val fresh = forgedAt3("{}")
    val e = intercept[IllegalStateException] { fresh.read().collect() }
    assert(e.getMessage.contains("00000003.json"))
    assert(e.getMessage.contains("version 3"))
    assert(fresh.readAt(2).count() === 4)
  }

  test("a torn manifest is refused as undecodable, naming file and version") {
    val fresh = forgedAt3("{gar")
    val e = intercept[IllegalStateException] { fresh.read().collect() }
    assert(e.getMessage.contains("00000003.json"))
    assert(e.getMessage.contains("version 3"))
    assert(fresh.readAt(2).count() === 4)
  }

  test("features survive checkpoints (a folded log keeps demanding them)") {
    val dir = tmpVt()
    // checkpointInterval=2 forces a checkpoint soon after the feature
    val vt = new graft.sources.VersionedTable(spark, dir,
      checkpointInterval = 2)
    vt.append(Seq((1, "a")).toDF("k", "s"))            // v0
    vt.widenColumn("k", org.apache.spark.sql.types.LongType) // v1
    vt.append(Seq((2L, "b")).toDF("k", "s"))           // v2 -> checkpoint
    vt.append(Seq((3L, "c")).toDF("k", "s"))           // v3
    assert(new java.io.File(new java.io.File(dir, "_graft_log"),
      "00000002.checkpoint.json").exists())
    val fresh = new graft.sources.VersionedTable(spark, dir,
      checkpointInterval = 2)
    assert(fresh.tableFeatures() === Set("type-widening"))
    assert(fresh.read().count() === 3)
  }
}
