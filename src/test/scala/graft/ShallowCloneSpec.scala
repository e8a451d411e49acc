package graft

import org.apache.spark.sql.functions._

/** SHALLOW CLONE — a metadata-only table fork: the clone's v0 manifest
  * references the SOURCE's data directories by absolute path (zero
  * data copied), divergence rewrites locally, the clone's own vacuum
  * can never reclaim source data, and the documented source-vacuum
  * hazard fails loudly. The clone demands the `absolute-paths` table
  * feature, so an older reader refuses it instead of mis-resolving
  * foreign names.
  */
class ShallowCloneSpec extends SparkSuite {
  import spark.implicits._

  private def tmpVt(prefix: String = "vt_clone"): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def dataDirs(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d{5}-.*"))
      .map(_.getName)

  private def dataFileState(dir: String): Set[(String, Long, Long)] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.matches("v\\d{5}-.*"))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getParentFile.getName + "/" + f.getName,
        f.lastModified(), f.length())).toSet

  private def seeded(): (String, graft.sources.VersionedTable) = {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 60L).map(k => (k, s"r$k")).toDF("k", "s"))
    vt.append((60L until 100L).map(k => (k, s"r$k")).toDF("k", "s"))
    (dir, vt)
  }

  test("clone equals source, copies zero data, and pins the absolute-paths feature") {
    val (src, vt) = seeded()
    vt.setProperties(Map("team" -> "pipeline"))
    vt.addConstraint("k_nonneg", "k >= 0")
    val dst = tmpVt("vt_clone_dst")
    new java.io.File(dst).delete() // shallowClone wants a fresh log
    val before = dataFileState(src)
    val v = vt.shallowClone(dst)
    assert(v === 0)
    val clone = new graft.sources.VersionedTable(spark, dst)
    // byte-for-byte metadata only: no data directory under the clone
    assert(dataDirs(dst).isEmpty)
    assert(dataFileState(src) === before) // source files untouched
    // same rows, same schema, stats/rows recorded (fastCount works)
    assert(clone.read().orderBy("k").collect().map(_.getLong(0)).toSeq
      === (0L until 100L))
    assert(clone.fastCount() === Some(100L))
    assert(clone.tableSchema().fieldNames.toSeq === Seq("k", "s"))
    // metadata rode along: props, constraints, and the feature gate
    assert(clone.tableProperties().get("team") === Some("pipeline"))
    assert(clone.currentConstraints === Map("k_nonneg" -> "k >= 0"))
    assert(clone.tableFeatures().contains("absolute-paths"))
    // time travel starts at the clone: v0 is the fork point
    assert(clone.readAt(0).count() === 100)
    // the constraint BINDS the clone's writes
    val e = intercept[Exception] {
      clone.append(Seq((-5L, "bad")).toDF("k", "s"))
    }
    assert(e.getMessage.contains("k_nonneg"))
  }

  test("divergence is local in both directions; the clone's vacuum never reclaims source data") {
    val (src, vt) = seeded()
    val dst = tmpVt("vt_clone_div")
    new java.io.File(dst).delete()
    vt.shallowClone(dst)
    val clone = new graft.sources.VersionedTable(spark, dst)
    val srcBefore = dataFileState(src)
    // mutate the CLONE: rewrite lands under the clone's root
    clone.delete(col("k") % 2 === 0L)
    assert(clone.read().count() === 50)
    assert(dataFileState(src) === srcBefore) // source untouched
    assert(vt.read().count() === 100)
    // mutate the SOURCE: the clone's pinned references don't see it
    vt.append(Seq((1000L, "post-fork")).toDF("k", "s"))
    assert(clone.read().count() === 50)
    // the clone's vacuum reclaims only CLONE-root garbage — the
    // foreign directories its history referenced are not its to delete
    // (the source's own post-fork append is the one legitimate delta)
    clone.vacuum(keepLast = 1)
    assert(srcBefore.subsetOf(dataFileState(src)))
    assert(vt.read().count() === 101)
  }

  test("a source vacuum that reclaims referenced directories breaks the clone LOUDLY") {
    val (_, vt) = seeded()
    val dst = tmpVt("vt_clone_vac")
    new java.io.File(dst).delete()
    vt.shallowClone(dst)
    val clone = new graft.sources.VersionedTable(spark, dst)
    // the source rewrites everything, then vacuums its history: the
    // directories the clone references are reclaimed
    vt.optimize("k", 1)
    vt.vacuum(keepLast = 1)
    val e = intercept[Exception] { clone.read().collect() }
    val msg = Option(e.getMessage).getOrElse("") +
      Option(e.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.toLowerCase.contains("vacuum") ||
      msg.toLowerCase.contains("exist"), s"got: $msg")
  }

  test("clones carry deletion-vector state exactly") {
    val dir = tmpVt()
    val vt = new graft.sources.VersionedTable(spark, dir)
    vt.append((0L until 100L).map(k => (k, k * 2.0)).toDF("k", "p"))
    vt.delete(col("k") % 5 === 0L, useDeletionVectors = true)
    val dst = tmpVt("vt_clone_dv")
    new java.io.File(dst).delete()
    vt.shallowClone(dst)
    val clone = new graft.sources.VersionedTable(spark, dst)
    assert(clone.fastCount() === Some(80L))
    assert(clone.read().count() === 80)
    assert(spark.read.format("graftvt").load(dst).count() === 80)
    assert(clone.tableFeatures().contains("bitmap-dv"))
  }

  test("clone refuses an existing log and a time-travel fork clones that version") {
    val (_, vt) = seeded()              // v0, v1
    vt.delete(col("k") >= 50L)          // v2: shrinks to 50 rows
    val dst = tmpVt("vt_clone_tt")
    new java.io.File(dst).delete()
    vt.shallowClone(dst, version = Some(1)) // fork the PRE-delete state
    val clone = new graft.sources.VersionedTable(spark, dst)
    assert(clone.read().count() === 100)
    val e = intercept[IllegalArgumentException] { vt.shallowClone(dst) }
    assert(e.getMessage.contains("already has a transaction log"))
  }

  test("SQL: CREATE TABLE 'dst' SHALLOW CLONE 'src' [VERSION AS OF n]") {
    val (src, vt) = seeded()
    vt.delete(col("k") >= 80L) // v2: 80 rows
    val dst = tmpVt("vt_clone_sql")
    new java.io.File(dst).delete()
    val got = spark.sql(s"CREATE TABLE '$dst' SHALLOW CLONE '$src'").head
    assert(got.getInt(0) === 0)
    assert(spark.read.format("graftvt").load(dst).count() === 80)
    val dst2 = tmpVt("vt_clone_sql2")
    new java.io.File(dst2).delete()
    spark.sql(s"CREATE TABLE '$dst2' SHALLOW CLONE '$src' VERSION AS OF 1")
    assert(spark.read.format("graftvt").load(dst2).count() === 100)
  }
}
