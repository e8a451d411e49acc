package graft

import org.apache.spark.sql.functions.col
import graft.sources.{GraftConflictException, GraftPostCommitMaintenanceException, VersionedTable}

/** The one commit loop every versioned-table write ends in: what a
  * command sees after its claim won (checkpoint and post-commit hook
  * failures), what a losing command leaves on disk, and how
  * `coalesceDv` retries.
  */
class CommitLoopSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("vt_commit_loop").toString

  private def rows(lo: Long, hi: Long) = (lo until hi).map(k => (k, k * 1.0)).toDF("k", "p")

  test("a checkpoint that fails after a won claim reads as committed, never as a failed write") {
    val dir = FaultFileSystem.bind(spark, tmpDir())
    val vt = new VersionedTable(spark, dir, checkpointInterval = 1)
    vt.append(rows(0L, 100L))
    def committedDespiteCheckpoint(write: => Any): Int = {
      FaultFileSystem.failCreate = _.getName.contains(".checkpoint.json.")
      val e = try intercept[GraftPostCommitMaintenanceException](write)
        finally FaultFileSystem.failCreate = _ => false
      assert(e.getMessage.contains("COMMITTED"))
      assert(e.committedVersion === vt.latestVersion)
      e.committedVersion
    }
    assert(committedDespiteCheckpoint(vt.appendWithRetry(rows(100L, 110L))) === 1)
    assert(committedDespiteCheckpoint(
      vt.appendStreamBatch(rows(110L, 120L), "app", 0L)) === 2)
    // the caller's retry of that batch is a replay, not a second write
    assert(vt.appendStreamBatch(rows(110L, 120L), "app", 0L) === None)
    assert(committedDespiteCheckpoint(vt.delete(col("k") < 5L)) === 3)
    assert(vt.read().count() === 115)
    assert(vt.latestVersion === 3)
  }

  test("overwrite and a user-called coalesceDv run the post-commit hook their base snapshot arms") {
    val vt = new VersionedTable(spark, tmpDir())
    vt.append(rows(0L, 100L))
    // armed, but no directory count reaches the threshold
    vt.setProperties(Map("graft.autoCompact.minFiles" -> "100"))
    def hookFails(write: => Int): Int = {
      vt.autoMaintainFault = () => throw new RuntimeException("injected hook fault")
      try intercept[GraftPostCommitMaintenanceException](write).committedVersion
      finally vt.autoMaintainFault = () => ()
    }
    assert(hookFails(vt.overwrite(rows(0L, 10L))) === 2)
    assert(vt.read().count() === 10)
    vt.delete(col("k") === 1L, useDeletionVectors = true)
    vt.delete(col("k") === 2L, useDeletionVectors = true)
    assert(hookFails(vt.coalesceDv()) === 5)
    assert(vt.dvsAt(5).values.map(_.distinct.size).toSeq === Seq(1))
  }

  test("a plain append that loses its slot reclaims its payload") {
    val dir = tmpDir()
    val vt = new VersionedTable(spark, dir)
    val racer = new VersionedTable(spark, dir)
    vt.append(rows(0L, 10L))
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(rows(10L, 20L))
    }
    intercept[GraftConflictException](vt.append(rows(20L, 30L)))
    assert(unreferencedDirs(dir).isEmpty)
    assert(vt.read().count() === 20)
  }

  test("coalesceDv re-plans only when a winner changed a victim's DV state") {
    val dir = tmpDir()
    val vt = new VersionedTable(spark, dir)
    val racer = new VersionedTable(spark, dir)
    vt.append(rows(0L, 200L))                                     // v0
    vt.delete(col("k") < 10L, useDeletionVectors = true)           // v1
    vt.delete(col("k") >= 190L, useDeletionVectors = true)         // v2
    // a third sidecar lands on the victim directory mid-flight: the
    // merged map would drop it, so the command re-plans
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.delete(col("k") === 100L, useDeletionVectors = true)    // v3
    }
    assert(vt.coalesceDv() === 4)
    assert(vt.dvsAt(4).values.map(_.distinct.size).toSeq === Seq(1))
    assert(vt.read().count() === 179)
    assert(vt.fastCount() === Some(179L))
    // an append leaves every victim's DV state alone: the claim is
    // retried through and the union job runs once
    vt.delete(col("k") === 50L, useDeletionVectors = true)         // v5
    vt.beforePublish = () => {
      vt.beforePublish = () => ()
      racer.append(rows(1000L, 1010L))                              // v6
    }
    val (v, jobs) = countingJobs(vt.coalesceDv())
    assert(v === 7)
    assert(jobs === 2, "the racer's append and one union job")
    assert(vt.dvsAt(7).values.map(_.distinct.size).toSeq === Seq(1))
    assert(vt.read().count() === 188)
    assert(unreferencedDirs(dir).isEmpty)
  }
}
