package graft

import org.apache.spark.sql.functions._
import graft.sources.{MergeAction, MergeClause, VersionedTable}

/** Spark jobs per row-level mutation, pinned per commit shape and mode.
  * Every shape runs against the same 300k-row table laid out in 20
  * range-disjoint directories (base row `i` has the even id `2i`, as in
  * the benchmark's `vt_mixed` table), restored to that base state before
  * each measurement; the "directory carries DVs" shapes first hide rows
  * of the touched directory with a DV delete, as a table under a DV
  * workload does. Merge sources hold 500 rows inside one
  * directory's key range. A budget is the job count the shape runs
  * through the one mutation core; a path that grows an extra pass
  * fails it.
  */
class MutationJobBudgetSpec extends SparkSuite {
  import spark.implicits._

  private lazy val (vt, baseVersion): (VersionedTable, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("vt_job_budget").toString
    val t = new VersionedTable(spark, dir)
    val perDir = 15000L
    (0 until 20).foreach { d =>
      t.append(spark.range(d * perDir, (d + 1) * perDir, 1, 1)
        .select((col("id") * 2).as("id"), (col("id") % 10).cast("int").as("k"),
          (col("id") % 1000).cast("double").as("amount"),
          concat(lit("t"), (col("id") % 8).cast("string")).as("tag")))
    }
    (t, t.latestVersion)
  }

  /** 500 source rows in [2·lo, 2·(lo + 500)): even ids match base rows,
    * odd ids are new; `matching = false` keeps only odd ids (the span
    * touches a directory, no key matches).
    */
  private def source(lo: Long, matching: Boolean) =
    (0L until 500L).map { i =>
      val id = 2 * (lo + i) + (if (matching && i % 2 == 0) 0 else 1)
      (id, (i % 10).toInt, if (i % 7 == 0) -1.0 * i else i * 1.5, "s")
    }.toDF("id", "k", "amount", "tag")

  private val benchClauses = (
    Seq(MergeClause(Some(col("s.amount") < 0), MergeAction.Delete),
      MergeClause(None, MergeAction.Update(Some(Map(
        "amount" -> col("s.amount"), "tag" -> col("s.tag")))))),
    Seq(MergeClause(None, MergeAction.Insert(None))))
  private val upsertClauses = (
    Seq(MergeClause(None, MergeAction.Update(None))),
    Seq(MergeClause(None, MergeAction.Insert(None))))

  /** A DV delete of every tenth row in [200000, 201000]: the directory
    * holding that span carries a sidecar when the shape runs, so every
    * folded read of it drops the hidden rows in the scan task.
    */
  private def priorDv(): Unit =
    vt.delete(col("id").between(200000L, 201000L) && col("id") % 20 === 6L,
      useDeletionVectors = true)

  private def merge(dv: Boolean) =
    vt.merge(source(100000L, matching = true), Seq("id"), useDeletionVectors = dv)
  private def delete(dv: Boolean) =
    vt.delete(col("id").between(200000L, 201000L) && col("id") % 20 === 4L,
      useDeletionVectors = dv)
  private def update(dv: Boolean) =
    vt.update(col("id").between(200000L, 201000L),
      Map("amount" -> (col("amount") + lit(1.0)), "tag" -> lit("u")),
      useDeletionVectors = dv)

  /** (shape, run [[priorDv]] first, the mutation) */
  private val shapes: Seq[(String, Boolean, Boolean => Int)] = Seq(
    ("merge (key matches)", false, merge),
    ("merge (no key match)", false, dv =>
      vt.merge(source(100000L, matching = false), Seq("id"), useDeletionVectors = dv)),
    ("mergeClauses (benchmark clauses)", false, dv =>
      vt.mergeClauses(source(100000L, matching = true), Seq("id"),
        benchClauses._1, benchClauses._2, useDeletionVectors = dv)),
    ("mergeClauses (upsert clauses)", false, dv =>
      vt.mergeClauses(source(100000L, matching = true), Seq("id"),
        upsertClauses._1, upsertClauses._2, useDeletionVectors = dv)),
    ("delete", false, delete),
    ("update", false, update),
    ("merge (directory carries DVs)", true, merge),
    ("delete (directory carries DVs)", true, delete),
    ("update (directory carries DVs)", true, update))

  /** (shape, useDeletionVectors) -> jobs the shape runs, measured under
    * this suite's SparkSession settings. Before merge, delete and update
    * shared one core, the same shapes ran (cow/dv): merge 5/12 with and
    * without key matches, mergeClauses 11/12 for both clause sets,
    * delete 3/4, update 3/7, and over a directory carrying DVs merge
    * 8/15, delete 9/10, update 9/13. While folded reads anti-joined the
    * hidden positions (before they filtered them in the scan task), the
    * shapes over a directory carrying DVs ran merge 8/12, delete 9/10
    * and update 9/13; they now run what a clean directory does. While
    * a DV update cached its matches to keep one current time across its
    * jobs (before each command evaluated current-time functions once),
    * it ran 7 jobs on either kind of directory.
    */
  private val budget: Map[(String, Boolean), Int] = Map(
    ("merge (key matches)", false) -> 5, ("merge (key matches)", true) -> 8,
    ("merge (no key match)", false) -> 5, ("merge (no key match)", true) -> 8,
    ("mergeClauses (benchmark clauses)", false) -> 10,
    ("mergeClauses (benchmark clauses)", true) -> 11,
    ("mergeClauses (upsert clauses)", false) -> 5,
    ("mergeClauses (upsert clauses)", true) -> 8,
    ("delete", false) -> 3, ("delete", true) -> 4,
    ("update", false) -> 3, ("update", true) -> 5,
    ("merge (directory carries DVs)", false) -> 5,
    ("merge (directory carries DVs)", true) -> 8,
    ("delete (directory carries DVs)", false) -> 3,
    ("delete (directory carries DVs)", true) -> 4,
    ("update (directory carries DVs)", false) -> 3,
    ("update (directory carries DVs)", true) -> 5)

  for ((name, prior, run) <- shapes; dv <- Seq(false, true)) {
    val mode = if (dv) "dv" else "cow"
    test(s"$name, $mode: at most the pinned job count") {
      vt.restore(baseVersion)
      if (prior) priorDv()
      val before = vt.latestVersion
      val (v, jobs) = countingJobs(run(dv))
      assert(v > before, s"$name $mode committed nothing")
      val op = vt.history().filter(col("version") === v).head.getString(1)
      val b = budget((name, dv))
      assert(jobs <= b, s"$name ($mode, committed as $op) ran $jobs jobs, budget $b")
    }
  }

  /** 500 rows whose odd ids match no base row: an append-shaped payload. */
  private def fresh = source(300000L, matching = false)

  /** A second DV delete on the directory [[priorDv]] hides rows of, so
    * that directory stacks two sidecars for `coalesceDv` to merge.
    */
  private def twoSidecars(): Unit = {
    priorDv()
    vt.delete(col("id").between(200000L, 201000L) && col("id") % 20 === 8L,
      useDeletionVectors = true)
  }

  /** (commit path, set-up before counting, the command, jobs pinned on
    * the commit paths before they shared one commit loop)
    */
  private val commitPaths: Seq[(String, () => Unit, () => Int, Int)] = Seq(
    ("append", () => (), () => vt.append(fresh), 1),
    ("appendWithRetry", () => (), () => vt.appendWithRetry(fresh), 1),
    ("appendStreamBatch", () => (), () => vt.appendStreamBatch(fresh, "budget",
      vt.lastTxnBatch("budget").fold(0L)(_ + 1)).get, 1),
    ("overwrite", () => (), () => vt.overwrite(fresh), 1),
    ("optimize", () => (), () => vt.optimize("id", 4), 7),
    ("coalesceDv", () => twoSidecars(), () => vt.coalesceDv(), 1))

  for ((name, setUp, run, b) <- commitPaths) {
    test(s"$name: at most the pinned job count") {
      vt.restore(baseVersion)
      setUp()
      val before = vt.latestVersion
      val (v, jobs) = countingJobs(run())
      assert(v > before, s"$name committed nothing")
      assert(jobs <= b, s"$name ran $jobs jobs, budget $b")
    }
  }

  /** (maintenance entry point, set-up before counting, the command, jobs
    * pinned) — the layout rewrites beside `optimize` above. The DV-debt
    * forms rewrite the one directory [[priorDv]] hides rows of. While
    * `optimizeWhere`, `optimizeDvDebt` and the auto-compaction fold read
    * their scope with a parquet footer merge instead of the recorded
    * schema, each ran one job more: 8, 8/8 and 6.
    */
  private val maintenance: Seq[(String, () => Unit, () => Int, Int)] = Seq(
    ("optimizeWhere", () => (), () =>
      vt.optimizeWhere("id", 2, "id", Some(0L), Some(60000L)), 7),
    ("optimizeZOrder", () => (), () => vt.optimizeZOrder(Seq("id", "amount"), 4), 9),
    ("compact", () => (), () => vt.compact(4), 7),
    ("optimizeDvDebt (hash key)", () => priorDv(), () => vt.optimizeDvDebt(0.001, 2), 7),
    ("optimizeDvDebt (column key)", () => priorDv(), () =>
      vt.optimizeDvDebt(0.001, 2, Some("id")), 7))

  for ((name, setUp, run, b) <- maintenance) {
    test(s"$name: at most the pinned job count") {
      vt.restore(baseVersion)
      setUp()
      val before = vt.latestVersion
      val (v, jobs) = countingJobs(run())
      assert(v > before, s"$name committed nothing")
      assert(jobs <= b, s"$name ran $jobs jobs, budget $b")
    }
  }

  /** (change-feed range, set-up returning the range, jobs pinned) — the
    * jobs of building `changes(from, to)` and counting its rows.
    */
  private val feeds: Seq[(String, () => (Int, Int), Int)] = Seq(
    ("changes(v, v) of a copy-on-write merge with change data", () => {
      val v = vt.merge(source(100000L, matching = true), Seq("id"),
        writeChangeData = true)
      (v, v)
    }, 2),
    ("changes(v, v) of a merge-on-read merge", () => {
      val v = merge(dv = true)
      (v, v)
    }, 2),
    ("changes(0, 19) over the 20 base appends", () => (0, baseVersion), 2))

  for ((name, setUp, b) <- feeds) {
    test(s"$name: at most the pinned job count") {
      vt.restore(baseVersion)
      val (from, to) = setUp()
      val (rows, jobs) = countingJobs(vt.changes(from, to).count())
      assert(rows > 0L, s"$name served no rows")
      assert(jobs <= b, s"$name ran $jobs jobs, budget $b")
    }
  }

  test("auto-compaction fold: at most the pinned job count beyond the append") {
    vt.restore(baseVersion)
    val (_, plain) = countingJobs(vt.append(fresh))
    vt.restore(baseVersion)
    // every active directory is small: the armed append's hook folds
    // the 20 base directories and the appended one into one
    val armed = Map("graft.autoCompact.minFiles" -> "21",
      "graft.autoCompact.smallBytes" -> (1L << 30).toString)
    vt.setProperties(armed)
    try {
      val before = vt.latestVersion
      val (_, jobs) = countingJobs(vt.append(fresh))
      assert(vt.latestVersion === before + 2, "the append did not fold")
      assert(vt.activeDirs().size === 1)
      val b = 5
      assert(jobs - plain <= b,
        s"the fold ran ${jobs - plain} jobs beyond the append, budget $b")
    } finally vt.unsetProperties(armed.keys.toSeq)
  }
}
