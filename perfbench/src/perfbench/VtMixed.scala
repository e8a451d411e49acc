package perfbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{MergeAction, MergeClause, VersionedTable}

/** Writes beside reads on one `graftvt` table. Writes go through one
  * long-lived handle; reads go through `spark.read.format("graftvt")`,
  * a fresh handle per load. The benchmark keeps a model of the table at
  * every version it committed and checks reads against it.
  */
final class VtMixed(spark: SparkSession, tr: Tracer, work: String, seed: Long) extends Workload {
  import spark.implicits._

  private val BaseRows = 300000L
  private val SizedRows = 100000L
  private val dir = s"$work/vt"
  private var vt: VersionedTable = _
  private var model = TreeMap.empty[Long, VRow]
  /** Model state after each version this benchmark committed; a version
    * it did not commit (maintenance) holds the state of the one below.
    */
  private val versions = mutable.TreeMap[Int, TreeMap[Long, VRow]]()
  private var latest = 0
  private var setupVersion = 0
  private val dvRequested = mutable.ArrayBuffer[Int]()
  private val userVersions = mutable.Set[Int]()
  private var readReturned = 0L
  private var sizedBytes = 0L
  private val WarmupOps = VtGen.BlockKinds

  /** One: building the 300k-row base is the largest set-up cost of the
    * benchmark, and a full pass (every workload, many seeds) has no time
    * for a second build per run.
    */
  val setupReps = 1

  def setup(rep: Int): Unit = {
    Host.deleteRecursively(dir)
    val base = generated(BaseRows, 8)
    vt = new VersionedTable(spark, dir)
    vt.append(base)
    // Tens of range-disjoint directories: a keyed mutation rewrites only
    // the directories whose id range it touches.
    vt.optimize("id", VtGen.Dirs)
    // Small directories (a 500-row append, a DV merge's new rows: ~10 KB)
    // fold four at a time; the folded directory (~30 KB) and the base
    // directories (~150 KB) stay clear of the threshold, so a fold is
    // never refolded and folds come at the same operations whatever the
    // seed.
    vt.setProperties(Map(
      "graft.autoCompact.minFiles" -> "4",
      "graft.autoCompact.smallBytes" -> (20 * 1024).toString,
      "graft.autoCoalesce.minSidecars" -> "3"))
    // A history past the writer's 32-entry snapshot memo and across
    // several 10-commit checkpoints, as a long-lived table has;
    // metadata-only commits keep this cheap.
    (1 to 30).foreach(k => vt.setProperties(Map("perfbench.setup.step" -> k.toString)))
    setupVersion = vt.latestVersion
    model = TreeMap.from((0L until BaseRows).iterator.map(VtGen.baseRow(seed, _)).map(r => r.id -> r))
    versions.clear()
    versions(0) = model // the first append is version 0
    latest = setupVersion
    dvRequested.clear(); userVersions.clear()
  }

  def warmup(): Unit = {
    (0 until WarmupOps).foreach { i =>
      val o = opAt(i)
      o.verify(o.run()).foreach(m => throw new IllegalStateException(s"warm-up op $i (${o.kind}): $m"))
    }
    val sample = s"$work/vt-input"
    generated(SizedRows, 1).write.parquet(sample)
    sizedBytes = Host.dirBytes(sample)
  }

  private def committed(v: Int, dv: Boolean): Unit = {
    if (v > latest) {
      versions(v) = model
      userVersions += v
      if (dv) dvRequested += v
      latest = v
    }
  }
  private def modelAt(v: Int): TreeMap[Long, VRow] = versions.rangeTo(v).last._2

  /** The base rows as a distributed frame (the closure captures only the seed). */
  private def generated(n: Long, slices: Int): DataFrame = {
    val s = seed
    spark.sparkContext.range(0L, n, numSlices = slices).map(i => VtGen.baseRow(s, i)).toDF()
  }
  private def src(rows: IndexedSeq[VRow]): DataFrame = rows.toDF()
  private def graftvt = spark.read.format("graftvt")
  private def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(col("id"), col("k"), col("amount"), col("tag"))
      .cast("long")), lit(0L))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }
  /** Spark's `hash(id, k, amount, tag)`: Murmur3 chained over the columns, seed 42. */
  private def rowHash(r: VRow): Long = {
    var h = 42
    h = Murmur3HashFunction.hash(r.id, LongType, h).toInt
    h = Murmur3HashFunction.hash(r.k, IntegerType, h).toInt
    h = Murmur3HashFunction.hash(r.amount, DoubleType, h).toInt
    h = Murmur3HashFunction.hash(UTF8String.fromString(r.tag), StringType, h).toInt
    h.toLong
  }
  private def modelDigest(m: Iterable[VRow]): (Long, Long) =
    (m.size.toLong, m.iterator.map(rowHash).sum)

  def op(i: Int): Op = {
    val o = opAt(i + WarmupOps)
    o.copy(inputBytes = Stats.sizedBytes(o.rows, sizedBytes, SizedRows))
  }
  override def blockSize: Int = VtGen.BlockKinds

  private def opAt(i: Int): Op = {
    val v = VtGen.op(seed, BaseRows, i)
    val name = s"VersionedTable.${v.kind}"
    v match {
      case VOp.Append(rows) =>
        Op(v.kind, true, v.rows, () => {
          val c = tr.span(name)(vt.append(src(rows)))
          model = model ++ rows.map(r => r.id -> r); committed(c, dv = false)
        })
      case VOp.Upsert(rows, dv) =>
        Op(v.kind, true, v.rows, () => {
          val c = tr.span(name)(vt.merge(src(rows), Seq("id"), useDeletionVectors = dv))
          model = model ++ rows.map(r => r.id -> r); committed(c, dv)
        })
      case VOp.Clauses(rows, dv) =>
        Op(v.kind, true, v.rows, () => {
          val c = tr.span(name)(vt.mergeClauses(src(rows), Seq("id"),
            matched = Seq(
              MergeClause(Some(col("s.amount") < 0), MergeAction.Delete),
              MergeClause(None, MergeAction.Update(Some(Map(
                "amount" -> col("s.amount"), "tag" -> col("s.tag")))))),
            notMatched = Seq(MergeClause(None, MergeAction.Insert(None))),
            useDeletionVectors = dv))
          rows.foreach { r =>
            model.get(r.id) match {
              case Some(_) if r.amount < 0 => model = model - r.id
              case Some(t) => model = model.updated(r.id, t.copy(amount = r.amount, tag = r.tag))
              case None => model = model.updated(r.id, r)
            }
          }
          committed(c, dv)
        })
      case VOp.Delete(lo, hi, cls, dv) =>
        Op(v.kind, true, v.rows, () => {
          val c = tr.span(name)(vt.delete(col("id").between(lo, hi) && col("id") % 20 === 2 * cls,
            useDeletionVectors = dv))
          model = model -- model.range(lo, hi + 1).keysIterator.filter(_ % 20 == 2 * cls).toSeq
          committed(c, dv)
        })
      case VOp.Update(lo, hi, delta, dv) =>
        Op(v.kind, true, v.rows, () => {
          val c = tr.span(name)(vt.update(col("id").between(lo, hi),
            Map("amount" -> (col("amount") + lit(delta)), "tag" -> lit("u")), useDeletionVectors = dv))
          model = model ++ model.range(lo, hi + 1).valuesIterator
            .map(r => r.id -> r.copy(amount = r.amount + delta, tag = "u")).toSeq
          committed(c, dv)
        })
      case VOp.ReadCurrent(lo, hi) =>
        Op(v.kind, false, 0, () => {
          val got = tr.span(name)(graftvt.load(dir).filter(col("id").between(lo, hi)).collect())
          if (tr.enabled) readReturned += got.length
          got.map(r => VRow(r.getAs[Long]("id"), r.getAs[Int]("k"), r.getAs[Double]("amount"),
            r.getAs[String]("tag"))).sortBy(_.id).toSeq
        }, got => {
          val want = model.range(lo, hi + 1).values.toSeq
          if (got == want) Nil else Seq(s"read [$lo, $hi]: ${want.size} rows expected, " +
            s"${got.asInstanceOf[Seq[_]].size} got")
        })
      case VOp.ReadAt(pick, k) =>
        val at = 1 + (pick * latest).toInt
        Op(v.kind, false, 0, () =>
          tr.span(name)(digest(graftvt.option("versionAsOf", at.toLong).load(dir).filter(col("k") === k))),
          got => {
            val want = modelDigest(modelAt(at).values.filter(_.k == k))
            if (got == want) Nil else Seq(s"versionAsOf $at k=$k: expected $want got $got")
          })
      case VOp.Changes(n) =>
        Op(v.kind, false, 0, () => tr.span(name)(graftvt.option("readChangeFeed", "true")
          .option("startingVersion", math.max(1, latest - n + 1).toLong)
          .option("endingVersion", latest.toLong).load(dir)
          .groupBy("_change_type").count().collect().length))
      case VOp.History =>
        Op(v.kind, false, 0, () =>
          tr.span(name)(new VersionedTable(spark, dir).history().collect().length),
          got => if (got.asInstanceOf[Int] >= latest + 1) Nil
            else Seq(s"history has $got versions, expected at least ${latest + 1}"))
    }
  }

  def check(): Seq[String] = {
    // The final snapshot, the base, and a version from the middle of
    // the timed phase, each against the model.
    val mid = userVersions.toSeq.sorted.lift(userVersions.size / 2).getOrElse(latest)
    Seq(1, mid, latest).distinct.flatMap { v =>
      val got = digest(graftvt.option("versionAsOf", v.toLong).load(dir))
      val want = modelDigest(modelAt(v).values)
      if (got == want) Nil else Seq(s"snapshot at version $v: expected (rows, hash) $want got $got")
    } ++ {
      val got = digest(graftvt.load(dir))
      val want = modelDigest(model.values)
      if (got == want) Nil else Seq(s"current snapshot: expected (rows, hash) $want got $got")
    }
  }

  def tableDirs: Seq[String] = Seq(dir)
  def writeCompact(dst: String): Unit = graftvt.load(dir).coalesce(1).write.parquet(dst)

  override def layerExtras(opMs: Seq[(String, Double)]): Map[String, Double] = {
    val hist = new VersionedTable(spark, dir).history().collect()
      .map(r => r.getAs[Int]("version") -> r.getAs[String]("op")).toMap
    val dvCommitted = dvRequested.count(v => hist.get(v).exists(_.endsWith("-dv")))
    val maintenance = hist.filter { case (v, op) =>
      v > setupVersion && !userVersions.contains(v) && (op == "optimize" || op == "coalesce-dv")
    }.keys.toSeq
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val rewritten = maintenance.map { v =>
      val node = mapper.readTree(new java.io.File(f"$dir/_graft_log/$v%08d.json"))
      val ab = node.get("added_bytes")
      if (ab == null) 0L else {
        import scala.jdk.CollectionConverters._
        ab.properties().asScala.map(_.getValue.asLong()).sum
      }
    }.sum
    val logFiles = Option(new java.io.File(s"$dir/_graft_log").list()).map(_.toSeq).getOrElse(Nil)
    val examined = tr.spans.filter(_.name == "VersionedTable.read").map(_.inputRows).sum
    Map(
      "VersionedTable.dv.commit_ratio" ->
        (if (dvRequested.isEmpty) 0.0 else dvCommitted.toDouble / dvRequested.size),
      "VersionedTable.read.rows_examined_per_returned" ->
        (if (readReturned == 0) 0.0 else examined.toDouble / readReturned),
      "VersionedTable.maintenance.commits" -> maintenance.size.toDouble,
      "VersionedTable.maintenance.bytes_rewritten" -> rewritten.toDouble,
      "VersionedTable.checkpoints" -> logFiles.count(_.endsWith(".checkpoint.json")).toDouble)
  }
}
