package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.IncrementalDedup
import graft.sources.TableManager

/** Incremental near-duplicate removal over a growing corpus: one
  * operation appends one batch to the persisted signature state and
  * writes the new state to the other of two state tables, the rotation
  * `dedup_incremental_multi` uses. Set-up bootstraps the state from four
  * batches of history; the warm-up appends one more.
  */
final class Corpus(spark: SparkSession, tr: Tracer, work: String, seed: Long) extends Workload {
  import spark.implicits._

  /** Distinct from every `vt_mixed` kind, so the two can share a mix. */
  private val Kind = "dedup_append"
  private val HistoryBatches = 4
  private val MaxBatches = 24
  private val input = s"$work/in/docs"
  private val State = Seq("corpus_state_a", "corpus_state_b")
  private val tables = new TableManager(spark)
  private var current = 0
  private var loaded = 0
  private var sizedBytes = 0L
  private var sizedRows = 0L

  val setupReps = 2

  private def batches(from: Int, until: Int): DataFrame =
    spark.read.parquet(input).filter(col("batch") >= from && col("batch") < until)
      .select(col("doc_id"), col("text"))

  def setup(rep: Int): Unit = {
    Host.deleteRecursively(s"$work/in")
    State.foreach(tables.reset)
    CorpusGen.docs(seed, MaxBatches).toDF().withColumnRenamed("docId", "doc_id")
      .repartition(col("batch")).write.partitionBy("batch").parquet(input)
    val boot = IncrementalDedup.appendBatch(IncrementalDedup.emptyState(spark),
      batches(0, HistoryBatches), "doc_id", "text")
    tables.overwrite(boot, State(0))
    current = 0
    loaded = HistoryBatches
  }

  private def append(b: Int): Unit = {
    val next = tr.span("IncrementalDedup.appendBatch") {
      IncrementalDedup.appendBatch(spark.table(State(current)),
        spark.read.parquet(s"$input/batch=$b"), "doc_id", "text")
    }
    tr.span("TableManager.overwrite")(tables.overwrite(next, State(1 - current)))
    current = 1 - current
    loaded = b + 1
  }

  def warmup(): Unit = {
    append(HistoryBatches)
    // Input size: every generated document as compact Parquet, once (one
    // batch alone compresses too differently from seed to seed).
    val sample = s"$work/in/sized"
    batches(0, MaxBatches).coalesce(1).write.parquet(sample)
    sizedBytes = Host.dirBytes(sample)
    sizedRows = MaxBatches.toLong * CorpusGen.BatchSize
  }

  def op(i: Int): Op = {
    val b = HistoryBatches + 1 + i
    require(b < MaxBatches, s"corpus generated only $MaxBatches batches")
    Op(Kind, write = true, CorpusGen.BatchSize.toLong, () => append(b),
      inputBytes = Stats.sizedBytes(CorpusGen.BatchSize, sizedBytes, sizedRows))
  }

  /** The state replayed batch by batch must decide exactly as one
    * full-corpus append over the same documents.
    */
  def check(): Seq[String] = {
    def decisions(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("cluster_id"), r.getAs[Boolean]("keep"))).toSet
    val got = tr.span("IncrementalDedup.keepDecision") {
      decisions(IncrementalDedup.keepDecision(spark.table(State(current))))
    }
    val want = decisions(IncrementalDedup.keepDecision(IncrementalDedup.appendBatch(
      IncrementalDedup.emptyState(spark), batches(0, loaded), "doc_id", "text")))
    if (want.isEmpty) Seq("the corpus planted no duplicates")
    else if (got == want) Nil
    else Seq(s"keepDecision after $loaded batches: ${want.size} rows expected, ${got.size} got; " +
      s"missing e.g. ${(want -- got).take(3)}, unexpected e.g. ${(got -- want).take(3)}")
  }

  def tableDirs: Seq[String] = State.map(t => s"$work/wh/$t")
  def writeCompact(dst: String): Unit = spark.table(State(current)).coalesce(1).write.parquet(dst)

  override def layerExtras(samples: Seq[(String, Double)]): Map[String, Double] = {
    val opMs = samples.filter(_._1 == Kind).map(_._2)
    val q = math.max(1, opMs.size / 4)
    Map("IncrementalDedup.append.growth" ->
      (if (opMs.isEmpty) 0.0 else Stats.median(opMs.takeRight(q)) / Stats.median(opMs.take(q))))
  }
}
