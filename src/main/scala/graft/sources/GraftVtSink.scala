package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

/** Native streaming SINK for the versioned table —
  * {{{
  *   df.writeStream.format("graftvt")
  *     .option("checkpointLocation", ck)   // or option("txnAppId", ...)
  *     .start(tableDir)
  * }}}
  * Every micro-batch commits through the EXACTLY-ONCE idempotence
  * protocol ([[VersionedTable.appendStreamBatch]], Delta's
  * `txnAppId`/`txnVersion` shape, checked by the table's one commit
  * loop on every lost claim): the commit is tagged (app, batchId)
  * and a replayed batch — the crash-between-table-commit-and-checkpoint
  * case — is recognized and SKIPPED, never double-appended, while
  * interleaved writes by other apps or plain appends land freely.
  *
  * The app id must be UNIQUE PER QUERY but STABLE ACROSS RESTARTS —
  * exactly the properties of the checkpoint location, so it defaults to
  * a digest of `checkpointLocation`; `option("txnAppId", ...)` overrides
  * (two queries sharing an app id would silently skip each other's
  * batch ids). Append output mode only: update/complete would need
  * row-level upserts per batch, which is [[VersionedTable.merge]]'s job
  * under `foreachBatch`.
  */
class GraftVtSink(path: String, app: String) extends Sink {

  override def name(): String = s"graftvt-sink.`$path`"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the handed frame is bound to the micro-batch's incremental
    // execution; re-wrap it as a batch frame over the SAME plan run
    val batch = org.apache.spark.sql.graftshim.BatchDf.asBatch(data)
    val vt = new VersionedTable(batch.sparkSession, path)
    vt.appendStreamBatch(batch, app, batchId)
    ()
  }
}

/** The `createSink` half lives on [[GraftVtDataSource]] (the class
  * `format("graftvt")` resolves); this trait keeps the logic testable
  * and the options contract in one place.
  */
trait GraftVtSinkProvider extends org.apache.spark.sql.sources.StreamSinkProvider {

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graftvt streaming sink does not take partitionBy — the table is " +
        "directory-chunked by the transaction log (OPTIMIZE clusters it)")
    require(outputMode == OutputMode.Append(),
      s"graftvt streaming sink supports Append output mode only, got " +
        s"$outputMode — update/complete need row-level upserts: run " +
        "foreachBatch { (b, _) => vt.merge(b, keys) } instead")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "graftvt streaming sink needs a table directory: .start(dir) or " +
          "option(\"path\", dir)"))
    val app = parameters.get("txnAppId")
      .orElse(parameters.get("checkpointLocation").map(ck =>
        "graftvt-" + java.security.MessageDigest.getInstance("MD5")
          .digest(ck.getBytes("UTF-8")).map("%02x".format(_)).mkString))
      .getOrElse(throw new IllegalArgumentException(
        "graftvt streaming sink needs a stable per-query id for " +
          "exactly-once commits: set option(\"checkpointLocation\", ...) " +
          "(recommended — restarts resume) or option(\"txnAppId\", ...)"))
    new GraftVtSink(path, app)
  }
}
