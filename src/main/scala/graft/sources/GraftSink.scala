package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftshim.StreamingFrame
import org.apache.spark.sql.streaming.OutputMode

import graft.ops.Snapshot

/** The snapshot table as a REGISTERED Structured Streaming sink:
  *
  *   df.writeStream.format("graft")
  *     .option("checkpointLocation", ckpt)
  *     .option("statsCol", "event_id")      // new tables declare clustering
  *     .outputMode("append")
  *     .start(dir)
  *
  * — the write-side front door of the streaming surface (the CDF source
  * `graft-cdf` is the read side), on the STABLE v1 sink SPI
  * (`StreamSinkProvider` + `Sink`, the contract Delta's own `DeltaSink`
  * rides). Every micro-batch lands through [[Snapshot.commit]]'s
  * protocol, so a drain leaves a committed, time-travelable version PER
  * BATCH, readable (and CDF-subscribable) while the stream runs.
  *
  * EXACTLY-ONCE is the txn-token recipe ([[Snapshot.commitOnce]], the
  * manifest-note ledger): each batch commits under the token
  * `txn:<queryId>:<batchId>`, where `queryId` is the streaming query's
  * durable identity (persisted in checkpoint metadata, stable across
  * restarts — read from the `sql.streaming.queryId` local property the
  * stream execution thread sets, exactly where `DeltaSink` reads it).
  * A restart that replays a committed batch finds its token in the
  * retained history and no-ops — redelivery lands nothing twice. The
  * ledger's scope is the checkpoint: starting the query over with a
  * FRESH checkpoint restarts batch ids under a fresh queryId, which is
  * a new producer by contract (Delta draws the same line). Caveat
  * shared with every log-bounded txn scheme: retention that drops the
  * tokened manifest drops the witness — keep retention windows longer
  * than restart horizons.
  *
  * Output modes: Append commits each batch's rows CARRYING the current
  * file set by reference (cost ∝ the batch, one manifest publish — the
  * 100 TB append discipline); Complete commits the batch as the new
  * full state (the aggregate-refresh shape, history intact). Update is
  * refused: its batches are keyed UPSERTS, and landing upserts needs
  * the merge discipline — `foreachBatch` + [[Snapshot.mergeCow]]
  * (q102/q126), not a blind append that would duplicate keys.
  *
  * CHECK constraints, declared schema evolution, and the z-order guard
  * enforce per batch exactly as on any batch commit: a violating batch
  * fails the query loudly with the table intact.
  */
final class GraftSink(spark: SparkSession, dir: String,
                      statsColOpt: Option[String], nFiles: Int,
                      outputMode: OutputMode) extends Sink {
  require(outputMode != OutputMode.Update(),
    "graft sink: Update mode emits keyed upserts, which need a merge, " +
      "not an append — use foreachBatch + Snapshot.mergeCow (the q102 " +
      "discipline), or outputMode append/complete")

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // The stream execution thread stamps the query's durable id into
    // this local property before every batch; it is the id persisted in
    // checkpoint metadata (stable across restarts, unlike runId).
    val queryId = Option(data.sparkSession.sparkContext
      .getLocalProperty("sql.streaming.queryId")).getOrElse("no-query")
    val token = s"txn:$queryId:$batchId"
    Snapshot.commitOnce(spark, dir, token) {
      val batch = StreamingFrame.unwrap(data)
      val cur = Snapshot.currentVersion(spark, dir)
      val prior = if (cur > 0) Some(Snapshot.manifest(spark, dir, cur)) else None
      prior.foreach(m => require(!Snapshot.isZOrdered(m),
        s"current version of $dir is z-ordered; blind streamed appends " +
          "would break its layout contract — re-OPTIMIZE after the drain"))
      val statsCol = statsColOpt.orElse(prior.map(_.statsCol))
        .getOrElse(throw new IllegalArgumentException(
          "a new graft sink table needs option statsCol (the clustering " +
            "column)"))
      val carried =
        if (outputMode == OutputMode.Complete()) Nil
        else prior.map(_.files).getOrElse(Nil)
      Snapshot.commit(batch, dir, cur, statsCol, carried, nFiles,
        note = token)
    }
    ()
  }

  override def toString: String = s"GraftSink($dir)"
}
