package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** CONTINUOUS tombstone ingestion — the operational loop that keeps the
  * maintained stored families honest as documents leave the corpus
  * (takedown requests, license pulls, retroactive dedup decisions):
  * retire events arrive as a stream of document rows (id + the content
  * the count channels replay), and ONE `foreachBatch` sink fans each
  * micro-batch into every family's retire appender under a single
  * checkpoint.
  *
  * The consistency story is the appenders': every family's retire
  * append is `_SUCCESS`-claim idempotent per (channel, batchId), so a
  * replayed micro-batch (crash between the fan-out and the checkpoint
  * commit) re-runs the SAME batch id into every channel and each one
  * skips or heals independently — the split-write contract the batch
  * twins pin, now under streaming replay. Families that need the
  * retired docs' CONTENT (unigram/DSIR/NB/CMS count subtraction) get
  * the full rows (they write `ShardWrite.CountChannel` retire counts);
  * set-semantics channels (pairs, postings, ANN codes, the gates) use
  * the ids alone, each appender writing one `ShardWrite.Tombstones`
  * id set.
  *
  * The GATE channels ride the same sink (r15): [[NearDupGate
  * .retireAppend]] / [[SemDeDupGate.retireAppend]] are
  * (DataFrame, batchId) appenders like every other family's, so one
  * event stream also evicts the gates' suppressing memory — their
  * `evictRetired` maintenance then runs on the gates' own compaction
  * cadence (`GateRetireSpec` pins the semantics; the fan-out contract
  * here is the same claim-idempotence the other channels pin).
  *
  * `maintenance` runs INSIDE foreachBatch on the `compactEvery` cadence
  * (batchId % compactEvery == compactEvery − 1) — the window where the
  * stream's own appends are naturally paused, the
  * [[LakeMaintenance]]/[[PostingsIndex]] compaction-hook discipline —
  * typically the families' `compact*` entry points folding both
  * channels.
  */
object RetireStream {

  def startRetireSink(events: DataFrame, checkpoint: String,
                      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
                      compactEvery: Int = 0,
                      maintenance: Long => Unit = _ => ())(
      appenders: ((DataFrame, Long) => Unit)*): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appenders.foreach(_(batch, batchId))
        if (compactEvery > 0 && batchId % compactEvery == compactEvery - 1)
          maintenance(batchId)
      }
      .start()
}
