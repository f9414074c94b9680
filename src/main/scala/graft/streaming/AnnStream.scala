package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import graft.ops.Similarity

/** Online ANN serving over a persisted index — the serve-online half of
  * [[graft.ops.Similarity.writeAnnIndex]]'s build-offline split: query
  * vectors arrive as a stream, and each micro-batch is served through
  * exactly the batch path ([[graft.ops.Similarity.serveAnnIndex]]), so
  * per-batch results are identical to the batch operator on the same
  * vectors, and under a cell router per-batch work is bounded by that
  * batch's probed cell directories (the index is never scanned whole). `foreachBatch` is the right bridge here: the
  * partition-pruning joins the indexed path relies on are per-batch
  * DataFrame plans, which a continuous stream-static join would replan
  * without the probe-side pruning.
  */
object AnnStream {

  /** Serve top-k per arriving micro-batch of `(qid, vec)` rows; `sink`
    * receives each batch's ranked results (append semantics — e.g. write
    * to parquet/kafka, or buffer in tests).
    */
  def topKPerBatch(queryStream: DataFrame, indexPath: String,
      k: Int = 10, nProbe: Int = 4)(sink: (DataFrame, Long) => Unit): StreamingQuery =
    queryStream.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          sink(Similarity.serveAnnIndex(batch, indexPath, k = k, nProbe = nProbe), batchId)
      }
      .start()
}
