package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The applied-batch ledger of the exactly-once sinks
  * ([[Streams.ledgered]] states the contract): a sidecar FILE
  * `<target>._batches` next to the target, never inside it — a target
  * published by whole-directory rename-swap
  * ([[graft.pipeline.Merge.upsert]]) would wipe an in-directory ledger
  * on every batch.
  *
  * The file holds one line, the highest applied batch id: a
  * high-water mark, the same few bytes however long the stream runs.
  * A ledger in the earlier one-id-per-line format reads as its
  * maximum, so an existing deployment carries over.
  *
  * A record rewrites the file atomically ([[graft.util.AtomicFile]]:
  * `.tmp`, then `FileContext.rename(OVERWRITE)` over the ledger).
  */
private[graft] object BatchLedger {

  private[graft] def path(target: String): String = s"$target._batches"

  /** The highest applied batch id; `Long.MinValue` when none applied. */
  def mark(spark: SparkSession, target: String): Long = {
    val p = new Path(path(target))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      text.linesIterator.map(_.trim).filter(_.nonEmpty)
        .map(_.toLong).foldLeft(Long.MinValue)(math.max)
    }
  }

  /** Make `batchId` the mark. */
  def record(spark: SparkSession, target: String, batchId: Long): Unit =
    graft.util.AtomicFile.write(spark.sparkContext.hadoopConfiguration,
      path(target))(_.write(batchId.toString.getBytes(UTF_8)))

  /** Forget every applied id: a rebuilt target takes a fresh stream
    * whose batch ids restart at 0.
    */
  def reset(spark: SparkSession, target: String): Unit = {
    val p = new Path(path(target))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    ()
  }
}
