package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

/** The per-trigger skeleton the five published-index dedup probes share
  * (text [[NearDupStream]], embedding [[EmbedNearDupStream]], image
  * [[ImageDedupStream]], audio [[AudioDedupStream]], video
  * [[VideoDedupStream]]): each trigger pins its decoded microbatch, takes
  * the broadcast gate on its row count, runs its own index join, and
  * releases the pin on exit, so a long-running stream holds no cache
  * growth across triggers. Each modality keeps only its decoder and its
  * index join — the joins differ (band-then-doc verify, bucket cosine,
  * banded Hamming, exact group equality), so they are not merged here.
  *
  * This is the partition-range read discipline the reference applies to
  * its per-reducer fetches (Ors2ShuffleManager.scala:213-262): a trigger
  * below the gate reads only the index partitions its keys derive. */
private[streaming] object ProbeStream {

  /** One trigger's broadcast gate over its pinned batch: `rows` is the
    * batch count (taken once), `small` selects the pruned index read and
    * `hint` broadcasts a batch-sized frame only when `small`. */
  final case class Gate(rows: Long, small: Boolean,
      hint: DataFrame => DataFrame)

  /** Run `f` with `df` persisted ([[graft.Caching.persist]]) and release
    * it on exit, however `f` ends. */
  def pinned[T](df: DataFrame)(f: DataFrame => T): T = {
    val p = graft.Caching.persist(df)
    try f(p) finally p.unpersist()
  }

  /** The per-trigger loan: pin `batch`, count it once for the
    * [[graft.sources.VectorIndex.batchGate]] decision, run `probe` and
    * unpin. Above `broadcastRowLimit` (a backlog catch-up trigger after
    * downtime) `small` is false and `hint` is the identity, so the probe
    * falls through to the planner's shuffle join over the full index
    * instead of failing on Spark's broadcast limits. */
  def loan[T](batch: DataFrame, broadcastRowLimit: Long)
      (probe: (DataFrame, Gate) => T): T =
    pinned(batch) { b =>
      val n = b.count()
      val (small, hint) =
        graft.sources.VectorIndex.batchGate(None, n, broadcastRowLimit)
      probe(b, Gate(n, small, hint))
    }

  /** The `writeStream.foreachBatch` body running `probe` on every
    * trigger and handing its rows to `sink`. Cross-trigger re-emission
    * of a match is the sink's concern, under foreachBatch's usual
    * idempotent-by-batchId contract. */
  def foreachBatch(sink: DataFrame => Unit)(
      probe: (DataFrame, DataFrame => Unit) => Unit): (DataFrame, Long) => Unit =
    (microbatch, _) => probe(microbatch, sink)

  /** The codec stage of a media arrival frame: (ts, doc_id, payload)
    * rows decode map-side in one typed mapPartitions pass (`init` once per
    * partition, then a tight per-blob loop — not a per-row udf), giving
    * (ts, in_id, sig) with `sig` the decoder's output. */
  def decoded[A: TypeTag](s: SparkSession, microbatch: DataFrame,
      init: () => Unit = () => ())(decode: Array[Byte] => A): DataFrame = {
    import s.implicits._
    microbatch
      .select(col("ts"), col("doc_id").as("in_id"), col("payload"))
      .as[(java.sql.Timestamp, Long, Array[Byte])]
      .mapPartitions { it =>
        init()
        it.map { case (ts, id, bytes) => (ts, id, decode(bytes)) }
      }
      .toDF("ts", "in_id", "sig")
  }
}
