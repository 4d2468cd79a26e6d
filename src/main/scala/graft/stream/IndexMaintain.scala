package graft.stream

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.text.{IvfIndex, LshIndex}

/** Streaming maintenance of the TEXT indexes (VERDICT r15 #6 — the
  * t18/CcMaintain `foreachBatch` pattern applied to the standing dedup /
  * vector artifacts): a curation pipeline's ingest loop receives SIGNED
  * micro-batches — arrivals carrying payload, erasures carrying ids (the
  * t17c/g69 signed-fold convention) — and folds each into the PERSISTED
  * index directories with the artifacts' own maintenance verbs:
  *
  *   - [[LshIndex.appendTo]] / [[LshIndex.removeFrom]] for the dedup
  *     bucket table (sketch only the batch; erasure rewrites only touched
  *     shards),
  *   - [[IvfIndex.appendTo]] / [[IvfIndex.removeFrom]] for the vector
  *     store (assign against the standing centroids; bucket-local
  *     erasure).
  *
  * WITHIN-BATCH ORDER: erasures apply FIRST, then arrivals — so a doc id
  * that is erased and re-ingested in the SAME micro-batch lands in its
  * new form (upsert semantics), matching the fold-over-time order of the
  * same events split across batches. Replay posture: the ERASURE leg is
  * idempotent on its own (unknown ids touch nothing — the g69/l47c
  * contract); the APPEND leg, like any file-appending sink, relies on the
  * standard foreachBatch exactly-once discipline — the caller skips
  * batchIds it has already committed.
  *
  * Quantizer/codebook drift from accumulated arrivals stays the periodic
  * refit's job ([[IvfIndex.refreshSampled]] / [[Pq.model]] + [[Pq.save]]) — the
  * ingest path never refits, which is exactly what makes it cheap:
  * per batch the work is ∝ batch (one sketch/assign/encode pass + an
  * erasure's touched-shard rewrites), never ∝ index.
  *
  * StreamingSpec proves the cross-batch contract end to end: after a feed
  * of arrivals and erasures split across micro-batches, the maintained
  * LshIndex probes IDENTICALLY to a from-scratch build over the surviving
  * docs, and the maintained IvfIndex's assignments equal a one-pass
  * assignment of the surviving vectors against the standing centroids
  * (the append contract — centroid refresh is a refit concern, above).
  */
object IndexMaintain {

  /** Fold one signed micro-batch of documents into a persisted
    * [[LshIndex]] directory. `batch` carries (doc_id, text, erased);
    * erased rows' text is ignored. Erasures first (see object doc). */
  def applyDocBatch(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    applySigned(batch, "doc_id", "text")(
      LshIndex.removeFrom(spark, dir, _), LshIndex.appendTo(spark, dir, _))

  /** Fold one signed micro-batch of vectors into a persisted
    * [[IvfIndex]] directory. `batch` carries (vec_id, embedding, erased);
    * erased rows' embedding is ignored. */
  def applyVecBatch(spark: SparkSession, dir: String, batch: DataFrame): Unit =
    applySigned(batch, "vec_id", "embedding")(
      IvfIndex.removeFrom(spark, dir, _), IvfIndex.appendTo(spark, dir, _))

  /** The signed-batch fold under every index: the erased ids go to
    * `remove`, then the arrivals' (id, payload) to `append`, each leg only
    * when the batch holds rows for it. The two emptiness checks are limit-1
    * probes: on a driver-local batch (a Seq turned DataFrame) Spark answers
    * them on the driver with no job, and on a distributed batch each is one
    * job. One aggregate deciding both legs runs two jobs on either kind
    * under AQE (its exchange's and its result's). */
  private def applySigned(batch: DataFrame, id: String, payload: String)(
      remove: DataFrame => Any, append: DataFrame => Unit): Unit = {
    val erase = batch.filter(col("erased")).select(col(id))
    val arrivals = batch.filter(!col("erased")).select(col(id), col(payload))
    if (!erase.isEmpty) remove(erase)
    if (!arrivals.isEmpty) append(arrivals)
  }
}

/** Signed document event for the ingest feed (erased=true ⇒ text unused). */
case class DocEvent(doc_id: Long, text: String, erased: Boolean)

/** Signed vector event for the ingest feed (erased=true ⇒ embedding unused). */
case class VecEvent(vec_id: Long, embedding: Seq[Double], erased: Boolean)
