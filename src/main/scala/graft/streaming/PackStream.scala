package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.ParquetTable
import graft.northstar.SeqPack

/** Streaming sequence-packing maintenance — the mirror that closes q98's
  * loop: documents stream in, and the packed-corpus table (doc →
  * training-sequence assignment) stays current without ever repacking
  * the whole corpus.
  *
  * Packing is ORDER-SENSITIVE within a bucket (greedy in doc_id order),
  * so it is not insert-monotone: a late-arriving document with a
  * mid-bucket id legitimately REASSIGNS its bucket-mates' sequences.
  * The maintenance grain is therefore the BUCKET — exactly the
  * incremental-recompute granularity [[SeqPack]]'s bucket independence
  * buys: per micro-batch, only the buckets TOUCHED by genuinely-new
  * documents are repacked (a partition-PRUNED read of the doc log), and
  * the packed table commits via
  * [[ParquetTable.replacePartitions]] — the touched partitions are
  * rewritten, every other partition's files ride along as hard links.
  * Per trigger the WRITE work is O(batch + touched-bucket docs), never
  * O(corpus); the replay probe rides a [[ReplayGate]] Bloom filter of
  * logged ids, so the probe READ is O(batch + FP) rows too — the
  * full-corpus id scan only happens once, seeding the filter for a log
  * that pre-dates the gate.
  *
  * Replay/duplicate absorption follows the set-valued contract of the
  * other mirrors: new docs are anti-joined against the LOG (the
  * seen-marker and the packing input are the same table, so they cannot
  * desynchronize; the Bloom filter only PRUNES that anti-join — see
  * [[ReplayGate]]'s superset contract for why a filter false positive is
  * harmless while the write ordering matters); an all-replay batch
  * touches no bucket and commits no version to either table.
  *
  * CRASH RECOVERY is self-healing, the GoldMaintenance marker pattern:
  * every packed commit carries the log version it reflects as its
  * maintenance marker ([[ParquetTable.applied]]). A crash between
  * `log.appendVersion` and the packed commit would otherwise diverge
  * permanently — on restart the replayed batch anti-joins to zero fresh
  * docs against the already-committed log, so the touched buckets would
  * never be repacked. So every trigger FIRST compares the marker to the
  * log's live version and repacks the buckets touched by any unapplied
  * log versions (via the log's CDF — the log is insert-only, so the
  * changes are exactly the late docs) before processing the batch;
  * repacking a bucket is idempotent (it recomputes from the log slice),
  * so the half-applied and replayed cases land on the same state as the
  * no-crash run.
  *
  * StreamingSpec proves stream ≡ batch repack across out-of-order and
  * replayed batches, plus the crash-window laws.
  */
object PackStream {

  /** The marker key holding the log version the packed table reflects. */
  private val LogKey = "log"

  private def bloomFile(log: ParquetTable) =
    java.nio.file.Paths.get(log.path, ReplayGate.BloomFile)

  /** Maintain `log` (the accumulated docs, bucket-partitioned) and
    * `packed` (per-doc sequence assignments, bucket-partitioned) from a
    * stream of (doc_id, text) rows. Both tables are created on first
    * data. `expectedIds` sizes the replay-gate Bloom filter (saturation
    * degrades pruning, never correctness — see [[ReplayGate]]).
    */
  def packingStream(docs: DataFrame, log: ParquetTable, packed: ParquetTable,
      budget: Int, bucketSize: Int,
      expectedIds: Long = 4L * 1024 * 1024,
      expectedBatch: Long = ReplayGate.DefaultProbeBatch): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        // self-heal any half-applied previous trigger BEFORE this batch
        recover(s, log, packed, budget, bucketSize)
        val incoming = batch.toDF()
          .select(col("doc_id").cast("long").as("doc_id"), col("text"),
            expr(s"CAST(doc_id AS BIGINT) DIV $bucketSize").as("bucket"))
          .dropDuplicates("doc_id") // in-batch re-sends
        val sketch = ReplayGate.probeSketch(incoming, "doc_id", expectedBatch)
        val bloom = ReplayGate.loadOrSeed(bloomFile(log),
          () => if (log.exists) Some(log.read(s).select(col("doc_id")))
                else None,
          "doc_id", expectedIds)
        // always gated: a not-yet-created log yields an empty filter, so
        // every id is definitely-unseen and the log reader (which would
        // throw on the missing table) is never invoked
        val fresh = ReplayGate.freshRows(incoming, "doc_id", Some(bloom),
            Some(sketch), () => log.read(s).select(col("doc_id")))
          .persist()
        try {
          val n = fresh.count()
          if (n > 0) {
            // filter BEFORE log: a crash in between strands false
            // positives (harmless), never log-ids missing from the
            // filter (the replay-duplicating direction)
            ReplayGate.commitToFilter(bloomFile(log), bloom, fresh,
              "doc_id", n, expectedIds,
              () => if (log.exists) Some(log.read(s).select(col("doc_id")))
                    else None)
            if (log.exists) log.appendVersion(fresh)
            else log.overwrite(fresh)
            val touched = fresh.select(col("bucket")).distinct()
              .collect().map(_.getLong(0)).toIndexedSeq
            repackBuckets(s, log, packed, touched, budget, bucketSize)
            ()
          }
        } finally {
          fresh.unpersist()
          ()
        }
      }
      .start()

  /** Repack `touched` buckets from the (partition-pruned) log slice and
    * commit them via replacePartitions, marked with the log version the
    * packed table now reflects. Idempotent: recomputes from the log, so
    * running it twice for the same versions lands on the same bytes.
    * `touched` is non-empty on every path: the log commits only
    * non-empty batches, and every logged doc has a bucket.
    */
  private def repackBuckets(s: SparkSession, log: ParquetTable,
      packed: ParquetTable, touched: Seq[Long], budget: Int,
      bucketSize: Int): Unit = {
    // partition-pruned: only the touched buckets are re-read
    val slice = log.read(s)
      .filter(col("bucket").isin(touched.map(Long.box): _*))
    val repacked = SeqPack
      .packGreedy(slice, "doc_id", "text", budget, bucketSize)
      .toDF()
      .select(col("doc_id"), col("seq"), col("n_tokens"),
        col("bucket")) // partition column last, Spark convention
    val marker = Map(LogKey -> log.version)
    if (packed.exists) packed.replacePartitions(repacked, marker)
    else packed.overwrite(repacked, marker)
  }

  /** The log version the packed table reflects, if recorded. */
  private[graft] def appliedLogVersion(packed: ParquetTable): Option[Int] =
    packed.applied.get(LogKey)

  /** Bring `packed` current with `log` — the self-healing pass run at
    * the top of every trigger (and callable standalone after a crash).
    * No log → nothing to heal; marker == live log version → no-op (the
    * steady-state cost is a pointer read and a record read). Behind →
    * repack exactly the buckets the unapplied log versions touched
    * (insert-only log, so its CDF between the two versions IS the late
    * docs). A packed table or marker that does not exist yet (the
    * first-trigger crash window) falls back to
    * repacking every bucket in the log — the one full repack, after
    * which the marker exists.
    */
  private[graft] def recover(s: SparkSession, log: ParquetTable,
      packed: ParquetTable, budget: Int, bucketSize: Int): Unit = {
    if (!log.exists) return
    val logV = log.version
    appliedLogVersion(packed) match {
      case Some(v) if v == logV => ()
      case Some(v) =>
        val touched = log.changesBetween(s, v, logV)
          .select(col("bucket")).distinct().collect()
          .map(_.getLong(0)).toIndexedSeq
        repackBuckets(s, log, packed, touched, budget, bucketSize)
      case None =>
        val touched = log.read(s).select(col("bucket")).distinct()
          .collect().map(_.getLong(0)).toIndexedSeq
        repackBuckets(s, log, packed, touched, budget, bucketSize)
    }
  }
}
