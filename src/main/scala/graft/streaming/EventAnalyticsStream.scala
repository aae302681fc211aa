package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.ParquetTable
import graft.northstar.{BpeLearn, EventOps}

/** Streaming mirrors of the q77 funnel / q78 retention event analytics —
  * incremental `foreachBatch` maintenance of each workload's sufficient
  * statistic in a versioned [[ParquetTable]], with the SAME
  * [[EventOps]] chain/matrix code computing the answer, so batch and
  * stream can never drift semantically (the dedup/sessionize mirrors'
  * pattern). Every micro-batch atomically refreshes a result table with
  * the funnel/retention over ALL events seen so far (complete-mode
  * semantics through the table pointer flip), and both state tables stay
  * compacted:
  *
  *  - Funnel state = per (user, stage) the event times that can still
  *    matter. The per-user chain times `t_i` are monotone non-increasing
  *    as events accumulate (more events only shrink each stage's
  *    first-qualifying min), so a stage-i time STRICTLY ABOVE the current
  *    `t_i` can never become a future `t_i` — it is dropped each batch.
  *    Kept: times ≤ `t_i` (they stay reachable if an earlier stage's time
  *    later drops) and all times of still-unreached stages. State is
  *    bounded by each user's pre-conversion activity; a production
  *    deployment would additionally bound it with a conversion-window
  *    TTL, the standard funnel contract.
  *  - Retention state = distinct (user, Monday-of-week) rows — bounded by
  *    users × active weeks, no compaction needed beyond distinct.
  *
  * Out-of-order and replayed events are absorbed exactly: both statistics
  * are set-valued (distinct unions), so arrival order and duplicates
  * cannot change the refreshed answer.
  */
object EventAnalyticsStream {

  /** Incremental q77: refresh `result` with the full-history funnel each
    * micro-batch; `state` holds the compacted (user, stage, ts) set.
    */
  def funnelStream(events: DataFrame, idCol: String, typeCol: String,
      tsCol: String, stages: Seq[String], state: ParquetTable,
      result: ParquetTable): StreamingQuery = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val incoming = batch.toDF()
          .filter(col(typeCol).isin(stages: _*))
          .select(col(idCol), col(typeCol), col(tsCol))
          .distinct() // MIN-based chain: duplicate events carry nothing
        // cached: the merged state feeds BOTH the chain computation and
        // the compaction join, and perUser feeds both writes — without
        // the cache each write re-runs the window cascade over the full
        // state
        val all =
          (if (state.exists) state.read(s).unionByName(incoming)
           else incoming).distinct().cache()
        try {
          val perUser = EventOps
            .stageTimes(all, idCol, typeCol, tsCol, stages).cache()
          try {
            // drop every stage-i time strictly above the current t_i — it
            // can never be a future first-qualifying time (monotonicity,
            // above)
            val stillRelevant = stages.indices.map { i =>
              col(typeCol) === stages(i) &&
                (col(s"__t$i").isNull || col(tsCol) <= col(s"__t$i"))
            }.reduce(_ || _)
            val compacted = all.join(perUser, Seq(idCol))
              .filter(stillRelevant)
              .select(col(idCol), col(typeCol), col(tsCol))
            // Writes may lazily re-scan the PRIOR state version (old
            // versions stay readable through the pointer flip, and the
            // cache is not pinned), so all overwrites run BEFORE the
            // vacuums; vacuuming then bounds disk at ~2 versions per
            // table instead of one per micro-batch forever. State and
            // result are derived, rebuildable data — the same retention
            // call IvfIndex.persist makes. Replay safety needs no
            // checkpointed offsets: both statistics are set-valued, so a
            // re-delivered batch is absorbed by the distinct.
            result.overwrite(EventOps.funnelRollup(perUser, idCol, stages))
            state.overwrite(compacted)
          } finally perUser.unpersist()
        } finally all.unpersist()
        state.vacuum(); result.vacuum()
        ()
      }
      .start()
  }

  /** Incremental q78: refresh `result` with the full-history cohort
    * matrix each micro-batch; `state` holds distinct (user, week) rows.
    */
  def retentionStream(events: DataFrame, idCol: String, tsCol: String,
      state: ParquetTable, result: ParquetTable): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val incoming = EventOps.userWeeks(batch.toDF(), idCol, tsCol)
        // cached: cohortMatrix scans the user-week set twice (cohorts +
        // active sides) and the state write scans it again
        val all =
          (if (state.exists) state.read(s).unionByName(incoming)
           else incoming).distinct().cache()
        try {
          // result first — its plan may re-scan the prior state version,
          // which the vacuums below delete (see funnelStream)
          result.overwrite(EventOps.cohortMatrix(all, idCol))
          state.overwrite(all)
        } finally all.unpersist()
        state.vacuum(); result.vacuum()
        ()
      }
      .start()

  /** Incremental q86: maintain the per-(event_type, day) HLL sketch table
    * and refresh the per-type distinct-users rollup each micro-batch.
    * Sketches are the ideal streamed statistic: inserting a user is
    * idempotent (the same value drives the same register) and union is a
    * register-wise max, so replayed/duplicate deliveries are absorbed
    * exactly like the funnel/retention set-valued state — and
    * equal-config union is lossless in the sparse-sketch regime the
    * mirrored corpus sits in, so the streamed estimate EQUALS the batch
    * q86 over the same events there (at dense-HLL cardinalities the
    * union composition diverges sub-percent — see q86SketchRollup). Per
    * micro-batch the raw events are touched ONCE (the incoming partial);
    * everything else is sketch-sized.
    */
  def sketchRollupStream(events: DataFrame, state: ParquetTable,
      result: ParquetTable): StreamingQuery =
    events.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        // the per-batch partial and the rollup are the SAME EventOps code
        // q86 runs, so batch and stream cannot drift on the day
        // derivation or rollup shape
        val incoming = EventOps.dailyUserSketches(batch.toDF())
        // cached: the rollup and the state write both read the merged
        // sketch table (days × types rows — KBs)
        val merged =
          (if (state.exists) state.read(s).unionByName(incoming)
           else incoming)
            .groupBy(col("event_type"), col("day"))
            .agg(hll_union_agg(col("sk")).as("sk"))
            .cache()
        try {
          // result first — its plan may re-scan the prior state version,
          // which the vacuums below delete (see funnelStream)
          result.overwrite(EventOps.distinctUsersRollup(merged))
          state.overwrite(merged)
        } finally merged.unpersist()
        state.vacuum(); result.vacuum()
        ()
      }
      .start()

  /** Incremental q88: maintain corpus-wide BPE piece statistics from a
    * document stream and re-learn the merge table each micro-batch —
    * tokenizer-statistics maintenance over a continuous crawl. Unlike the
    * other mirrors' statistics, COUNTS are not idempotent under replay,
    * so the absorption marker (seen doc ids) and the counted statistic
    * (per-batch piece partials) must advance TOGETHER or not at all — a
    * marker and counts in separate tables would leave a crash window
    * that double- or under-counts a replayed batch forever. Both
    * therefore live in ONE append-only `log` table (doc-marker rows +
    * piece-partial rows, disjoint by null pattern), committed per batch
    * with a single atomic [[ParquetTable.appendVersion]] — O(batch)
    * write volume (existing log files are hard-linked, never rewritten),
    * and counts are distributive so the log IS the sufficient statistic:
    * vocab = groupBy-sum over piece rows. An all-replay batch commits
    * nothing, like [[IndexStream.ivfAppendStream]] (contract: `idCol`
    * uniquely identifies a document and re-sends carry identical text).
    * Per micro-batch the raw documents are touched once
    * ([[BpeLearn.pieceCounts]], the SAME code as q88's corpus stage) and
    * the vocab rollup reads the log, not the corpus. `result` is derived
    * and rebuilt per batch, so its non-atomicity with the log is
    * harmless — a crash between the two leaves a stale merge table that
    * the next batch refreshes. Log maintenance at scale is
    * [[ParquetTable.compact]], the same hook every versioned table uses.
    */
  def bpeStatsStream(docs: DataFrame, idCol: String, textCol: String,
      pattern: String, vocabCap: Int, numMerges: Int, log: ParquetTable,
      result: ParquetTable): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        absorbPieceBatch(batch.toDF(), idCol, textCol, pattern, log)
        // derived: recompute the merge table from the log's piece rows
        // (runs even on an all-replay batch — cheap, and heals a crash
        // that landed the log but not the result). Guarded on the log
        // existing: a FIRST batch with zero fresh rows (a no-data
        // trigger) has not created it yet, and an unguarded read would
        // kill the stream.
        if (log.exists) {
          val vocab = BpeLearn.topVocab(
            log.read(s).filter(col("piece").isNotNull)
              .groupBy(col("piece")).agg(sum(col("weight")).as("weight")),
            vocabCap)
          result.overwrite(
            BpeLearn.mergesToDF(s, BpeLearn.learnMerges(vocab, numMerges)))
          log.vacuum(); result.vacuum()
        }
        ()
      }
      .start()

  /** Absorb one micro-batch into the shared doc-marker + piece-partial
    * log (the [[bpeStatsStream]] crash-safety design: marker and counted
    * statistic advance together in ONE atomic append). Returns whether
    * the log advanced — false for an all-replay batch.
    */
  /** Returns whether the absorbed delta carried at least one PIECE row
    * (false when nothing fresh landed, or when every fresh doc tokenized
    * to zero pieces — all-empty texts): the unigram mirror keys its
    * skip-the-EM optimization on it, since a doc-marker-only advance
    * leaves the piece rollup (and therefore the trained model) unchanged.
    */
  private def absorbPieceBatch(batch: DataFrame, idCol: String,
      textCol: String, pattern: String, log: ParquetTable): Boolean = {
    val s = batch.sparkSession
    // cached: feeds the emptiness probe, the piece count, and the
    // doc-marker rows of the delta
    val fresh = {
      val b = batch.select(col(idCol), col(textCol))
        .dropDuplicates(idCol) // in-batch re-sends
      (if (log.exists)
         b.join(log.read(s).filter(col("__doc_id").isNotNull)
             .select(col("__doc_id").as(idCol)),
           Seq(idCol), "left_anti")
       else b).cache()
    }
    try {
      if (fresh.isEmpty) false
      else {
        // batch-sized; persisted because it feeds both the delta write
        // and the had-pieces probe below
        val pieces = BpeLearn.pieceCounts(fresh, textCol, pattern).persist()
        try {
          val delta = fresh
            .select(col(idCol).as("__doc_id"),
              lit(null).cast("string").as("piece"),
              lit(null).cast("long").as("weight"))
            .unionByName(pieces
              .select(lit(null).cast("long").as("__doc_id"),
                col("piece"), col("weight")))
          if (log.exists) log.appendVersion(delta) else log.overwrite(delta)
          !pieces.isEmpty
        } finally { pieces.unpersist(); () }
      }
    } finally { fresh.unpersist(); () }
  }

  /** The marker key tying a trained unigram model to the log version it
    * was trained from (see [[unigramStatsStream]]).
    */
  private val BuiltFromKey = "log"

  /** Incremental q113: maintain the unigram-LM tokenizer from a document
    * stream — [[bpeStatsStream]]'s log-maintenance shape (the word table
    * IS the same doc-marker + piece-partial log; `BpeLearn.pieceCounts`
    * is literally shared, so the streamed and batch word tables cannot
    * drift) with the q113 training schedule as the derived step. One
    * deliberate difference from the BPE mirror: training runs EM rounds,
    * which is NOT worth repeating when nothing changed, so every model
    * commit carries the log version it was trained from as its marker
    * ([[ParquetTable.applied]]; no marker → retrain, never a wrong
    * model) and an all-replay batch SKIPS retraining entirely — zero
    * version churn on pure replay, O(batch) otherwise plus the
    * capped-vocab training loop. Training determinism (UnigramLm's integer micro-unit EM)
    * makes streamed ≡ batch an EXACT equality, spec-pinned.
    */
  def unigramStatsStream(docs: DataFrame, idCol: String, textCol: String,
      pattern: String, wordCap: Int, targetVocab: Int, maxLen: Int,
      seedSize: Int, emIters: Int, log: ParquetTable,
      result: ParquetTable): StreamingQuery =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val s = batch.sparkSession
        val prevV = if (log.exists) Some(log.version) else None
        val hadPieces =
          absorbPieceBatch(batch.toDF(), idCol, textCol, pattern, log)
        val builtFrom = result.applied.get(BuiltFromKey)
        // retrain ONLY when a log exists at all (a first no-fresh batch
        // has not created it) AND it advanced past the model's vintage
        // (a model without a marker reads builtFrom None → retrain)
        if (log.exists && !builtFrom.contains(log.version)) {
          val marker = Map(BuiltFromKey -> log.version)
          // a doc-marker-only advance (fresh docs whose texts tokenized
          // to ZERO pieces) leaves the piece rollup unchanged, so the
          // deterministic EM would reproduce the model bit-identically —
          // skip the wasted training and just rewrite the (vocabulary-
          // sized) model under the new log vintage. Only sound when the
          // model was CURRENT before this batch (builtFrom == prevV); a
          // stale or unmarked model still takes the retrain path.
          if (!hadPieces && prevV.isDefined && builtFrom == prevV)
            result.overwrite(result.read(s), marker)
          else {
            val words = BpeLearn.topVocabPlan(
              log.read(s).filter(col("piece").isNotNull)
                .groupBy(col("piece")).agg(sum(col("weight")).as("weight")),
              wordCap).persist()
            try {
              words.count() // EM iterates; never recompute the rollup
              val model = graft.northstar.UnigramLm.train(words, targetVocab,
                maxLen, seedSize, emIters)
              result.overwrite(
                graft.northstar.UnigramLm.modelToDF(s, model), marker)
            } finally { words.unpersist(); () }
          }
        }
        log.vacuum(); result.vacuum()
        ()
      }
      .start()
}
