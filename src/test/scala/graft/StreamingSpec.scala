package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStream

/** Structured Streaming: the streaming hourly aggregation must converge to
  * the batch answer (q18), and sessionization must emit plausible sessions.
  */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly counts converge to the batch q18 result") {
    val q = EventStream.hourlyCounts(EventStream.readEvents(spark, dir))
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = TestSpark.rows(spark.table("hourly"))
    val batch = TestSpark.rows(
      SparkEntry.queries("q18_events_hourly")(spark, dir))
    assert(streamed == batch)
  }

  test("incremental ingest lands events exactly once, replay-safe") {
    val table = new graft.io.ParquetTable(
      java.nio.file.Files.createTempDirectory("graft_stream").toString + "/bronze_events")
    val expected = graft.io.Tables.read(spark, dir, "events").count()

    def runOnce(): Unit = {
      val q = EventStream.incrementalIngest(
        EventStream.readEvents(spark, dir), table, Seq("event_id"))
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(table.read(spark).count() == expected)
    // replaying the same source (fresh stream, no checkpoint) must not duplicate
    runOnce()
    assert(table.read(spark).count() == expected)
  }

  test("watermark-bounded streaming dedup drops replayed events") {
    // two independent reads of the events table unioned = every event twice
    val doubled = EventStream.readEvents(spark, dir)
      .union(EventStream.readEvents(spark, dir))
    val q = EventStream.dedupEvents(doubled)
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("deduped").count()
    val distinctIds = graft.io.Tables.read(spark, dir, "events")
      .select("event_id").distinct().count()
    assert(got == distinctIds)
  }

  test("streaming corpus intake equals the batch transform exactly") {
    import graft.streaming.CorpusStream
    val q = CorpusStream.intake(CorpusStream.readDocuments(spark, dir))
      .writeStream.format("memory").queryName("intake")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = TestSpark.rows(spark.table("intake"))
    val batch = TestSpark.rows(
      CorpusStream.intake(graft.io.Tables.read(spark, dir, "documents")))
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("streaming corpus intake lands in the warehouse exactly once, replay-safe") {
    import graft.streaming.{CorpusStream, EventStream}
    val table = new graft.io.ParquetTable(
      java.nio.file.Files.createTempDirectory("graft_corpus").toString + "/bronze_docs")
    val expected = CorpusStream
      .intake(graft.io.Tables.read(spark, dir, "documents")).count()
    def runOnce(): Unit = {
      val q = EventStream.incrementalIngest(
        CorpusStream.intake(CorpusStream.readDocuments(spark, dir)),
        table, Seq("doc_id"))
      try q.processAllAvailable() finally q.stop()
    }
    runOnce()
    assert(table.read(spark).count() == expected)
    runOnce() // replay must not duplicate (content-keyed insert-if-absent)
    assert(table.read(spark).count() == expected)
  }

  test("streaming near-dup candidates equal the batch LSH candidate pair set") {
    import graft.streaming.CorpusStream
    import graft.northstar.Dedup
    import org.apache.spark.sql.functions._
    // documents with a synthetic event time (same instant — no eviction
    // during the run, so every batch-colliding pair must also stream out)
    val docs = graft.io.Tables.read(spark, dir, "documents")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndin")
    docs.write.mode("overwrite").parquet(tmp.toString)
    val stream = spark.readStream.schema(docs.schema).parquet(tmp.toString)
    val q = CorpusStream.nearDupCandidates(stream, "doc_id", "text", "ts")
      .writeStream.format("memory").queryName("ndcand")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ndcand").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = Dedup.candidatePairs(
      Dedup.lshBands(
        Dedup.minhashSignatures(docs, "doc_id", "text", 64, 3),
        "doc_id", "__sig", 16, 4), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"stream-only=${got -- want} batch-only=${want -- got}")
    assert(want.nonEmpty)
  }

  test("streaming near-dup bucket state is evicted once the watermark passes") {
    import graft.streaming.CorpusStream
    // identical docs 6h apart, with watermark-advancing filler between:
    // the twin arriving after its bucket expired must pair with nothing
    val spark2 = spark
    import spark2.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_ndev").toString
    val dup = "the quick brown fox jumps over the lazy dog again and again"
    def rows(xs: (Long, String, String)*) = xs
      .map { case (id, t, txt) => (id, txt, java.sql.Timestamp.valueOf(t)) }
      .toDF("doc_id", "text", "ts")
    val schema = rows((0L, "2026-01-01 00:00:00", "x")).schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
    val q = CorpusStream.nearDupCandidates(stream, "doc_id", "text", "ts",
        lateness = "1 hour")
      .writeStream.format("memory").queryName("ndev")
      .outputMode("append").start()
    try {
      // batch 0: the twin pair inside one window → pair (1,2) emits
      rows((1L, "2026-01-01 00:00:00", dup), (2L, "2026-01-01 00:00:00", dup))
        .write.mode("append").parquet(tmp)
      q.processAllAvailable()
      // batch 1: filler advances max event time to 06:00 (wm still old)
      rows((3L, "2026-01-01 06:00:00", "totally different filler words one"))
        .write.mode("append").parquet(tmp)
      q.processAllAvailable()
      // batch 2: more filler runs with wm = 05:00 → the hour-0 bucket
      // (timeout 01:00) receives no data and is evicted here
      rows((5L, "2026-01-01 06:00:02", "other unrelated filler words two"))
        .write.mode("append").parquet(tmp)
      q.processAllAvailable()
      // batch 3: the late twin lands in a FRESH bucket → no pair
      rows((4L, "2026-01-01 06:00:03", dup))
        .write.mode("append").parquet(tmp)
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("ndev").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((1L, 2L)), s"same-window twin pair must emit: $out")
    assert(!out.exists { case (a, b) => a == 4L || b == 4L },
      s"doc 4 arrived after the bucket expired — no cross-window pair: $out")
  }

  test("sessionize keeps a too-old straggler out of the open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventStream.sessionize(
        in.toDF().toDF("user_id", "event_time", "value"), gapMinutes = 30)
      .writeStream.format("memory").queryName("straggler_sessions")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // above the 1 h watermark (11:00) but 40 min before the open
      // session's start — the batch mirror (q32) would never merge it
      in.addData((1L, ts("2024-01-01 11:20:00"), 1.0),
        (2L, ts("2024-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("straggler_sessions").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
    assert(u1.toSet == Set(
      (ts("2024-01-01 11:20:00"), ts("2024-01-01 11:20:00"), 1L),
      (ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L)),
      s"straggler must be its own session, got: ${u1.mkString(", ")}")
  }

  test("sessionize merges same-batch stragglers within the gap (batch parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventStream.sessionize(
        in.toDF().toDF("user_id", "event_time", "value"), gapMinutes = 30)
      .writeStream.format("memory").queryName("strag_merge_sessions")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // TWO above-watermark stragglers in ONE batch, 10 min apart — both
      // more than the 30 min gap before the open session's start. The
      // batch mirror (q32) puts them in ONE session; the stream must too.
      in.addData((1L, ts("2024-01-01 11:05:00"), 1.0),
        (1L, ts("2024-01-01 11:15:00"), 2.0),
        (2L, ts("2024-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("strag_merge_sessions").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3),
        r.getDouble(4)))
    assert(u1.toSet == Set(
      (ts("2024-01-01 11:05:00"), ts("2024-01-01 11:15:00"), 2L, 3.0),
      (ts("2024-01-01 12:00:00"), ts("2024-01-01 12:00:00"), 1L, 1.0)),
      s"same-batch stragglers within gap must merge, got: ${u1.mkString(", ")}")
  }

  test("sessionize folds a straggler into the open session once a later " +
      "in-batch event lowers the session start to within the gap") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val in = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = EventStream.sessionize(
        in.toDF().toDF("user_id", "event_time", "value"), gapMinutes = 30)
      .writeStream.format("memory").queryName("strag_fold_sessions")
      .outputMode("append").start()
    try {
      in.addData((1L, ts("2024-01-01 12:00:00"), 1.0))
      q.processAllAvailable()
      // 11:29 is >gap before the open session's start (12:00) so it first
      // lands on the straggler chain — but 11:31 then merges into the open
      // session and LOWERS its start to 11:31, only 2 min from the
      // straggler. The batch mirror (q32) produces ONE session
      // [11:29, 12:00]; the stream must fold the chain back in.
      in.addData((1L, ts("2024-01-01 11:29:00"), 1.0),
        (1L, ts("2024-01-01 11:31:00"), 2.0),
        (2L, ts("2024-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      in.addData((3L, ts("2024-01-01 20:00:00"), 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("strag_fold_sessions").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3),
        r.getDouble(4)))
    assert(u1.toSet == Set(
      (ts("2024-01-01 11:29:00"), ts("2024-01-01 12:00:00"), 3L, 4.0)),
      s"straggler within gap of the lowered start must fold into the open " +
        s"session, got: ${u1.mkString(", ")}")
  }

  test("streaming IVF append grows the persisted index to the bulk " +
      "assignment, absorbing replayed and duplicate batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.io.Tables
    import graft.northstar.{IvfIndex, Similarity}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.read(spark, dir, "embeddings")
    val rows = emb.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val (seed, rest) = rows.partition(_._1 < 300)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_stream").toString + "/idx"
    val seedIdx = IvfIndex
      .build(seed.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding",
        nlist = 8)
      .persist(spark, path)

    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.IndexStream.ivfAppendStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    try {
      val (b1, b2) = rest.partition(_._1 < 400)
      // batch 1 replays part of the seed corpus alongside new vectors,
      // and carries an in-batch duplicate
      in.addData(b1.toSeq ++ seed.take(5) :+ b1.head)
      q.processAllAvailable()
      // batch 2 replays all of batch 1 alongside the remaining vectors
      in.addData(b2.toSeq ++ b1.take(10))
      q.processAllAvailable()
      // a pure-replay batch must append nothing (no version churn)
      val vBefore = new graft.io.ParquetTable(path, Seq("cell")).version
      in.addData(b2.take(3).toSeq)
      q.processAllAvailable()
      assert(new graft.io.ParquetTable(path, Seq("cell")).version == vBefore,
        "an all-replay batch must not create a new version")
    } finally q.stop()

    val grown = IvfIndex.load(spark, path)
      .getOrElse(fail("grown index must reload"))
    // exactly one row per corpus vector, in exactly the cell the bulk
    // assignment with the seed centroids picks
    val got = grown.assigned.select("neighbor_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val ref = IvfIndex.assignToCells(
        emb.select(col("vec_id").as("neighbor_id"),
          Similarity.toDoubleVec(col("embedding")).as("__cv")),
        seedIdx.centroids.sortBy(_._1).map(_._2.toArray))
      .select("neighbor_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    assert(got == ref,
      "streamed appends must equal the bulk assignment with seed centroids")
  }

  test("a deleted-then-restreamed id is RE-ADDED, not silently dropped: " +
      "the replay gate treats tombstone-masked ids as unknown, so the " +
      "re-send reaches append, which compacts first and serves the id") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.io.Tables
    import graft.northstar.{AnnDeletes, IvfIndex, Similarity}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.read(spark, dir, "embeddings")
    val rows = emb.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivf_readd_stream").toString + "/idx"
    val seeded = IvfIndex
      .build(rows.take(200).toSeq.toDF("vec_id", "embedding"),
        "vec_id", "embedding", nlist = 4)
      .persist(spark, path)
    // takedown: tombstone vec_id 7 (stays physically in the lists —
    // below the auto-compact bound)
    val victim = rows.find(_._1 == 7L).get
    seeded.remove(spark, path, Seq(7L).toDF("vec_id"), "vec_id")
    assert(!AnnDeletes.read(spark, path).get.isEmpty)

    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.IndexStream.ivfAppendStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    try {
      // the producer re-sends the deleted id (a re-add) plus a new one
      in.addData(Seq(victim, rows.find(_._1 == 250L).get))
      q.processAllAvailable()
    } finally q.stop()

    val grown = IvfIndex.load(spark, path).get
    val masked = AnnDeletes.read(spark, path)
    assert(masked.forall(_.isEmpty),
      "the re-add must have compacted the tombstone away")
    val physical = grown.assigned.filter(col("neighbor_id") === 7L).count()
    assert(physical == 1L, "exactly one physical row for the re-added id")
    // and a search in its own direction serves it again
    val probe = Seq((9999L, victim._2)).toDF("vec_id", "embedding")
    val top = grown.search(probe, "vec_id", "embedding", k = 1, nprobe = 4)
      .select("neighbor_id").head().getLong(0)
    assert(top == 7L, "the re-added id must be findable after the stream")
  }

  test("streaming IVFADC append grows the persisted coded index to the " +
      "one-shot bulk append under the same seed model, absorbing " +
      "replayed and duplicate batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.io.Tables
    import graft.northstar.{IvfPqIndex, Similarity}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = Tables.read(spark, dir, "embeddings")
    val rows = emb.select(col("vec_id"),
        Similarity.toDoubleVec(col("embedding")).as("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val (seed, rest) = rows.partition(_._1 < 300)
    val root = java.nio.file.Files
      .createTempDirectory("graft_ivfpq_stream").toString
    val seedDf = seed.toSeq.toDF("vec_id", "embedding")
    def seedIndex(path: String): IvfPqIndex = IvfPqIndex
      .build(spark, seedDf, "vec_id", "embedding", nlist = 4, m = 4,
        ksub = 8)
      .persist(spark, path)
    val path = s"$root/idx"
    seedIndex(path)

    val in = MemoryStream[(Long, Seq[Double])]
    val q = graft.streaming.IndexStream.ivfPqAppendStream(
      in.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding", path)
    try {
      val (b1, b2) = rest.partition(_._1 < 400)
      // batch 1 replays part of the seed corpus alongside new vectors,
      // and carries an in-batch duplicate
      in.addData(b1.toSeq ++ seed.take(5) :+ b1.head)
      q.processAllAvailable()
      // batch 2 replays all of batch 1 alongside the remaining vectors
      in.addData(b2.toSeq ++ b1.take(10))
      q.processAllAvailable()
      // a pure-replay batch must append nothing (no version churn)
      val vBefore = new graft.io.ParquetTable(path, Seq("cell")).version
      in.addData(b2.take(3).toSeq)
      q.processAllAvailable()
      assert(new graft.io.ParquetTable(path, Seq("cell")).version == vBefore,
        "an all-replay batch must not create a new version")
    } finally q.stop()

    // reference: the SAME seed model (deterministic build) grown by ONE
    // bulk append of the full remainder — streamed (cell, codes) must
    // land bit-identically, one row per vector, no duplicates
    val refPath = s"$root/ref"
    val refIdx = seedIndex(refPath)
    refIdx.append(spark, refPath, rest.toSeq.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    def coded(p: String): Seq[(Long, Int, Seq[Int])] =
      new graft.io.ParquetTable(p, Seq("cell")).read(spark)
        .select("neighbor_id", "cell", "__codes").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2)))
        .sortBy(_._1).toSeq
    assert(coded(path) == coded(refPath),
      "streamed IVFADC appends must equal the one-shot bulk append " +
        "under the same train-once model")
  }

  test("streaming sketch rollup equals a direct batch sketch across " +
      "replayed batches (union losslessness end-to-end)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_sk_s").toString
    val state = new graft.io.ParquetTable(s"$tmp/state")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // two types across three days; batch 2 replays half of batch 1
    // (idempotent registers must absorb it) and adds a new day
    val b1 = Seq((1L, "view", ns("2024-01-01 10:00:00")),
      (2L, "view", ns("2024-01-01 11:00:00")),
      (3L, "click", ns("2024-01-02 09:00:00")),
      (1L, "click", ns("2024-01-02 10:00:00")))
    val b2 = Seq((2L, "view", ns("2024-01-01 11:00:00")), // replay
      (1L, "click", ns("2024-01-02 10:00:00")), // replay
      (4L, "view", ns("2024-01-03 08:00:00")),
      (2L, "click", ns("2024-01-03 09:00:00")))
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventAnalyticsStream.sketchRollupStream(
      in.toDF().toDF("user_id", "event_type", "ts"), state, result)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch mirror: distinct days + ONE direct sketch per type over the
    // DEDUPLICATED event set — equal-config union losslessness says the
    // streamed daily-partial union must land bit-equal estimates
    val batch = (b1 ++ b2).distinct.toDF("user_id", "event_type", "ts")
      .groupBy(col("event_type"))
      .agg(countDistinct(
          to_date(timestamp_micros(expr("ts DIV 1000")))).as("days"),
        hll_sketch_estimate(hll_sketch_agg(col("user_id")))
          .as("est_users"))
    assert(TestSpark.rows(result.read(spark)) == TestSpark.rows(batch))
    def versions(p: String): Int = graft.io.FsUtil
      .listDir(java.nio.file.Paths.get(p))
      .count(_.getFileName.toString.startsWith("v_"))
    assert(versions(s"$tmp/state") == 1 && versions(s"$tmp/result") == 1,
      "streamed sketch tables must keep only the live version")
  }

  test("streaming funnel equals the batch q77 funnel across out-of-order batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_funnel_s").toString
    val state = new graft.io.ParquetTable(s"$tmp/state")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    val stages = Seq("view", "click", "purchase")
    val us = 1000L // ns per µs
    // user 1 converts, but their VIEW arrives a batch AFTER the click and
    // purchase (chain only completes retroactively); user 2's click is
    // BEFORE their view (must not count); user 3 has a stray later click
    // that compaction drops without changing the answer
    val b1 = Seq((1L, "click", 2000000L * us), (1L, "purchase", 3000000L * us),
      (2L, "view", 1000000L * us), (3L, "view", 100L * us),
      (3L, "click", 200L * us))
    val b2 = Seq((1L, "view", 1000000L * us), (2L, "click", 500000L * us),
      (3L, "click", 900L * us))
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.streaming.EventAnalyticsStream.funnelStream(
      in.toDF().toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", stages, state, result)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.northstar.EventOps.funnel(
      (b1 ++ b2).toDF("user_id", "event_type", "ts"),
      "user_id", "event_type", "ts", stages)
    assert(TestSpark.rows(result.read(spark)) == TestSpark.rows(batch))
    // state stayed compacted: user 3's 900µs click exceeds their t_1=200µs
    val st = state.read(spark).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(!st.contains((3L, "click", 900L * us)),
      s"irrelevant later click must be compacted away, state: $st")
    // per-batch vacuum bounds disk: versions must NOT grow one per batch
    def versions(p: String): Int = graft.io.FsUtil
      .listDir(java.nio.file.Paths.get(p))
      .count(_.getFileName.toString.startsWith("v_"))
    assert(versions(s"$tmp/state") == 1 && versions(s"$tmp/result") == 1,
      "streamed state/result tables must keep only the live version")
  }

  test("streaming retention equals the batch q78 cohorts across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_ret_s").toString
    val state = new graft.io.ParquetTable(s"$tmp/state")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    def ns(s: String): Long =
      java.sql.Timestamp.valueOf(s).getTime * 1000000L
    // user 1's cohort week MOVES EARLIER in batch 2 (late arrival);
    // user 2 is active across two weeks; replayed row absorbed
    val b1 = Seq((1L, ns("2024-01-10 12:00:00")), (2L, ns("2024-01-03 08:00:00")),
      (2L, ns("2024-01-10 09:00:00")))
    val b2 = Seq((1L, ns("2024-01-02 10:00:00")), (2L, ns("2024-01-03 08:00:00")))
    val in = MemoryStream[(Long, Long)]
    val q = graft.streaming.EventAnalyticsStream.retentionStream(
      in.toDF().toDF("user_id", "ts"), "user_id", "ts", state, result)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val batch = graft.northstar.EventOps.retentionCohorts(
      (b1 ++ b2).toDF("user_id", "ts"), "user_id", "ts")
    assert(TestSpark.rows(result.read(spark)) == TestSpark.rows(batch))
  }

  test("sessionize emits gap-separated sessions per user") {
    val q = EventStream.sessionize(EventStream.readEvents(spark, dir), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val sessions = spark.table("sessions").collect()
    // with event-time timeouts, sessions only close once the watermark
    // passes; a single static batch closes sessions via the final watermark
    assert(sessions.nonEmpty)
    assert(sessions.forall(r =>
      !r.getTimestamp(1).after(r.getTimestamp(2)) && r.getLong(3) >= 1))
  }

  test("streaming BPE stats equal the batch merge table, absorbing a " +
      "replayed batch exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{col, sum}
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_bpe_s").toString
    val log = new graft.io.ParquetTable(s"$tmp/log")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    val pat = graft.queries.NorthStarQueries.BpePiecePattern
    val b1 = Seq((1L, "low low low lower"), (2L, "newest newest widest"))
    val b2 = Seq((3L, "Newest newest newest newest widest widest"),
      (4L, "low low lower"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.EventAnalyticsStream.bpeStatsStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", pat,
      vocabCap = 100, numMerges = 6, log, result)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      val vAfterB1 = log.version
      in.addData(b1: _*); q.processAllAvailable() // full replay of batch 1
      // an all-replay batch must not commit a log version (absorption)
      assert(log.version === vAfterB1)
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch mirror over the DEDUPLICATED corpus: same pieceCounts code,
    // same capped-vocab selection, same merge loop
    val docs = (b1 ++ b2).toDF("doc_id", "text")
    val vocab = graft.northstar.BpeLearn.topVocab(
      graft.northstar.BpeLearn.pieceCounts(docs, "text", pat), 100)
    val expected = graft.northstar.BpeLearn.learnMerges(vocab, 6)
      .map(m => (m.rank, m.left, m.right, m.weight, m.token))
    val got = result.read(spark).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getString(4)))
      .sortBy(_._1).toSeq
    assert(got === expected)
    // the replayed batch must not have double-counted any piece: the
    // log's aggregated piece rows equal the batch pipeline's counts
    val logCounts = log.read(spark).filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("weight")).as("weight"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(logCounts === vocab.toMap)
    // the maintained log drives the OTHER tokenizer family with zero new
    // maintenance code: unigram training over the log's aggregated piece
    // table is bit-identical to training on the batch word table — the
    // trainer's integer micro-unit EM makes this an exact equality, not
    // a tolerance (replay double-counts or drifted weights would shift
    // expected counts and break it)
    val logWords = log.read(spark).filter(col("piece").isNotNull)
      .groupBy(col("piece")).agg(sum(col("weight")).as("weight"))
    val batchWords = graft.northstar.BpeLearn.pieceCounts(docs, "text", pat)
    val mStream = graft.northstar.UnigramLm.train(logWords,
      targetVocab = 12, maxLen = 4, seedSize = 40)
    val mBatch = graft.northstar.UnigramLm.train(batchWords,
      targetVocab = 12, maxLen = 4, seedSize = 40)
    assert(mStream.logp === mBatch.logp)
  }

  test("streaming unigram-LM stats equal the batch-trained model " +
      "exactly; a pure-replay batch retrains NOTHING (zero version " +
      "churn on log AND model)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_uni_s").toString
    val log = new graft.io.ParquetTable(s"$tmp/log")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    val pat = graft.queries.NorthStarQueries.BpePiecePattern
    val b1 = Seq((1L, "low low low lower"), (2L, "newest newest widest"))
    val b2 = Seq((3L, "newest newest newest widest widest wider"),
      (4L, "low low lower news"))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.EventAnalyticsStream.unigramStatsStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", pat,
      wordCap = 100, targetVocab = 12, maxLen = 4, seedSize = 40,
      emIters = 2, log, result)
    try {
      in.addData(b1: _*); q.processAllAvailable()
      val (lv, rv) = (log.version, result.version)
      in.addData(b1: _*); q.processAllAvailable() // full replay of batch 1
      // replay absorbs: no log commit AND no retrain/model rewrite —
      // the model's log-version marker proves the EM loop never ran
      assert(log.version === lv, "replay must not advance the log")
      assert(result.version === rv, "replay must not rewrite the model")
      in.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    // batch mirror: the q113 schedule over the deduplicated corpus —
    // integer micro-unit EM makes streamed ≡ batch an EXACT equality
    val docs = (b1 ++ b2).toDF("doc_id", "text")
    val words = graft.northstar.BpeLearn.topVocabPlan(
      graft.northstar.BpeLearn.pieceCounts(docs, "text", pat), 100)
    val mBatch = graft.northstar.UnigramLm.train(words,
      targetVocab = 12, maxLen = 4, seedSize = 40)
    val got = result.read(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === mBatch.logp)
  }

  test("streaming BM25 stats maintenance equals the batch stage: scoring " +
      "over the maintained table reproduces Bm25.topK across replayed " +
      "and duplicate batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import graft.northstar.Bm25
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val queries = graft.queries.NorthStarQueries.Bm25Queries
    val terms = queries.flatMap(_._2).distinct.sorted
    val docs = graft.io.Tables.read(spark, dir, "documents")
      .select(col("doc_id"), col("text"))
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val (b1, b2) = rows.partition(_._1 < 30)
    val table = new graft.io.ParquetTable(java.nio.file.Files
      .createTempDirectory("graft_bm25_s").toString + "/stats")
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.RetrievalStream.statsIntakeStream(
      in.toDF().toDF("doc_id", "text"), table, "doc_id", "text", terms)
    try {
      // batch 1 carries an in-batch duplicate
      in.addData(b1.toSeq :+ b1.head)
      q.processAllAvailable()
      // batch 2 replays part of batch 1 alongside the rest of the corpus
      in.addData(b2.toSeq ++ b1.take(5))
      q.processAllAvailable()
      // a pure-replay batch must commit no stats version
      val vBefore = table.version
      in.addData(b1.take(2).toSeq)
      q.processAllAvailable()
      assert(table.version == vBefore,
        "an all-replay batch must not create a stats version")
    } finally q.stop()
    // law 1: the maintained table IS the batch stage-1 aggregate
    assert(TestSpark.rows(table.read(spark)) ==
      TestSpark.rows(Bm25.docTermStats(docs, "doc_id", "text", terms)))
    // law 2: scoring over the maintained table ≡ the batch pipeline
    val want = Bm25.topK(docs, "doc_id", "text", queries, 10)
    assert(TestSpark.rows(
      Bm25.scoreAndRank(table.read(spark), queries, 10)) ==
      TestSpark.rows(want))
    assert(want.count() > 0)
    want.unpersist()
  }

  test("streaming sequence packing equals the batch repack across " +
      "out-of-order and replayed batches, rewriting only touched buckets") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import graft.io.ParquetTable
    import graft.northstar.SeqPack
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_packstream")
    val log = new ParquetTable(s"$tmp/log", partitionColumns = Seq("bucket"))
    val packed =
      new ParquetTable(s"$tmp/packed", partitionColumns = Seq("bucket"))
    // 3 buckets (bucketSize 16) of docs with varied token counts
    val all = (0L until 48L).map(i =>
      (i, Seq.fill(1 + (i * 7 % 23).toInt)("w").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.PackStream.packingStream(
      in.toDF().toDF("doc_id", "text"), log, packed,
      budget = 40, bucketSize = 16)
    try {
      // batch 1: bucket 0 partially + all of bucket 2 (out of order)
      in.addData(all.filter(d => d._1 < 8 || d._1 >= 32))
      q.processAllAvailable()
      val v1 = packed.version
      // batch 2: the REST of bucket 0 (mid-bucket late arrivals repack
      // bucket 0) + bucket 1 + a replay of some batch-1 docs
      in.addData(all.filter(d => d._1 >= 8 && d._1 < 32) ++ all.take(3))
      q.processAllAvailable()
      assert(packed.version > v1)
      // a pure-replay batch commits nothing to either table
      val (lv, pv) = (log.version, packed.version)
      in.addData(all.take(5))
      q.processAllAvailable()
      assert(log.version == lv && packed.version == pv,
        "an all-replay batch must not create versions")
    } finally q.stop()
    // final packed table ≡ one batch repack over the whole corpus
    val got = packed.read(spark)
      .select("doc_id", "bucket", "seq", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val ref = SeqPack.packGreedy(all.toDF("doc_id", "text"),
        "doc_id", "text", budget = 40, bucketSize = 16)
      .collect().map(p => (p.doc_id, p.bucket, p.seq, p.n_tokens)).toSet
    assert(got == ref, "streamed packing must equal the batch repack")
    // and the log holds each doc exactly once
    assert(log.read(spark).count() == 48)
  }

  test("CDF-driven gold maintenance equals the full rebuild after every " +
      "commit, absorbs replays, and drops emptied groups") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import graft.gold.GoldMaintenance
    import graft.io.ParquetTable
    val tmp = java.nio.file.Files.createTempDirectory("graft_cdfgold")
    val src = new ParquetTable(s"$tmp/src")
    val gold = new ParquetTable(s"$tmp/gold")
    def df(rows: (Long, String, Long)*) =
      rows.toSeq.toDF("id", "grp", "cents")
    def goldRows() = gold.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    def rebuildOf(d: org.apache.spark.sql.DataFrame) =
      GoldMaintenance.aggregate(d, Seq("grp"), col("cents")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    // v1: initial build
    val v1 = df((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
    src.overwrite(v1)
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    assert(goldRows() === rebuildOf(v1))
    assert(gold.applied == Map("source" -> 1))

    // v2: an update (id 2), an insert (id 4, new group c), a delete (id 3
    // — group b EMPTIES and must vanish, not linger at n=0)
    val v2 = df((1L, "a", 10L), (2L, "a", 25L), (4L, "c", 7L))
    src.overwrite(v2)
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    assert(goldRows() === rebuildOf(v2))
    assert(!goldRows().exists(_._1 == "b"), "emptied group must be dropped")

    // replay: advancing again with no new commit is a no-op (version AND
    // content unchanged) — the at-least-once maintenance-job contract
    val goldV = gold.version
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    assert(gold.version === goldV, "replayed advance must not rewrite gold")
    assert(goldRows() === rebuildOf(v2))

    // v3: pure insert into an existing group + re-create group b
    val v3 = df((1L, "a", 10L), (2L, "a", 25L), (4L, "c", 7L),
      (5L, "a", 1L), (6L, "b", 99L))
    src.overwrite(v3)
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    assert(goldRows() === rebuildOf(v3))
    assert(gold.applied == Map("source" -> 3))
  }
}
