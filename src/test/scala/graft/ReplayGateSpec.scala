package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{LogOracle, ParquetTable}
import graft.streaming.{PackStream, ReplayGate}

/** Laws of the Bloom-gated replay probe and PackStream's self-healing
  * crash recovery (round-8 verdict items 2 and the ADVICE crash-window
  * finding).
  */
class ReplayGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("freshRows with an all-definitely-new batch never touches the " +
      "seen-id log (zero log I/O, the O(batch) fast path)") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    Seq(1L, 2L).foreach(bloom.putLong)
    val batch = Seq((3L, "x"), (4L, "y")).toDF("doc_id", "text")
    var probed = 0
    val fresh = ReplayGate.freshRows(batch, "doc_id", Some(bloom),
      Some(ReplayGate.batchSketch(batch, "doc_id", 1000)),
      () => { probed += 1; Seq(1L, 2L).toDF("doc_id") })
    assert(fresh.count() == 2)
    assert(probed == 0,
      "definitely-unseen batch must not invoke the log reader at all")
  }

  test("freshRows gated path is executor-side end to end: replays drop, " +
      "false positives survive, the probe restriction reaches the log " +
      "scan, and NO batch-id array or literal id list exists anywhere " +
      "(round-8 verdict item 2)") {
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    Seq(1L, 2L, 99L).foreach(bloom.putLong) // 99 = stranded FP (crash
    // between filter save and log append): in the filter, NOT in the log
    val batch = Seq((1L, "replay"), (5L, "new"), (99L, "fp"))
      .toDF("doc_id", "text")
    var probed = 0
    // a REAL parquet log, so the probe restriction's pushdown is visible
    val logDir = Files.createTempDirectory("graft_gate_log")
      .resolve("log.parquet").toString
    Seq(1L, 2L).toDF("doc_id").write.parquet(logDir)
    val fresh = ReplayGate.freshRows(batch, "doc_id", Some(bloom),
      Some(ReplayGate.batchSketch(batch, "doc_id", 1000)),
      () => { probed += 1; spark.read.parquet(logDir) })
    val got = fresh.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(5L, 99L),
      "replay must drop; the stranded false positive must survive (it " +
        "is NOT in the log) — a dropped FP would be data loss")
    assert(probed == 1)
    // the probe restriction is executor-side: the maybe-ids' [min, max]
    // range pushes into the parquet scan (row-group pruning) and the
    // batch sketch evaluates as a scan-stage predicate — the O(batch+FP)
    // claim without a driver-side id array or isin literal list
    val plan = fresh.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(doc_id") &&
        plan.contains("LessThanOrEqual(doc_id"),
      s"expected the maybe-id range pushed into the log scan, got:\n$plan")
    assert(plan.toLowerCase.contains("bloommightcontain"),
      s"expected the batch sketch as a scan-stage predicate, got:\n$plan")
    assert(!plan.contains("In(doc_id"),
      "the gated probe must NOT compile a literal id list into the plan " +
        s"(the driver-collect shape this gate replaces), got:\n$plan")
  }

  test("freshRows without a filter is the plain full anti-join") {
    val batch = Seq((1L, "a"), (3L, "b")).toDF("doc_id", "text")
    val fresh = ReplayGate.freshRows(batch, "doc_id", None, None,
      () => Seq(1L, 2L).toDF("doc_id"))
    assert(fresh.select("doc_id").collect().map(_.getLong(0)).toSet
      == Set(3L))
  }

  test("batchSketch is geometry-compatible with the persistent filter: " +
      "mergeAndSave folds a distributed sketch into it and persists " +
      "(the executor-side replacement for addAndSave)") {
    val tmp = Files.createTempDirectory("graft_gate_merge")
    val file = tmp.resolve(ReplayGate.BloomFile)
    val bloom = ReplayGate.loadOrSeed(file,
      () => Some(Seq(10L, 11L).toDF("doc_id")), "doc_id", 1000)
    val sketch = ReplayGate.batchSketch(
      Seq(20L, 21L, 22L).toDF("doc_id"), "doc_id", 1000)
    ReplayGate.mergeAndSave(file, bloom, sketch)
    val reloaded = ReplayGate.load(file).get
    assert(Seq(10L, 11L, 20L, 21L, 22L).forall(reloaded.mightContainLong),
      "merged filter must contain both the seeded and the batch ids")
  }

  test("gated path accepts non-BIGINT ids (string keys normalize " +
      "through xxhash64 on BOTH sides): replays drop, fresh survive — " +
      "the round-9 regression where freshRows hard-required longs") {
    val tmp = Files.createTempDirectory("graft_gate_str")
    val file = tmp.resolve(ReplayGate.BloomFile)
    val logDf = Seq("a", "b").toDF("doc_id")
    val bloom = ReplayGate.loadOrSeed(file, () => Some(logDf),
      "doc_id", 1000)
    val batch = Seq(("a", "replay"), ("c", "new"), ("d", "new"))
      .toDF("doc_id", "text")
    val fresh = ReplayGate.freshRows(batch, "doc_id", Some(bloom),
      Some(ReplayGate.probeSketch(batch, "doc_id")), () => logDf)
    assert(fresh.select("doc_id").collect().map(_.getString(0)).toSet
      == Set("c", "d"))
    // and commitToFilter keeps the superset contract in the same domain
    ReplayGate.commitToFilter(file, bloom, fresh, "doc_id", 2L, 1000,
      () => Some(logDf))
    val reloaded = ReplayGate.load(file).get
    val replayAll = Seq("a", "b", "c", "d").toDF("doc_id")
    val fresh2 = ReplayGate.freshRows(replayAll, "doc_id", Some(reloaded),
      Some(ReplayGate.probeSketch(replayAll, "doc_id")),
      () => Seq("a", "b", "c", "d").toDF("doc_id"))
    assert(fresh2.isEmpty, "full replay after commit must yield nothing")
  }

  test("probeSketch is batch-sized: orders of magnitude smaller than " +
      "the persistent-geometry batchSketch it replaces in the probe") {
    val batch = (0L until 100L).toDF("doc_id")
    val probe = ReplayGate.probeSketch(batch, "doc_id")
    val full = ReplayGate.batchSketch(batch, "doc_id", 4L * 1024 * 1024)
    assert(probe.bitSize() * 8 < full.bitSize(),
      s"probe sketch (${probe.bitSize()} bits) must be far smaller than " +
        s"the persistent geometry (${full.bitSize()} bits)")
    // no false negatives regardless of sizing — the only property the
    // probe restriction needs
    assert((0L until 100L).forall(probe.mightContainLong))
  }

  test("probeSketch scales with expectedBatch: a deployment whose " +
      "micro-batches exceed the default sizes the sketch up through the " +
      "mirror entry points, keeping the O(batch + FP) probe bound") {
    val batch = (0L until 100L).toDF("doc_id")
    val dflt = ReplayGate.probeSketch(batch, "doc_id")
    val big = ReplayGate.probeSketch(batch, "doc_id",
      expectedBatch = 16L * ReplayGate.DefaultProbeBatch)
    assert(big.bitSize() > dflt.bitSize(),
      "a larger expectedBatch must grow the sketch geometry")
    assert((0L until 100L).forall(big.mightContainLong))
  }

  test("commitToFilter small-batch path updates the filter driver-side " +
      "and is geometry-immune (works against a filter written at any " +
      "other geometry — no incompatible-merge case exists)") {
    val tmp = Files.createTempDirectory("graft_gate_small")
    val file = tmp.resolve(ReplayGate.BloomFile)
    // a filter at a DIFFERENT geometry than the session would build
    val odd = org.apache.spark.util.sketch.BloomFilter.create(123, 4567)
    odd.putLong(1L)
    val out = Files.newOutputStream(file)
    try odd.writeTo(out) finally out.close()
    val bloom = ReplayGate.load(file).get
    val fresh = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "text")
    ReplayGate.commitToFilter(file, bloom, fresh, "doc_id", 2L, 1000,
      () => Some(Seq(1L).toDF("doc_id")))
    val reloaded = ReplayGate.load(file).get
    assert(Seq(1L, 7L, 8L).forall(reloaded.mightContainLong),
      "small path must extend the odd-geometry filter in place")
  }

  test("commitToFilter small-batch path skips NULL ids instead of " +
      "killing the trigger (null keys are structurally un-dedupable — " +
      "the caller contract — but must not NPE the filter update)") {
    val tmp = Files.createTempDirectory("graft_gate_null")
    val file = tmp.resolve(ReplayGate.BloomFile)
    val bloom = org.apache.spark.util.sketch.BloomFilter.create(1000, 0.01)
    val fresh = Seq((Some(7L), "x"), (None: Option[Long], "null-key"))
      .toDF("doc_id", "text")
    ReplayGate.commitToFilter(file, bloom, fresh, "doc_id", 2L, 1000,
      () => None)
    val reloaded = ReplayGate.load(file).get
    assert(reloaded.mightContainLong(7L),
      "the non-null id must land in the filter")
  }

  test("commitToFilter large-batch path survives a stale-geometry " +
      "filter: the incompatible merge RESEEDS from the log at the " +
      "current geometry instead of poisoning every later trigger") {
    val tmp = Files.createTempDirectory("graft_gate_poison")
    val file = tmp.resolve(ReplayGate.BloomFile)
    val odd = org.apache.spark.util.sketch.BloomFilter.create(123, 4567)
    odd.putLong(10L)
    val out = Files.newOutputStream(file)
    try odd.writeTo(out) finally out.close()
    val bloom = ReplayGate.load(file).get
    val fresh = Seq((7L, "x"), (8L, "y")).toDF("doc_id", "text")
    // smallBatch = 0 forces the distributed-merge path
    ReplayGate.commitToFilter(file, bloom, fresh, "doc_id", 2L, 1000,
      () => Some(Seq(10L, 11L).toDF("doc_id")), smallBatch = 0L)
    val reloaded = ReplayGate.load(file).get
    assert(Seq(10L, 11L, 7L, 8L).forall(reloaded.mightContainLong),
      "reseeded filter must hold the log ids AND the batch delta — " +
        "the superset contract after recovery")
  }

  test("loadOrSeed seeds the filter from a pre-gate log (superset " +
      "contract) and round-trips through the atomic save") {
    val tmp = Files.createTempDirectory("graft_gate_seed")
    val file = tmp.resolve(ReplayGate.BloomFile)
    val seeded = ReplayGate.loadOrSeed(file,
      () => Some(Seq(10L, 11L, 12L).toDF("doc_id")), "doc_id", 1000)
    assert(Seq(10L, 11L, 12L).forall(seeded.mightContainLong),
      "every pre-existing log id must be in the seeded filter — an " +
        "empty filter next to a non-empty log re-appends replayed ids")
    assert(Files.exists(file), "seeding must persist the filter")
    // reload sees the same contents; add + save extends it
    val loaded = ReplayGate.loadOrSeed(file,
      () => fail("filter exists — the seed reader must not be invoked"),
      "doc_id", 1000)
    assert(Seq(10L, 11L, 12L).forall(loaded.mightContainLong))
    ReplayGate.addAndSave(file, loaded, Seq(Long.box(42L)))
    assert(ReplayGate.load(file).get.mightContainLong(42L))
  }

  test("PackStream self-heals the crash window between the log append " +
      "and the packed repack (ADVICE: replay finds zero fresh docs and " +
      "the touched buckets were never repacked)") {
    val tmp = Files.createTempDirectory("graft_pack_crash").toString
    val log = new ParquetTable(s"$tmp/log", partitionColumns = Seq("bucket"))
    val packed =
      new ParquetTable(s"$tmp/packed", partitionColumns = Seq("bucket"))
    def docsDf(ids: Seq[Long]) = ids.map(i =>
        (i, Seq.fill(1 + (i * 7 % 23).toInt)("w").mkString(" "),
          i / 16))
      .toDF("doc_id", "text", "bucket")
    // healthy trigger 1 (simulated): log + marked pack for bucket 0
    log.overwrite(docsDf(0L until 8L))
    PackStream.recover(spark, log, packed, budget = 40, bucketSize = 16)
    assert(PackStream.appliedLogVersion(packed).contains(log.version))
    val healthyV = packed.version
    // CRASH window: trigger 2's docs land in the LOG (mid-bucket lates
    // for bucket 0 + new bucket 2) but the process dies before the
    // repack — exactly the state Structured Streaming replays into
    log.appendVersion(docsDf(Seq(8L, 9L, 33L)))
    assert(PackStream.appliedLogVersion(packed).contains(1),
      "the marker still names the pre-crash log version")
    // restart: recovery runs BEFORE the replayed batch and must bring
    // packed to exactly the batch repack of the full log
    PackStream.recover(spark, log, packed, budget = 40, bucketSize = 16)
    assert(packed.version > healthyV, "recovery must repack")
    assert(PackStream.appliedLogVersion(packed).contains(log.version))
    val got = packed.read(spark)
      .select("doc_id", "bucket", "seq", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val ref = graft.northstar.SeqPack.packGreedy(
        log.read(spark), "doc_id", "text", budget = 40, bucketSize = 16)
      .collect().map(p => (p.doc_id, p.bucket, p.seq, p.n_tokens)).toSet
    assert(got == ref,
      "recovered packed table must equal the full batch repack")
    // recovery is idempotent: already-current → no new version
    val v = packed.version
    PackStream.recover(spark, log, packed, budget = 40, bucketSize = 16)
    assert(packed.version == v, "current tables must not be rewritten")
    // the marker rides in the packed commit's record, so a repack and
    // its marker cannot come apart: a repack killed before its pointer
    // swap (staged, renamed or recorded) leaves the old data AND the old
    // marker, and the next recovery converges
    log.appendVersion(docsDf(Seq(10L, 40L)))
    def packedRows = packed.read(spark)
      .select("doc_id", "bucket", "seq", "n_tokens").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val (pv, marker, data) =
      (packed.version, PackStream.appliedLogVersion(packed), packedRows)
    Seq(LogOracle.Staged, LogOracle.Renamed, LogOracle.Recorded)
      .foreach { crash =>
        LogOracle.crashBeforeSwap(packed, crash)(PackStream.recover(spark,
          log, packed, budget = 40, bucketSize = 16))
        assert(packed.version == pv && packedRows == data &&
          PackStream.appliedLogVersion(packed) == marker, crash)
      }
    PackStream.recover(spark, log, packed, budget = 40, bucketSize = 16)
    assert(packed.version == pv + 1)
    assert(PackStream.appliedLogVersion(packed).contains(log.version))
    val ref2 = graft.northstar.SeqPack.packGreedy(
        log.read(spark), "doc_id", "text", budget = 40, bucketSize = 16)
      .collect().map(p => (p.doc_id, p.bucket, p.seq, p.n_tokens)).toSet
    assert(packedRows == ref2,
      "the converged pack must equal the full batch repack")
  }

  test("PackStream recovery covers the first-trigger crash window (log " +
      "exists, packed table never created)") {
    val tmp = Files.createTempDirectory("graft_pack_crash0").toString
    val log = new ParquetTable(s"$tmp/log", partitionColumns = Seq("bucket"))
    val packed =
      new ParquetTable(s"$tmp/packed", partitionColumns = Seq("bucket"))
    log.overwrite(Seq((0L, "a b c", 0L), (17L, "d e", 1L))
      .toDF("doc_id", "text", "bucket"))
    PackStream.recover(spark, log, packed, budget = 10, bucketSize = 16)
    assert(packed.exists)
    assert(packed.read(spark).count() == 2)
    assert(PackStream.appliedLogVersion(packed).contains(1))
  }
}
