package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Tables
import graft.scale.SkewJoin

/** Scale machinery: salted joins preserve semantics; bucketed tables join
  * without a shuffle.
  */
class ScaleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("saltedJoin equals the plain join (inner and left)") {
    val li = Tables.read(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
    val o = Tables.read(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val plain = li.join(o, Seq("l_orderkey"), "inner")
    val salted = SkewJoin.saltedJoin(li, o, Seq("l_orderkey"), saltBuckets = 7)
    assert(TestSpark.rows(salted) == TestSpark.rows(plain))

    val plainLeft = li.join(o, Seq("l_orderkey"), "left")
    val saltedLeft = SkewJoin.saltedJoin(li, o, Seq("l_orderkey"), 7, "left")
    assert(TestSpark.rows(saltedLeft) == TestSpark.rows(plainLeft))
  }

  test("saltedJoin rejects join types that would duplicate the small side") {
    val df = Tables.read(spark, dir, "orders").limit(1)
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, Seq("o_orderkey"), 4, "right")
    }
    intercept[IllegalArgumentException] {
      SkewJoin.saltedJoin(df, df, Seq("o_orderkey"), 4, "full_outer")
    }
  }

  test("partitioned warehouse tables prune partitions on filter") {
    val t = new graft.io.ParquetTable(
      java.nio.file.Files.createTempDirectory("graft_part").toString + "/orders_part",
      partitionColumns = Seq("order_year"))
    t.overwrite(Tables.read(spark, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate"))))
    val filtered = t.read(spark).filter(col("order_year") === 1997)
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") &&
      scan.contains("order_year") && scan.contains("1997"),
      s"expected partition pruning in:\n$scan")
    assert(filtered.count() > 0)
  }

  test("dim-filtered joins prune fact partitions dynamically (DPP)") {
    // the cluster-scale payoff of the partitioned layout: a filter on the
    // DIMENSION side must prune the FACT scan at runtime (dynamic partition
    // pruning), not just static literals — otherwise every dim-filtered
    // star join reads the full 100 TB fact table
    val t = new graft.io.ParquetTable(
      java.nio.file.Files.createTempDirectory("graft_dpp").toString + "/orders_by_prio",
      partitionColumns = Seq("prio"))
    t.overwrite(Tables.read(spark, dir, "orders")
      .withColumn("prio", col("o_orderpriority")))
    val dim = Tables.read(spark, dir, "orders")
      .select(col("o_orderpriority").as("prio")).distinct()
      .withColumn("urgent", col("prio").startsWith("1"))
    val joined = t.read(spark)
      .join(dim.filter(col("urgent")), Seq("prio"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruningexpression in the fact scan's " +
        s"PartitionFilters:\n$plan")
    assert(joined.count() > 0)
  }

  test("AQE splits a skewed shuffle partition in a sort-merge join") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // thresholds scaled down so the deliberately skewed key qualifies at
      // test size — at cluster scale the defaults (256 MB) play this role
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~all rows vs a uniform other side
      val big = (1 to 60000).map(i => (if (i % 100 == 0) i.toLong else 0L, i))
        .toDF("k", "v")
      val small = (0 to 600).map(i => (i.toLong * 100, s"n$i")).toDF("k", "name")
      val joined = big.join(small, "k")
      // materialize THIS Dataset's own query execution (count() would spin
      // up a separate one and leave this plan un-adapted)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the skewed SMJ partition (skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("bucketed tables join with no shuffle exchange") {
    Tables.writeBucketed(
      Tables.read(spark, dir, "lineitem").select("l_orderkey", "l_quantity"),
      "li_bucketed", Seq("l_orderkey"), numBuckets = 4)
    Tables.writeBucketed(
      Tables.read(spark, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "ord_bucketed", Seq("l_orderkey"), numBuckets = 4)

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"), Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"),
        s"bucketed join should be shuffle-free but plan has an Exchange:\n$plan")
      assert(joined.count() > 0)

      // the same join on unbucketed data DOES shuffle — the bucketing is
      // what removed it
      val unbucketed = Tables.read(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity")
        .join(Tables.read(spark, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
          Seq("l_orderkey"))
      assert(unbucketed.queryExecution.executedPlan.toString.contains("Exchange"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("map-side operators plan with zero Exchange (DESIGN.md claims)") {
    import graft.northstar.{Sampling, VectorOps}
    val docs = Tables.read(spark, dir, "documents")
    // Bernoulli sample + split label: pure scan-stage predicates/projections
    val sampled = Sampling.bernoulli(docs, Sampling.modKey(col("doc_id")), 0.5)
      .withColumn("split", Sampling.splitLabel(
        Sampling.modKey(col("doc_id"), 7L),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    assert(!sampled.queryExecution.executedPlan.toString.contains("Exchange"),
      "sampling/split must not shuffle")
    // vector norms + quantization error: map-side over the embedding scan
    val vec = Tables.read(spark, dir, "embeddings")
      .select(col("vec_id"),
        graft.northstar.Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("scale", VectorOps.quantScale(VectorOps.maxAbs(col("v"))))
      .select(VectorOps.l2Norm(col("v")), VectorOps.maxQuantError(col("v"), col("scale")))
    assert(!vec.queryExecution.executedPlan.toString.contains("Exchange"),
      "vector ops must not shuffle")
  }

  test("persisted IVF index prunes the corpus scan to probed cell partitions") {
    import graft.northstar.IvfIndex
    val emb = Tables.read(spark, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 3)
    val built = IvfIndex.build(emb, "vec_id", "embedding", nlist = 8)
    val persisted = built.persist(spark,
      java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx")
    val res = persisted.search(queries, "vec_id", "embedding", k = 3, nprobe = 2)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell#"),
      s"expected a static partition filter on cell in:\n$plan")
    // pruning must not change results: persisted == in-memory search
    val inMem = built.search(queries, "vec_id", "embedding", k = 3, nprobe = 2)
    assert(TestSpark.rows(res) == TestSpark.rows(inMem))
    assert(res.count() > 0)
  }

  test("hot-shingle cap bounds per-key join fan-in under an injected ubiquitous shingle") {
    import graft.northstar.{Dedup, TextAnalysis}
    val spark2 = spark
    import spark2.implicits._
    // every doc carries the same hot trigram; docs 1/2 additionally share
    // real content (true near-dups through non-hot shingles)
    val n = 40
    val docs = (1 to n).map { i =>
      val unique =
        if (i <= 2) "shared payload text across the near duplicate pair"
        else s"unique body $i with filler ${i * 7} noise ${i * 13} tail"
      (i.toLong, s"common hot shingle $unique")
    }.toDF("doc_id", "text")
    val exploded = docs.select(col("doc_id"),
      explode(array_distinct(TextAnalysis.shingleHashes(col("text"), 3))).as("g"))
    val maxDf = 8
    val uncappedMax = exploded.groupBy("g").count()
      .agg(max("count")).head.getLong(0)
    assert(uncappedMax >= n, s"fixture must contain a ubiquitous shingle, max df=$uncappedMax")
    // posting-list form: a shingle present in d docs would expand d²/2
    // candidate rows; the built-in df cap drops lists longer than maxDf
    // BEFORE expansion, so the ubiquitous shingles contribute nothing
    val sets = docs.select(col("doc_id").as("id"),
      array_distinct(TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
      .withColumn("n", size(col("sh")))
    val uncappedCand = Dedup.sharedShinglePairs(sets, None).count()
    assert(uncappedCand >= n.toLong * (n - 1) / 2,
      s"uncapped must materialize every hot-shingle pair, got $uncappedCand")
    val cappedCand = Dedup.sharedShinglePairs(sets, Some(maxDf))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cappedCand == Set((1L, 2L)),
      s"capped candidates must be exactly the real-content pair, got $cappedCand")
    // and the capped pair search still finds the genuine near-dup pair
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
      maxDocFrequency = Some(maxDf))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)),
      s"capped jaccard must keep true near-dups and drop hot-shingle-only pairs, got $pairs")
  }

  test("inverted-index pair generation: two exchanges, no join operator") {
    import graft.northstar.Dedup
    val spark2 = spark
    import spark2.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"some shared words body $i"))
      .toDF("doc_id", "text")
    val plan = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
      maxDocFrequency = Some(8)).queryExecution.executedPlan.toString
    // the posting-list build and the pair aggregate — nothing else may
    // shuffle, and pair expansion must be a generator, not a join
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"expected exactly 2 exchanges:\n$plan")
    assert(!plan.contains("Join"), s"pair expansion must not plan a join:\n$plan")
  }

  test("duplicate-span removal: span build is map-side, two exchanges, no join") {
    import graft.northstar.Dedup
    val spark2 = spark
    import spark2.implicits._
    val docs = (1 to 20).map(i => (i.toLong, s"alpha beta gamma delta $i"))
      .toDF("doc_id", "text")
    val plan = Dedup.dropDuplicateSpans(docs, "doc_id", "text", 2)
      .queryExecution.executedPlan.toString
    // the first-occurrence window (hash partition) and the per-doc regroup
    assert("Exchange".r.findAllIn(plan).size == 2,
      s"expected exactly 2 exchanges:\n$plan")
    assert(!plan.contains("Join"),
      s"span dedup must not plan a join:\n$plan")
  }

  test("new corpus ops keep their promised plan shapes") {
    // q59 chunking: pure scan-stage generator — zero Exchange
    val chunkPlan = graft.queries.NorthStarQueries
      .q59DocChunks(spark, dir).queryExecution.executedPlan.toString
    assert(!chunkPlan.contains("Exchange"),
      s"chunking must not shuffle:\n$chunkPlan")
    // q61 zipf: distributed top-k (TakeOrderedAndProject), never a full
    // vocabulary sort on a single partition
    val zipfPlan = graft.queries.NorthStarQueries
      .q61ZipfProfile(spark, dir).queryExecution.executedPlan.toString
    assert(zipfPlan.contains("TakeOrderedAndProject"),
      s"zipf top-k must plan TakeOrderedAndProject:\n$zipfPlan")
    // q58 decontamination: the gram membership test is a broadcast semi
    // join — the training-side explode must not shuffle on the gram key
    val decontPlan = graft.queries.NorthStarQueries
      .q58Decontamination(spark, dir).queryExecution.executedPlan.toString
    assert(decontPlan.contains("BroadcastHashJoin") &&
      decontPlan.contains("LeftSemi"),
      s"decontamination must broadcast-semi-join the benchmark grams:\n$decontPlan")
    // near-dup deletion: the redundant-id set broadcasts into an anti
    // join — the corpus side must never shuffle for the deletion itself
    val dedupPlan = graft.northstar.Dedup.dropNearDuplicates(
      Tables.read(spark, dir, "documents"),
      graft.queries.NorthStarQueries.q24MinhashNearDups(spark, dir), "doc_id")
      .queryExecution.executedPlan.toString
    assert(dedupPlan.contains("BroadcastHashJoin") &&
      dedupPlan.contains("LeftAnti"),
      s"near-dup deletion must broadcast-anti-join:\n$dedupPlan")
    // q67 winnowing: the window and the per-doc distinct rollup share ONE
    // hash partitioning on doc_id — a second Exchange would mean the
    // groupBy failed to reuse the window's clustering
    val winnowPlan = graft.queries.NorthStarQueries
      .q67WinnowingFingerprints(spark, dir).queryExecution.executedPlan.toString
    val winnowExchanges = "Exchange".r.findAllIn(winnowPlan).size
    assert(winnowExchanges == 1,
      s"winnowing must shuffle exactly once (doc_id), plan:\n$winnowPlan")
  }

  test("z-order compaction collapses per-file ranges on BOTH dimensions") {
    import graft.io.ParquetTable
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val base = java.nio.file.Files.createTempDirectory("graft_z").toString
    val linear = new ParquetTable(base + "/linear")
    linear.overwrite(li)
    linear.compact(spark, targetPartitions = 8, sortCols = Seq("l_orderkey"))
    val zt = new ParquetTable(base + "/z")
    zt.overwrite(li)
    zt.compactZOrder(spark, targetPartitions = 8,
      zCols = Seq("l_orderkey", "l_partkey"))

    // mean per-FILE value range, normalized by the global range — exactly
    // what parquet footer min/max pruning sees for a filter on that column
    def meanWidth(t: ParquetTable, c: String): Double = {
      val stats = t.read(spark)
        .groupBy(input_file_name().as("f"))
        .agg(min(col(c)).cast("double").as("lo"),
          max(col(c)).cast("double").as("hi"))
        .collect()
      assert(stats.length >= 6, s"expected ~8 files, got ${stats.length}")
      val glo = stats.map(_.getDouble(1)).min
      val ghi = stats.map(_.getDouble(2)).max
      stats.map(r => (r.getDouble(2) - r.getDouble(1)) / (ghi - glo)).sum /
        stats.length
    }

    // linear sort: leading column skips, the second dimension cannot —
    // every file spans (nearly) the full partkey range
    assert(meanWidth(linear, "l_orderkey") < 0.3,
      "linear sort must cluster its leading column")
    assert(meanWidth(linear, "l_partkey") > 0.8,
      "linear sort leaves the second dimension unclustered (the problem)")
    // z-order: BOTH dimensions collapse — footer stats prune scans
    // filtered on either column
    assert(meanWidth(zt, "l_orderkey") < 0.65,
      "z-order must bound the first dimension per file")
    assert(meanWidth(zt, "l_partkey") < 0.65,
      "z-order must bound the second dimension per file")
  }

  test("z-order rank binning survives an outlier that collapses min-max scaling") {
    import graft.scale.ZOrder
    val spark2 = spark
    import spark2.implicits._
    // 1000 well-spread values plus one 1e9 outlier: min-max scaling to
    // 2^16 ranks maps every normal value to floor(v/1e9 * 65535) = 0 —
    // the whole column degenerates to TWO distinct ranks and file
    // skipping on it dies. Rank binning must keep the bulk spread out.
    val vals = (0L until 1000L) :+ 1000000000L
    val df = vals.map(v => (v, v % 7)).toDF("a", "b")
    val minMaxRanks = {
      val (lo, hi) = (vals.min.toDouble, vals.max.toDouble)
      vals.map(v => math.floor((v - lo) / (hi - lo) * 65535).toLong).distinct.size
    }
    assert(minMaxRanks <= 2,
      s"fixture must make min-max scaling degenerate, got $minMaxRanks ranks")
    // single-column z-value == the rank itself: count distinct ranks
    val zRanks = ZOrder.withZValue(df, Seq("a"))
      .agg(countDistinct(col("__z"))).head.getLong(0)
    assert(zRanks >= 500,
      s"rank binning must keep the bulk spread over many ranks, got $zRanks")
    // and ranks must stay monotone in the value (a permuted binning would
    // destroy range locality instead of normalizing it)
    val pairsSorted = ZOrder.withZValue(df, Seq("a"))
      .select(col("a"), col("__z")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(pairsSorted.sliding(2).forall(w => w(0)._2 <= w(1)._2),
      "rank binning must be monotone in the underlying value")
    assert(pairsSorted.last._2 == pairsSorted.map(_._2).max,
      "the outlier must still rank at the top")
  }

  test("scd2 merge computes its join once (no per-branch re-plan)") {
    // the union-of-filtered-projections shape re-planned the full-outer
    // join per output branch (6 fact-table scans in the q39 plan); the
    // case-array explode shape must keep exactly one join and one scan
    // per input side
    val plan = graft.queries.NorthStarQueries
      .q39Scd2CustomerPriority(spark, dir).queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    val joins = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(scans <= 2, s"scd2 must scan each join side once, got $scans:\n$plan")
    assert(joins == 1, s"scd2 must plan exactly one join, got $joins:\n$plan")
  }

  test("z-order rejects sketch-hostile bit widths") {
    import graft.scale.ZOrder
    val spark2 = spark
    import spark2.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    // the cut-point literal and percentile sketch are O(2^bits) per column;
    // the guard must refuse widths the sketch cannot support
    intercept[IllegalArgumentException](ZOrder.withZValue(df, Seq("a"), bits = 21))
  }

  test("round-3 corpus ops keep their promised plan shapes") {
    // q74 collision diversity: the run-length fold happens inside the scan
    // stage — ZERO exchanges (the explode+groupBy formulation it replaces
    // shuffles one row per token occurrence)
    val divPlan = graft.queries.NorthStarQueries
      .q74CollisionDiversity(spark, dir).queryExecution.executedPlan.toString
    assert(!divPlan.contains("Exchange"),
      s"collision diversity must not shuffle:\n$divPlan")
    // q75 bloom decontamination: membership is a scan-stage predicate —
    // no join anywhere; the only exchange is the final per-lang rollup
    val bloomPlan = graft.queries.NorthStarQueries
      .q75BloomDecontaminate(spark, dir).queryExecution.executedPlan.toString
    assert(!bloomPlan.contains("Join"),
      s"bloom decontamination must not plan a join:\n$bloomPlan")
    assert("Exchange".r.findAllIn(bloomPlan).size == 1,
      s"bloom decontamination must shuffle only the lang rollup:\n$bloomPlan")
    // q73 temperature mixture: one hash exchange on the source key plus
    // the broadcast of the 1-row total — nothing scales with corpus rows
    val mixPlan = graft.queries.NorthStarQueries
      .q73TemperatureMixture(spark, dir).queryExecution.executedPlan.toString
    assert(mixPlan.contains("BroadcastNestedLoopJoin") ||
      mixPlan.contains("BroadcastExchange"),
      s"mixture total must broadcast:\n$mixPlan")
    assert("Exchange hashpartitioning".r.findAllIn(mixPlan).size <= 2,
      s"mixture must shuffle only the source rollup:\n$mixPlan")
  }

  test("corpus quality gate filters inside the scan stage, before any shuffle") {
    import graft.northstar.CorpusClean
    val plan = CorpusClean.clean(
      Tables.read(spark, dir, "documents"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // exactly one Exchange — the fingerprint window; the quality Filter sits
    // below it (later in the bottom-up plan string)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 shuffle, plan:\n$plan")
    // plans print top-down: the scan-side quality filter is the LAST
    // "Filter (" NODE (the "(" excludes the scan's PushedFilters metadata,
    // which always prints at the bottom and would make the check vacuous),
    // and it must sit under the Exchange (greater string index)
    assert(plan.contains("Filter (") &&
      plan.lastIndexOf("Filter (") > plan.indexOf("Exchange"),
      s"quality filter must be below the shuffle (scan side), plan:\n$plan")
  }

  test("incremental near-dup probe broadcasts the batch, never shuffles the index") {
    import graft.northstar.Dedup
    val docs = Tables.read(spark, dir, "documents")
    val idx = Dedup.buildNearDupIndex(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 7), "doc_id", "text")
    val plan = Dedup.incrementalNearDuplicates(
      idx, docs.filter(pmod(col("doc_id"), lit(10)) === 7), "doc_id", "text")
      .queryExecution.executedPlan.toString
    // the band probe is the only join keyed on band_hash; at corpus scale the
    // index side is 100 TB-derived, so that join MUST be a broadcast of the
    // batch bands — a SortMergeJoin there would shuffle the whole index
    val bandJoins = plan.linesIterator.filter(_.contains("band_hash"))
      .filter(l => l.contains("Join") || l.contains("join")).toSeq
    assert(bandJoins.nonEmpty && bandJoins.forall(_.contains("BroadcastHashJoin")),
      s"band probe must broadcast-hash-join, got:\n${bandJoins.mkString("\n")}\n\n$plan")
  }

  test("semantic-dedup candidate join carries ids only, never the vectors") {
    import graft.northstar.{IvfIndex, Similarity}
    val emb = Tables.read(spark, dir, "embeddings")
    val assigned = IvfIndex.build(emb, "vec_id", "embedding", 4).assigned
    // the (cell, shard) self-join is the operator's only skew-prone
    // exchange; at 100 TB its payload must be the 8-byte id, not the
    // embedding — a vector column reaching either join input means the
    // fat payload rides the hot shuffle key. The optimized plan's join
    // inputs ARE the exchange rows (column pruning has run by then).
    val lp = Similarity.semanticDedupCandidates(assigned, maxCellSize = 64)
      .queryExecution.optimizedPlan
    val joinInputCols = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
        j.children.flatMap(_.output.map(_.name))
    }
    assert(joinInputCols.nonEmpty, s"expected a self-join:\n$lp")
    val leaked = joinInputCols.flatten.filter(_.contains("__cv"))
    assert(leaked.isEmpty,
      s"candidate join inputs must not carry vectors, leaked: $leaked\n$lp")
  }

  test("funnel plans ONE user-keyed exchange; retention joins on the user only") {
    import graft.queries.NorthStarQueries
    // q77's claim (DESIGN.md): the stacked conditional window MINs, the
    // per-user rollup, and the global totals all reuse a single
    // hashpartitioning exchange on user_id — timestamps never move
    // between users, and no self-join on time exists
    val funnelPlan = NorthStarQueries.q77FunnelConversion(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(funnelPlan).size == 1,
      s"funnel must shuffle ONCE on the user key:\n$funnelPlan")
    assert(!funnelPlan.contains("Join"),
      s"funnel must not plan any join:\n$funnelPlan")
    // q78: one cohort aggregate + one distinct + ONE user-keyed join +
    // the weeks^2-sized matrix rollup — nothing shuffles on a timestamp
    val retPlan = NorthStarQueries.q78RetentionCohorts(spark, dir)
      .queryExecution.executedPlan.toString
    val joins = retPlan.linesIterator
      .filter(l => l.contains("Join") && !l.contains("BroadcastNestedLoop"))
      .toSeq
    assert(joins.nonEmpty && joins.forall(_.contains("user_id")),
      s"retention's only join must be user-keyed:\n$retPlan")
  }

  test("range-join queries plan hash joins on the bin key, never a " +
      "nested-loop or cartesian (q83/q85)") {
    // the whole point of RangeJoin: an inequality-only predicate that
    // Spark would otherwise plan as BroadcastNestedLoopJoin/Cartesian
    // becomes an equi-join on __bin, with the containment test as a
    // post-join filter — so AQE's skew handling applies and neither side
    // is forced driver-sized
    for ((name, df) <- Seq(
        "q83" -> graft.queries.NorthStarQueries
          .q83RangeJoinShipments(spark, dir),
        "q85" -> graft.queries.NorthStarQueries
          .q85IntervalOverlap(spark, dir))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name must not plan a nested-loop/cartesian join:\n$plan")
      assert(plan.contains("__bin"),
        s"$name's join must run on the synthesized bin key:\n$plan")
    }
  }

  test("packGreedyGrouped under adversarial skew: per-cell fan-in is " +
      "structurally bounded by bucketSize, grouped == per-subset packing, " +
      "ONE exchange (round-8 verdict: skew-adversarial proof)") {
    import spark.implicits._
    import graft.northstar.SeqPack
    // adversarial distribution: 97% of docs in ONE group AND their ids
    // clustered into very few buckets (the worst case for the
    // (group x bucket) grouping key a caller can inject)
    val docs = ((0 until 2000).map(i =>
        (i.toLong, "w " * (1 + i % 9), if (i < 1940) "hot" else "cold")))
      .toDF("doc_id", "text", "grp")
    val packed = SeqPack.packGreedyGrouped(docs, "doc_id", "text",
      budget = 20, bucketSize = 64, groupCol = "grp")
    val rows = packed.collect()
    // the skew BOUND: bucket = id DIV bucketSize caps every (group,
    // bucket) cell at bucketSize docs BY CONSTRUCTION - no caller
    // distribution can hand one reducer more than bucketSize rows, which
    // is why the sequential per-cell slot scales (DESIGN.md's claim)
    val maxCell = rows.groupBy(r => (r.group, r.bucket)).values
      .map(_.size).max
    assert(maxCell <= 64,
      s"a (group, bucket) cell must never exceed bucketSize docs, got $maxCell")
    // correctness under the same skew: grouped == packing each group alone
    for (g <- Seq("hot", "cold")) {
      val alone = SeqPack.packGreedy(docs.filter(col("grp") === g),
          "doc_id", "text", budget = 20, bucketSize = 64)
        .collect().map(p => (p.bucket, p.seq, p.doc_id, p.n_tokens)).toSet
      val ofGroup = rows.filter(_.group == g)
        .map(p => (p.bucket, p.seq, p.doc_id, p.n_tokens)).toSet
      assert(ofGroup == alone, s"group $g must pack as if alone")
    }
    // the uniform path's shuffle budget is unchanged: ONE exchange (the
    // groupByKey), nothing extra appeared with the skew handling
    // count in the FINAL adaptive plan only - AQE's toString repeats the
    // tree under an "== Initial Plan ==" section, double-counting
    val finalPlan = packed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val nExchanges = "Exchange".r.findAllMatchIn(finalPlan
      .linesIterator.filterNot(_.contains("ReusedExchange"))
      .mkString("\n")).size
    assert(nExchanges == 1,
      "grouped packing must keep exactly one exchange under skew")
  }

  test("GoldMaintenance delta fold under a hot group: partial " +
      "aggregation collapses the skewed key MAP-SIDE (shuffle records " +
      "are group-count-sized, not change-count-sized) and the fold " +
      "stays exact") {
    import spark.implicits._
    import graft.gold.GoldMaintenance
    import graft.io.ParquetTable
    val tmp = java.nio.file.Files.createTempDirectory("graft_goldskew")
    val src = new ParquetTable(s"$tmp/src")
    val gold = new ParquetTable(s"$tmp/gold")
    val v1 = (1 to 100).map(i => (i.toLong, s"g${i % 5}", i.toLong))
      .toDF("id", "grp", "cents")
    src.overwrite(v1)
    GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    // v2: 20k changed rows, ~99% of them in ONE group - the caller-skew
    // the delta groupBy inherits
    val v2 = (1 to 20000).map(i =>
        (i.toLong, if (i <= 19800) "hotgrp" else s"g${i % 5}", i.toLong))
      .toDF("id", "grp", "cents")
    src.overwrite(v2)
    // listener: records written into shuffles during the advance
    val recs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) recs.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      def measure(body: => Unit): Long = {
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        recs.set(0L)
        body
        org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
        recs.get
      }
      // the CDF diff itself shuffles O(changes) row-TUPLES by design
      // (documented in changesBetween); the skew surface is the DELTA
      // AGGREGATE layered on top. Measure its MARGINAL shuffle records:
      // with partial (map-side) aggregation the 19.8k hot-group change
      // rows collapse to per-key-per-map-partition partials, so the
      // delta adds ~groups x partitions records, NOT ~changes.
      val changes = src.changesBetween(spark, 1, 2)
      val rCdf = measure(changes.count())
      val sgn = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val delta = changes.groupBy(col("grp"))
        .agg(sum(sgn).as("dn"), sum(sgn * col("cents")).as("dv"))
      val rDelta = measure(delta.collect())
      assert(rDelta - rCdf < 1000,
        s"hot-group delta aggregate must collapse map-side: CDF alone " +
          s"shuffled $rCdf records, CDF+delta shuffled $rDelta")
      GoldMaintenance.advance(spark, src, gold, Seq("grp"), col("cents"))
    } finally spark.sparkContext.removeSparkListener(l)
    // exactness under skew: the fold equals the full rebuild
    val got = gold.read(spark).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ref = GoldMaintenance.aggregate(v2, Seq("grp"), col("cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == ref, "skewed incremental fold must equal the rebuild")
    // and the delta plan carries partial aggregation (the mechanism)
    val plan = GoldMaintenance.incrementalPlan(spark, src, gold,
      Seq("grp"), col("cents"), 1, 2).queryExecution.executedPlan.toString
    assert(plan.contains("partial"),
      s"delta aggregate must plan a partial (map-side) phase:\n$plan")
  }

  test("planner-automatic data skipping: an ordinary filtered read of a " +
      "range-clustered table scans only the commit-census's surviving files") {
    import graft.io.{ColumnBound, ParquetTable}
    import org.apache.spark.sql.GraftScanBridge.scannedFileCount
    val base = Tables.read(spark, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = java.nio.file.Files.createTempDirectory("graft_skip").toString
    val tbl = new ParquetTable(p + "/t")
    tbl.overwrite(base)
    tbl.compact(spark, targetPartitions = 16, sortCols = Seq("id"))

    val lo = 100L; val hi = 300L
    val (kept, total) = tbl.prunedFileCensus(
      Seq(ColumnBound("id", Some(lo), Some(hi))))
    assert(kept < total, s"range clustering must make stats selective " +
      s"(kept $kept of $total)")

    // the PLAIN read + an ordinary filter — no bounds, no readPruned
    val pruned = tbl.read(spark).filter(col("id").between(lo, hi))
    val prunedRows = pruned.collect().map(_.toSeq).toSet
    assert(scannedFileCount(pruned) == kept,
      s"planner-automatic skip must scan exactly the census's $kept " +
        s"files, scanned ${scannedFileCount(pruned)} of $total")

    // parity law: identical rows to the skipping-disabled baseline
    sys.props("graft.read.skipping") = "off"
    try {
      val baseline = tbl.read(spark).filter(col("id").between(lo, hi))
      assert(baseline.collect().map(_.toSeq).toSet == prunedRows,
        "skipping must never change results")
    } finally sys.props.remove("graft.read.skipping")

    // other pushed shapes prune too: equality and IN-list
    val eqDf = tbl.read(spark).filter(col("id") === 42L)
    eqDf.collect()
    assert(scannedFileCount(eqDf) <= 2,
      s"point lookup must prune to ~1 file, scanned ${scannedFileCount(eqDf)}")
    val inDf = tbl.read(spark).filter(col("id").isin(5L, 7L, 11L))
    inDf.collect()
    assert(scannedFileCount(inDf) <= 2,
      s"IN-list must prune, scanned ${scannedFileCount(inDf)}")
    // SPARSE IN-list: per-VALUE pruning, not the min..max envelope — a
    // list spanning the whole key domain must still touch only the
    // files holding its members
    val wide = tbl.read(spark).filter(col("id").isin(5L, 1400L))
    val wideRows = wide.collect()
    assert(scannedFileCount(wide) <= 3,
      s"sparse IN spanning the domain must prune per value " +
        s"(envelope would keep ~all $total files), scanned " +
        s"${scannedFileCount(wide)}")
    assert(wideRows.map(_.getLong(0)).toSet.subsetOf(Set(5L, 1400L)))

    // an unfiltered read scans everything and matches the source exactly
    val full = tbl.read(spark)
    assert(full.count() == base.count())
    assert(scannedFileCount(full) == total,
      "no filter -> no pruning -> all files")
  }

  test("planner-automatic skipping survives partitioned layouts, " +
      "appends, and stats-free columns") {
    import graft.io.ParquetTable
    import org.apache.spark.sql.GraftScanBridge.scannedFileCount
    val o = Tables.read(spark, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = java.nio.file.Files.createTempDirectory("graft_skip2").toString
    val tbl = new ParquetTable(p + "/t", partitionColumns = Seq("status"))
    tbl.overwrite(o.filter(col("id") <= 1000))
    tbl.appendVersion(o.filter(col("id") > 1000))

    // hive partition pruning (base class) composes with stats skipping:
    // rows and schema equal the plain read under every filter shape
    sys.props("graft.read.skipping") = "off"
    val plainAll =
      try tbl.read(spark).collect().map(_.toSeq).toSet
      finally sys.props.remove("graft.read.skipping")
    val autoDf = tbl.read(spark)
    assert(autoDf.collect().map(_.toSeq).toSet == plainAll,
      "partitioned append table: auto-skipping read must equal plain read")
    // file sources emit partition columns last; the pruned relation must
    // match the plain read's order exactly
    assert(autoDf.columns.toSeq == Seq("id", "cents", "status"),
      "pruned relation column order must match the plain read")

    val f = tbl.read(spark)
      .filter(col("status") === "F" && col("id") < 50)
    val fRows = f.collect().map(_.toSeq).toSet
    sys.props("graft.read.skipping") = "off"
    val fPlain =
      try tbl.read(spark).filter(col("status") === "F" && col("id") < 50)
        .collect().map(_.toSeq).toSet
      finally sys.props.remove("graft.read.skipping")
    assert(fRows == fPlain)
    // partition filter prunes dirs AND the id range prunes within them:
    // strictly fewer files than the partition-only filter
    val partOnly = tbl.read(spark).filter(col("status") === "F")
    partOnly.collect()
    assert(scannedFileCount(f) < scannedFileCount(partOnly),
      s"stats must narrow within surviving partitions: " +
        s"${scannedFileCount(f)} vs ${scannedFileCount(partOnly)}")
  }

  test("planner-automatic skipping composes with z-order: filters on " +
      "EITHER clustered dimension prune files through the plain read") {
    import graft.io.ParquetTable
    import org.apache.spark.sql.GraftScanBridge.scannedFileCount
    val li = Tables.read(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
    val p = java.nio.file.Files.createTempDirectory("graft_zskip").toString
    val zt = new ParquetTable(p + "/z")
    zt.overwrite(li)
    zt.compactZOrder(spark, targetPartitions = 8,
      zCols = Seq("l_orderkey", "l_partkey"))
    val total = scannedFileCount { val d = zt.read(spark); d.count(); d }
    def scanned(c: org.apache.spark.sql.Column): Long = {
      val d = zt.read(spark).filter(c); d.count(); scannedFileCount(d)
    }
    // the z-order promise, realized by the DEFAULT read with ordinary
    // filters: BOTH dimensions' footer ranges collapsed per file
    // (meanWidth proof above), so commit-metadata skipping prunes on
    // either — a linear sort would only ever prune its leading column
    val keyMax = li.agg(max(col("l_orderkey"))).head().getLong(0)
    val partMax = li.agg(max(col("l_partkey"))).head().getLong(0)
    val byKey = scanned(col("l_orderkey") <= keyMax / 8)
    val byPart = scanned(col("l_partkey") <= partMax / 8)
    assert(byKey < total, s"leading-dimension filter must prune " +
      s"($byKey of $total)")
    assert(byPart < total, s"SECOND-dimension filter must prune through " +
      s"the plain read ($byPart of $total) — the z-order payoff")
  }

  test("stats skipping never mis-attributes same-named files across " +
      "partition dirs: exhaustive point queries over disjoint " +
      "per-partition ranges") {
    // ONE partitioned write job reuses the same part-NNNNN-<uuid> file
    // name in EVERY partition dir it writes; with per-partition id
    // ranges DISJOINT (the bucket layout), any stats keyed by file name
    // instead of rel path mis-prunes — exactly the replay-gate probe
    // regression this spec pins (an id present in the log read as
    // absent, so a replayed doc committed again)
    import graft.io.ParquetTable
    val df = spark.range(64).select(col("id"),
      (col("id") / 16).cast("long").as("bucket"),
      (col("id") * 3).as("v"))
    val p = java.nio.file.Files.createTempDirectory("graft_skip3").toString
    val tbl = new ParquetTable(p + "/t", partitionColumns = Seq("bucket"))
    tbl.overwrite(df)
    (0L until 64L).foreach { i =>
      val got = tbl.read(spark).filter(col("id") === i).collect()
      assert(got.length == 1 && got.head.getLong(0) == i,
        s"point query id=$i must survive stats pruning, got " +
          s"${got.length} rows")
    }
    // and the replay-gate probe shape itself: range+membership filter
    // over the full domain returns every seen id
    val probed = tbl.read(spark)
      .filter(col("id").between(0L, 63L)).select("id").collect()
      .map(_.getLong(0)).toSet
    assert(probed == (0L until 64L).toSet)
  }

  test("SQL-path data skipping: spark.sql over a catalog-registered " +
      "range-clustered table scans only the commit-census's surviving files") {
    import graft.io.{Catalog, ColumnBound, ParquetTable}
    import org.apache.spark.sql.GraftScanBridge.scannedFileCount
    val base = Tables.read(spark, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = java.nio.file.Files.createTempDirectory("graft_sqlskip").toString
    val tbl = new ParquetTable(p + "/t")
    tbl.overwrite(base)
    tbl.compact(spark, targetPartitions = 16, sortCols = Seq("id"))
    Catalog.ensureDatabase(spark, "graft_sqlskip_db")
    Catalog.registerTable(spark, "graft_sqlskip_db", "t", tbl)

    val lo = 100L; val hi = 300L
    val (kept, total) = tbl.prunedFileCensus(
      Seq(ColumnBound("id", Some(lo), Some(hi))))
    assert(kept < total, s"range clustering must make stats selective " +
      s"(kept $kept of $total)")

    // the SQL path — no ParquetTable.read anywhere in the plan
    val sqlDf = spark.sql(
      s"SELECT id, cents FROM graft_sqlskip_db.t WHERE id BETWEEN $lo AND $hi")
    val sqlRows = sqlDf.collect().map(_.toSeq).toSet
    assert(scannedFileCount(sqlDf) == kept,
      s"SQL-path skip must scan exactly the census's $kept files, " +
        s"scanned ${scannedFileCount(sqlDf)} of $total")

    // parity law: identical rows to the skipping-disabled SQL baseline
    sys.props("graft.read.skipping") = "off"
    try {
      val off = spark.sql(
        s"SELECT id, cents FROM graft_sqlskip_db.t WHERE id BETWEEN $lo AND $hi")
      assert(off.collect().map(_.toSeq).toSet == sqlRows,
        "SQL-path skipping must never change results")
      assert(scannedFileCount(off) == total,
        "skipping=off must plan the unwrapped full listing")
    } finally sys.props.remove("graft.read.skipping")

    // spark.table() composes with DataFrame filters the same way
    val tDf = spark.table("graft_sqlskip_db.t").filter(col("id") === 42L)
    tDf.collect()
    assert(scannedFileCount(tDf) <= 2,
      s"catalog point lookup must prune, scanned ${scannedFileCount(tDf)}")

    // an unfiltered SQL read scans everything and matches the source
    val full = spark.sql("SELECT * FROM graft_sqlskip_db.t")
    assert(full.count() == base.count())
    assert(scannedFileCount(full) == total,
      "no filter -> no pruning -> all files")
    spark.sql("DROP TABLE graft_sqlskip_db.t")
  }

  test("SQL-path skipping prunes within surviving hive partitions on a " +
      "partitioned registered table") {
    import graft.io.{Catalog, ParquetTable}
    import org.apache.spark.sql.GraftScanBridge.scannedFileCount
    val o = Tables.read(spark, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = java.nio.file.Files.createTempDirectory("graft_sqlskip2").toString
    val tbl = new ParquetTable(p + "/t", partitionColumns = Seq("status"))
    // two files per partition with disjoint id ranges, so a selective id
    // filter must drop files INSIDE the surviving partition
    tbl.overwrite(o.filter(col("id") <= 700).repartitionByRange(2, col("id")))
    Catalog.ensureDatabase(spark, "graft_sqlskip_db")
    Catalog.registerTable(spark, "graft_sqlskip_db", "tp", tbl)

    sys.props("graft.read.skipping") = "off"
    val offRows =
      try {
        val off = spark.sql("SELECT id FROM graft_sqlskip_db.tp " +
          "WHERE status = 'O' AND id <= 50")
        val r = off.collect().map(_.getLong(0)).toSet
        (r, scannedFileCount(off))
      } finally sys.props.remove("graft.read.skipping")

    val on = spark.sql("SELECT id FROM graft_sqlskip_db.tp " +
      "WHERE status = 'O' AND id <= 50")
    assert(on.collect().map(_.getLong(0)).toSet == offRows._1,
      "partitioned SQL-path skipping must never change results")
    assert(scannedFileCount(on) < offRows._2,
      s"id filter must drop files within the surviving partition " +
        s"(scanned ${scannedFileCount(on)} vs unpruned ${offRows._2})")
    spark.sql("DROP TABLE graft_sqlskip_db.tp")
  }
}
