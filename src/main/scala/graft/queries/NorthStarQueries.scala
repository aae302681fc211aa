package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.merge.MergeOps
import graft.operators.RangeJoin
import graft.northstar.{Bm25, CorpusClean, Dedup, EventOps, HybridRetrieval, Multimodal, Sampling, Similarity, TextAnalysis}

/** North-star LLM-data-pipeline operators (BASELINE.json) over the
  * documents/embeddings testdata, with DuckDB oracles where the computation
  * is SQL-expressible (the oracle mirrors the *same* deterministic
  * computation — integer scores, exact divisions, md5).
  */
object NorthStarQueries {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.read(s, dir, n)

  /** Token statistics per language — token counting at corpus scale is a
    * single map + one small shuffle on the lang key.
    */
  def q20TokenStats(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("total_tokens"),
        round(sum(TextAnalysis.tokenCount(col("text")).cast("long")).cast("double") /
          count(lit(1)), 4).as("avg_tokens"),
        sum(col("n_chars")).as("total_chars"))

  /** Per-document quality signals: token count, punctuation ratio, stopword
    * ratio, mean token length (all exact-division doubles).
    */
  def q21DocQuality(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      round(TextAnalysis.punctRatio(col("text")), 6).as("punct_ratio"),
      round(TextAnalysis.stopwordRatio(col("text")), 6).as("stopword_ratio"),
      round(TextAnalysis.meanTokenLength(col("text")), 6).as("mean_token_len"))

  /** Language-ID prediction matrix: labeled lang × predicted lang counts.
    * The heuristic is deterministic marker-word scoring with struct-max
    * tie-breaking, mirrored by list_max in DuckDB. Computed explode-style —
    * one tokenization pass feeding all five profile scores as conditional
    * sums (the Column-level `langId` would inline tokenization 5×).
    */
  def q22LangIdMatrix(s: SparkSession, dir: String): DataFrame = {
    // Marker-hit counts as MAP-SIDE regexp_count: a token equals a marker
    // word iff the word occurs bounded by start/whitespace on both sides,
    // so one codegen'd regex scan per profile replaces the former
    // explode → groupBy → join-back pipeline (token-less docs get zero
    // counts for free). Lookarounds are fine here — this regex never
    // reaches the DuckDB oracle, which scores via its own list algebra;
    // only the RESULTS must agree. Earlier shapes measured: filter() HOF
    // per profile (interpreted lambda per token) ≫ explode + codegen'd
    // aggregate ≈ 1.9 s at sf0.1 ≫ this, ~0.4 s, zero exchanges before
    // the 25-row matrix rollup.
    val ws = TextAnalysis.WsClass
    val predicted = greatest(TextAnalysis.LangProfiles.map {
      case (lang, profile) =>
        val re = s"(?<=^|$ws)(?:${profile.mkString("|")})(?=$$|$ws)"
        struct(coalesce(regexp_count(lower(col("text")), lit(re)), lit(0))
          .as("s"), lit(lang).as("l"))
    }: _*).getField("l")
    t(s, dir, "documents")
      .select(col("lang"), predicted.as("predicted_lang"))
      .groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
  }

  /** Exact deduplication: canonical doc per md5 fingerprint of the
    * normalized text (hash-groupBy — one shuffle on the fingerprint).
    */
  def q23ExactDedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("copies"))

  /** MinHash + LSH near-duplicates (64 perms, 16 bands → ~0.5 similarity
    * knee) with exact-Jaccard verification. The oracle computes the exact
    * pair set — sound because every pair ≥ the 0.5 threshold in this corpus
    * sits at ≥0.98 Jaccard, where 16-band LSH recall is 1 − (1−s⁴)¹⁶ ≈ 1.
    */
  def q24MinhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      numPerm = 64, bands = 16, shingleSize = 3, jaccardThreshold = 0.5)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Exact word-trigram Jaccard pairs (no approximation): explode-join on
    * shared shingles — only colliding pairs materialize, never the O(n²)
    * cross join. The df-64 stop-shingle cap bounds per-key join fan-in at
    * 64² rows however large the corpus; the oracle mirrors the cap, so
    * parity holds at any scale factor (at production scale the cap would
    * be tuned as a corpus fraction).
    */
  def q25NgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
      shingleSize = 3, threshold = 0.3, maxDocFrequency = Some(64))

  /** Brute-force cosine top-5 neighbors for query vectors (vec_id < 10) —
    * the exactness baseline for ANN; ranking on the rounded cosine with id
    * tie-break is engine-stable.
    */
  def q26KnnBrute(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", k = 5)
  }

  /** SimHash near-duplicates: 64-bit signatures, 4×16-bit bands (catches
    * every pair within 3 flipped bits), popcount verify. Not DuckDB-
    * expressible (xxhash64) → rows-only check.
    */
  def q27SimhashNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDuplicates(t(s, dir, "documents"), "doc_id", "text",
      bands = 4, maxHamming = 3)

  /** Embedding-cosine near-duplicates via random-hyperplane LSH — 4 planes
    * × 8 tables, tuned for the LOW 0.4 threshold: at cos 0.4 a hyperplane
    * agrees w.p. ≈0.63, so 6-plane tables collided near-threshold pairs
    * at only ≈6% each (measured recall 0.34 over the exact pair set);
    * shorter 4-bit keys with twice the tables lift the collision rate to
    * ≈0.75 at the threshold and ≈0.9+ above it. Approximate by design →
    * rows-only check; [[graft.tools.Accuracy]] gates recall against the
    * brute-force cos≥0.4 pair set and the structural precision=1 (every
    * candidate is verified with the exact round-6 cosine).
    */
  def q28EmbeddingNearDups(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDuplicates(t(s, dir, "embeddings"), "vec_id",
      "embedding", threshold = 0.4, planes = 4, tables = 8)

  /** Batch sessionization — gaps-and-islands with lag + running sum (the
    * batch mirror of streaming.EventStream.sessionize): 30-minute gap opens
    * a new session; per-session event count, bounds and value. Ties broken
    * by event_id so the session split is engine-stable.
    */
  def q32UserSessions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("event_time"), col("event_id"))
    val marked = t(s, dir, "events")
      .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
      .withColumn("new_session",
        when(lag(col("event_time"), 1).over(byUser).isNull ||
          unix_micros(col("event_time")) -
            unix_micros(lag(col("event_time"), 1).over(byUser)) > 1800000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(byUser))
    marked.groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("event_time")).as("session_start"),
        max(col("event_time")).as("session_end"),
        sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
  }

  /** ROLLUP aggregation (hierarchical totals year → priority → grand total)
    * — the grouping-sets shape the reference lacks but any warehouse user
    * expects; one expand + single shuffle.
    */
  def q33SalesRollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
      .rollup(col("order_year"), col("o_orderpriority"))
      .agg(
        count(lit(1)).as("orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))

  /** As-of join (operators.AsOfJoin): each event picks up the user's most
    * recent order at or before the event time — one key shuffle via the
    * union-window technique, checked against DuckDB's native ASOF JOIN.
    */
  def q34AsofLastOrder(s: SparkSession, dir: String): DataFrame = {
    val events = t(s, dir, "events")
      .withColumn("event_time", expr("timestamp_micros(ts DIV 1000)"))
      .select(col("event_id"), col("user_id"), col("event_time"))
    val lastOrders = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("user_id"),
        col("o_orderdate").as("last_order_date"))
      .agg(max(col("o_orderkey")).as("last_order_key"))
    graft.operators.AsOfJoin.asOf(events, lastOrders, Seq("user_id"),
      col("event_time"), col("last_order_date"),
      Seq("last_order_key", "last_order_date"))
      .select(col("event_id"), col("user_id"),
        col("last_order_key"), col("last_order_date"))
  }

  /** Equi + range join: clicks within ±1 hour of each error event for the
    * same user. The equi key keeps it a hash/sort-merge join with the range
    * as residual condition — never a nested-loop cross product.
    */
  def q35EventBurst(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("et", expr("timestamp_micros(ts DIV 1000)"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        col("et").as("error_time"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("et").as("click_time"))
    errors.join(clicks,
        col("user_id") === col("c_user_id") &&
          abs(unix_micros(col("click_time")) - unix_micros(col("error_time")))
            <= 3600000000L, "left")
      .groupBy(col("error_id"), col("user_id"))
      .agg(count(col("click_time")).as("nearby_clicks"))
  }

  /** SCD Type 2 dimension build: each customer's latest order priority,
    * versioned across the 1995-01-01 boundary — pre-1995 snapshot seeds the
    * dimension, the 1995+ snapshot merges in; changed priorities close the
    * old version and open a new one.
    */
  def q39Scd2CustomerPriority(s: SparkSession, dir: String): DataFrame = {
    val boundary = lit("1995-01-01").cast("date")
    // BOTH era snapshots from ONE scan + ONE shuffle on the customer key:
    // max_by over an ordering struct that is NULL outside the era skips
    // those rows (aggregates ignore null ordering keys), so each column
    // independently resolves "latest order in its era" — replacing the
    // previous two scan+window passes (was the 8-shuffle worst case of
    // PLANAUDIT). (o_orderdate, o_orderkey) is unique per customer, so
    // max_by is deterministic and matches the old rn=1 desc/desc pick.
    val snaps = t(s, dir, "orders")
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(
        max_by(col("o_orderpriority"),
          when(col("o_orderdate") < boundary,
            struct(col("o_orderdate"), col("o_orderkey")))).as("__p1"),
        max_by(col("o_orderpriority"),
          when(col("o_orderdate") >= boundary,
            struct(col("o_orderdate"), col("o_orderkey")))).as("__p2"))
    val b1 = snaps.filter(col("__p1").isNotNull)
      .select(col("customer_id"), col("__p1").as("priority"))
    val b2 = snaps.filter(col("__p2").isNotNull)
      .select(col("customer_id"), col("__p2").as("priority"))
    val dim = MergeOps.scdType2Init(b1, Seq("customer_id"), Seq("priority"),
      lit("1992-01-01").cast("date"))
    MergeOps.scdType2(dim, b2, Seq("customer_id"), Seq("priority"), boundary)
  }

  /** Deterministic stratified sample: 50 documents per language, picked by
    * the multiplicative-hash key (stable across re-runs, partitioning and
    * cluster size — unlike df.sample).
    */
  def q40StratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedTopK(
      t(s, dir, "documents").select(col("lang"), col("doc_id")),
      Seq("lang"), 50, Sampling.modKey(col("doc_id")), Seq(col("doc_id")))

  val SplitWeights: Seq[(String, Double)] =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Train/val/test split manifest: every document deterministically
    * assigned by key range, counted per (lang, split) with token totals —
    * the reproducible-split bookkeeping a training pipeline publishes.
    */
  def q41TrainSplit(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .withColumn("split",
        Sampling.splitLabel(Sampling.modKey(col("doc_id"), seed = 7L), SplitWeights))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))

  /** C4-style corpus cleaning: length + stopword quality gate (map-side),
    * exact dedup on the canonical fingerprint (one shuffle), then per-lang
    * survivor stats.
    */
  def q42CorpusClean(s: SparkSession, dir: String): DataFrame =
    CorpusClean.clean(t(s, dir, "documents"), "doc_id", "text")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("kept_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("kept_tokens"))

  private val Priorities = Seq(
    "1-URGENT" -> "urgent", "2-HIGH" -> "high", "3-MEDIUM" -> "medium",
    "4-NOT SPECIFIED" -> "not_specified", "5-LOW" -> "low")

  /** Pivot (wide crosstab): order counts by year × priority with an
    * EXPLICIT value list — the implicit-values form runs an extra distinct
    * job over 100 TB just to learn the columns; missing cells coalesce to 0.
    */
  def q43PriorityPivot(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
      .groupBy(col("order_year"))
      .pivot("o_orderpriority", Priorities.map(_._1))
      .agg(count(lit(1)))
    p.select(col("order_year") +: Priorities.map { case (v, alias) =>
      coalesce(col(v), lit(0L)).as(alias)
    }: _*)
  }

  /** Vector ops over the embedding corpus: L2 norm + worst-component
    * round-trip error of symmetric absmax int8 quantization (the 4×
    * storage-reduction path). Scalars ride the native dot_product; all
    * map-side.
    */
  def q44VectorQuantize(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.VectorOps
    t(s, dir, "embeddings")
      .select(col("vec_id"), Similarity.toDoubleVec(col("embedding")).as("v"))
      .withColumn("__scale", VectorOps.quantScale(VectorOps.maxAbs(col("v"))))
      .select(col("vec_id"),
        round(VectorOps.l2Norm(col("v")), 6).as("l2_norm"),
        round(VectorOps.maxQuantError(col("v"), col("__scale")), 6).as("max_q_err"))
  }

  /** CSV source round-trip: write `nation` as headered CSV (quoted commas
    * and all), re-read it schema-first through the corrupt-record-routing
    * reader, aggregate — the oracle runs on the original parquet, so any
    * parse loss breaks the hash.
    */
  /** Fixed per-sfDir scratch path: repeated Bench/Verify runs overwrite in
    * place instead of accumulating unbounded temp copies.
    */
  private def scratch(kind: String, dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_rt",
      kind + "_" + dir.replaceAll("[^A-Za-z0-9]", "_"))

  def q45CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val nation = t(s, dir, "nation")
    val tmp = scratch("csv", dir).toString
    nation.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val (clean, _) = graft.sources.TextSources.split(
      graft.sources.TextSources.readCsv(s, tmp, nation.schema))
    clean.groupBy(col("n_regionkey"))
      .agg(count(lit(1)).as("nations"), sum(col("n_nationkey")).as("key_sum"))
  }

  /** JSON-lines source round-trip with a deliberately injected corrupt
    * line: the malformed record routes to the DLQ side of the split and
    * the clean aggregate still matches the parquet oracle exactly.
    */
  def q46JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val region = t(s, dir, "region")
    val tmp = scratch("jsonl", dir)
    region.coalesce(1).write.mode("overwrite").json(tmp.toString)
    java.nio.file.Files.writeString(tmp.resolve("corrupt.json"), "{not json at all\n")
    val (clean, _) = graft.sources.TextSources.split(
      graft.sources.TextSources.readJsonl(s, tmp.toString, region.schema))
    clean.agg(count(lit(1)).as("regions"),
      sum(length(col("r_name"))).as("name_chars"))
  }

  /** ORC source round-trip, completing the source family (parquet native,
    * CSV q45, JSONL q46): write `supplier` as ORC, re-read it with a
    * predicate that must reach the ORC reader as a pushed filter (proven
    * in SourcesSpec), aggregate in integer cents — the oracle runs on the
    * original parquet, so any encode/decode loss breaks the hash. ORC
    * gets no corrupt-record DLQ on purpose: a damaged columnar stripe is
    * a loud structural failure, not a row-level parse miss — fail-fast is
    * the correct 100 TB behavior there, unlike text formats.
    */
  def q80OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val supplier = t(s, dir, "supplier")
    val tmp = scratch("orc", dir).toString
    supplier.coalesce(1).write.mode("overwrite").orc(tmp)
    s.read.orc(tmp)
      .filter(col("s_acctbal") > lit(0.0))
      .groupBy(col("s_nationkey"))
      .agg(count(lit(1)).as("suppliers"),
        sum(round(col("s_acctbal") * 100, 0).cast("long")).as("acctbal_cents"))
  }

  /** Range (point-in-interval) join: shipments departing within a week of
    * ANY order's placement, rolled up by that order's priority. No equi-key
    * links a shipment to an arbitrary order, so Spark's native plan for the
    * inequality predicate is a BNLJ/cartesian — [[graft.operators.RangeJoin]]
    * bins the date axis into week-wide buckets and hash-joins instead.
    * The measure (a count) is distributive, so the point side folds to
    * per-DAY partials BEFORE the join: the |lineitem| × |covering windows|
    * pair explosion (~260M pairs at sf0.1, growing with sf²) never
    * materializes — the join touches ~#distinct-days point rows however
    * large lineitem grows, and the naive inequality-join oracle proves the
    * fold exact. Day granularity loses nothing: both date columns are
    * midnight-aligned in this schema.
    */
  def q83RangeJoinShipments(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val lineitem = t(s, dir, "lineitem")
    val shipDays = lineitem
      .groupBy(RangeJoin.epochDays(col("l_shipdate")).as("ship_day"))
      .agg(count(lit(1)).as("__n"))
    val windows = orders
      .withColumn("win_lo", RangeJoin.epochDays(col("o_orderdate")))
      .withColumn("win_hi", col("win_lo") + lit(7L))
      .select(col("o_orderpriority"), col("win_lo"), col("win_hi"))
    RangeJoin
      .pointInInterval(shipDays, "ship_day", windows, "win_lo", "win_hi",
        binWidth = 7L)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("__n")).as("shipments"))
  }

  /** Distinctive terms per language by tf·idf, with a RATIONAL idf
    * (N/df instead of ln(N/df)): the ranking must reproduce bit-for-bit in
    * the SQL oracle, and two engines' `ln` libms aren't guaranteed to agree
    * in the last ulp — the rational variant ranks identically for idf
    * monotone in N/df. One token explode, two shuffles (df, tf), top-5 per
    * lang by (score, token) — at 100 TB the df table is vocabulary-sized
    * and broadcast-eligible.
    */
  def q47TfIdfTerms(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    // corpus size as a broadcast 1-row aggregate riding the same DAG — a
    // driver-side docs.count() would be a second full job over the table
    val total = docs.agg(count(lit(1)).cast("double").as("__total"))
    val toks = docs
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), TextAnalysis.WsClass + "+")).as("tok"))
      .filter(length(col("tok")) > 0)
    // ONE aggregate at the (lang, tok) grain carries both statistics: a
    // document has exactly one lang, so per-lang doc sets are disjoint and
    // df(tok) = Σ_lang countDistinct(doc) — a window sum over the tok
    // partition, replacing the former separate df aggregate + join (which
    // re-planned the token explode and scanned documents twice).
    val g = toks.groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("__df_l"))
      .withColumn("df",
        sum(col("__df_l")).over(Window.partitionBy(col("tok"))))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("score").desc, col("tok"))
    g.crossJoin(broadcast(total))
      .withColumn("score",
        round(col("tf") * col("__total") / col("df"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("tok"), col("score"), col("rank"))
  }

  /** Near-containment pairs: |A∩B| / |A| ≥ 0.9 — catches "document A is a
    * chunk of document B", which symmetric Jaccard misses when B is much
    * larger (Broder's containment, 1997). Rides the same inverted-index
    * pair pass as q25 with the df-64 stop-shingle cap (mirrored in the
    * oracle — parity at any scale factor); containment is asymmetric, so
    * BOTH directions derive from one canonical pair scan (inter/n_a and
    * inter/n_b) instead of doubling the join.
    */
  def q48Containment(s: SparkSession, dir: String): DataFrame = {
    val sets = t(s, dir, "documents").select(col("doc_id").as("id"),
      array_distinct(TextAnalysis.shingleHashes(col("text"), 3)).as("sh"))
      .withColumn("n", size(col("sh")))
    val pairs = Dedup.sharedShinglePairs(sets, maxDf = Some(64))
    pairs.select(col("id_a"), col("id_b"), col("n_a").as("n"), col("inter"))
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b"),
        col("n_b").as("n"), col("inter")))
      .withColumn("containment", col("inter").cast("double") / col("n"))
      .filter(col("containment") >= 0.9)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Unpivot (melt): the year × priority crosstab back to long form — the
    * narrow-transform complement of q43, zero shuffles beyond the pivot's
    * own aggregation.
    */
  def q49PriorityUnpivot(s: SparkSession, dir: String): DataFrame =
    q43PriorityPivot(s, dir).unpivot(
      Array(col("order_year")),
      Priorities.map { case (_, alias) => col(alias) }.toArray,
      "priority", "orders")

  /** IVF ANN, build side — KMeans cells PERSISTED as a cell-partitioned
    * parquet table (the FAISS inverted-list layout) plus the centroid
    * sidecar; returns the per-cell inverted-list sizes (rows-only check:
    * the cell assignment is quantizer state, not SQL). Split from the
    * probe on purpose: build is a once-per-corpus-version cost while probe
    * is the per-query serving cost that must not regress at 100× scale —
    * one monolithic timing hid which side moved.
    */
  /** IVF scratch path scoped by a metadata fingerprint (mtime ^ size) of
    * the source embeddings file: the driver regenerates testdata between
    * rounds at the SAME path, and a probe that reloads last round's
    * persisted index would silently rank against the old corpus. A new
    * data vintage changes the fingerprint, so stale indexes simply miss
    * and the probe rebuilds. Metadata-only — no data job.
    */
  private def indexScratch(prefix: String, dir: String,
      srcFile: String = "embeddings.parquet"): String = {
    val fp =
      try {
        val attrs = java.nio.file.Files.readAttributes(
          java.nio.file.Paths.get(dir, srcFile),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        java.lang.Long.toHexString(
          attrs.lastModifiedTime.toMillis ^ (attrs.size * 1315423911L))
      } catch { case _: Exception => "na" }
    val live = scratch(prefix + "_" + fp, dir)
    // Stale vintages never miss-then-linger: prior fingerprints' dirs of
    // the same prefix for the SAME sfDir are removed here, so scratch
    // disk stays bounded across driver testdata regenerations (one live
    // index per prefix per sfDir). Other sfDirs are untouched.
    // Exact-shape match (prefix + one underscore-free fingerprint token +
    // this dir's slug): a bare endsWith(dirSlug) would also hit a DIFFERENT
    // sfDir whose slug merely ends with this one (e.g. /data/root/... vs
    // /root/...) and delete its live index.
    val dirSlug = "_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val stale = (java.util.regex.Pattern.quote(prefix) + "_[0-9a-z]+" +
      java.util.regex.Pattern.quote(dirSlug)).r
    try graft.io.FsUtil.listDir(live.getParent).foreach { p =>
      val n = p.getFileName.toString
      if (stale.pattern.matcher(n).matches() &&
        n != live.getFileName.toString)
        graft.io.FsUtil.deleteRecursively(p)
    } catch { case _: Exception => () } // cleanup is best-effort
    live.toString
  }

  /** Serving-index geometry (round-12 recall study, BASELINE.md "q112
    * dense-arm recall/scan curve"): nlist=32 — at EQUAL scan fraction,
    * finer cells beat coarser ones on these near-random embeddings
    * (25 % scan: 32/8 → 0.725 recall@10 vs 16/4 → 0.600 at sf0.1), so
    * the shared index moved from 16 to 32 cells. nlist folds into the
    * scratch fingerprint: a geometry change can never serve a stale
    * index — it misses and rebuilds (the unigram model-identity
    * discipline).
    */
  val ServingIvfNlist = 32

  /** q50's probe width: half the cells (the documented operating point —
    * recall@5 0.90/0.95 at sf0.01/sf0.1 under nlist=32).
    */
  val ServingIvfNprobe: Int = ServingIvfNlist / 2

  /** q112's dense-arm probe width: the sweep's knee — 12/32 = 37.5 %
    * scan buys recall@10 0.725/0.875 at sf0.01/sf0.1 (vs 0.600/0.725 at
    * the old 25 % point), a 2.7× scan reduction with the accuracy gate
    * finally ≥ 0.70 at both tiers.
    */
  val Q112DenseNprobe = 12

  /** The q112 serving arm's IVFADC geometry (round-13: the memory-scale
    * deployment arm replaces the uncompressed IVF as the served index).
    * From the recorded (nlist, m, nprobe, rerank) sweep
    * (BASELINE.md round 13): m=16 4-bit
    * sub-codebooks on 64 dims (16-byte codes — a 16× scanned-payload
    * reduction vs float vectors) with an exact re-rank window of
    * k×32 recovers recall@10 0.725/0.875 at sf0.01/sf0.1 — BIT-equal to
    * the uncompressed IVF arm at the same nlist=32/nprobe=12 knee, so
    * the compression is recall-free at the gate's operating point.
    * m=8 at the same point measured 0.675/0.625 (coarser sub-codebooks
    * lose the gate); rerank=8 measured 0.725/0.800 (the ADC shortlist
    * truncates real neighbors at the 10× tier). ksub=16: the sf0.01
    * tier trains on 500 vectors — 256-way sub-codebooks would memorize
    * the corpus.
    */
  val ServingPqM = 16
  val ServingPqKsub = 16
  val Q112Rerank = 32

  private def ivfScratch(dir: String): String =
    indexScratch("ivf" + ServingIvfNlist, dir)
  private def ivfPqScratch(dir: String): String = indexScratch("ivfpq", dir)

  /** The q112 serving index's scratch path — geometry folded into the
    * prefix (the [[ivfScratch]] discipline): an (nlist, m) retune can
    * never serve a stale layout, it misses and rebuilds.
    */
  def servingIvfPqPath(dir: String): String =
    indexScratch(s"ivfpq${ServingIvfNlist}m$ServingPqM", dir)

  /** The shared fingerprinted serving-index path — q50, q112 and the
    * accuracy gates all probe the SAME persisted index per corpus
    * version (the serving contract: built at most once, probed by many
    * jobs).
    */
  def servingIvfPath(dir: String): String = ivfScratch(dir)

  def q50IvfBuild(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.northstar.IvfIndex
      .build(emb, "vec_id", "embedding", nlist = ServingIvfNlist)
      .persist(s, ivfScratch(dir))
      .assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("vectors"))
  }

  /** IVF ANN, probe side — reopens the persisted index (building it first
    * only if q50_ivf_build has not run in this scratch dir yet), resolves
    * probe cells against literal centroids, pushes them as static
    * PartitionFilters, exact cosine only inside probed cells. Approximate
    * by design → rows-only check; IvfSpec pins recall against brute force
    * and ScaleSpec proves the pruned scan. nprobe = half the cells:
    * synthetic near-random embeddings are the quantizer's worst case
    * (neighbors spread ~uniformly over cells, so recall tracks the probed
    * fraction plus the centroid-ranking lift) — at nlist=32, half the
    * cells measures recall@5 0.90/0.95 at sf0.01/sf0.1
    * ([[graft.tools.Accuracy]] gates it just under; the full
    * recall/scan curve is BASELINE.md's round-12 sweep).
    */
  def q50IvfProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = graft.northstar.IvfIndex.load(s, ivfScratch(dir))
      .getOrElse(
        graft.northstar.IvfIndex
          .build(emb, "vec_id", "embedding", nlist = ServingIvfNlist)
          .persist(s, ivfScratch(dir)))
    idx.search(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nprobe = ServingIvfNprobe)
  }

  /** Change-data-feed (q87): the CDF multiset delta between two committed
    * table versions, rolled up per change type and status. Drives the
    * WRITE side too — two real versioned commits into a scratch
    * [[graft.io.ParquetTable]] (recreated per run, so version numbers are
    * deterministic), then [[graft.io.ParquetTable.changesBetween]] emits
    * one row per changed COPY with `_change_type` insert/delete (an
    * update = delete + insert, the Delta CDF convention minus the update
    * pairing). The oracle recomputes the delta from the same two version
    * definitions with EXCEPT ALL — multiset semantics must match exactly.
    * v1 omits every 7th key; v2 bumps every 5th key's cents — so the feed
    * mixes pure inserts, and update pairs on the %5-but-not-%7 keys.
    * Like every `scratch`-table query (q45/q46/q50/q80), this assumes the
    * single-process tooling contract — the driver runs Verify/Bench/
    * audits sequentially; two JVMs recreating the same scratch table
    * concurrently would race the delete against the other's lazy reads.
    */
  def q87ChangeDataFeed(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val v2 = base.withColumn("cents",
      when(pmod(col("o_orderkey"), lit(5)) === 0, col("cents") + 1)
        .otherwise(col("cents")))
    val p = scratch("cdf", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    tbl.overwrite(v1)
    tbl.overwrite(v2)
    tbl.changesBetween(s, 1, 2)
      .groupBy(col("_change_type"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
  }

  /** CDF-driven gold maintenance (q97): the loop q87's feed exists FOR —
    * a gold aggregate (orders by status: row count + cents sum) kept
    * current across THREE real commits of a versioned source table by
    * folding each commit's signed change feed into the aggregate
    * ([[graft.gold.GoldMaintenance.advance]]), never rescanning the
    * source after the first build. The commit sequence mixes every
    * change class: v1 omits every 7th key (→ inserts), v2 bumps every
    * 5th key's cents (→ delete+insert update pairs) and restores the
    * missing keys, v3 deletes every 11th key. The oracle aggregates the
    * FINAL version's closed-form definition directly — so the
    * incremental path must land hash-identically on the full rebuild,
    * which is exactly the correctness claim of incremental view
    * maintenance. Exact integer cents keep the signed fold
    * order-insensitive. Same single-process scratch contract as q87.
    */
  def q97CdfGoldMaintenance(s: SparkSession, dir: String): DataFrame = {
    import graft.gold.GoldMaintenance
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val v2 = base.withColumn("cents",
      when(pmod(col("o_orderkey"), lit(5)) === 0, col("cents") + 1)
        .otherwise(col("cents")))
    val v3 = v2.filter(pmod(col("o_orderkey"), lit(11)) =!= 0)
    val srcP = scratch("cdfgold_src", dir)
    val goldP = scratch("cdfgold_gold", dir)
    graft.io.FsUtil.deleteRecursively(srcP)
    graft.io.FsUtil.deleteRecursively(goldP)
    val src = new graft.io.ParquetTable(srcP.toString)
    val gold = new graft.io.ParquetTable(goldP.toString)
    for (v <- Seq(v1, v2, v3)) {
      src.overwrite(v)
      GoldMaintenance.advance(s, src, gold,
        keys = Seq("o_orderstatus"), value = col("cents"))
    }
    gold.read(s)
      .select(col("o_orderstatus"), col("n_rows"), col("value_sum"))
  }

  /** Min/max gold maintenance (q105): the NON-signed-foldable extrema
    * case q97 deliberately excluded, via
    * [[graft.gold.GoldMaintenance.advanceMinMax]]'s documented
    * rescan-affected-groups fallback. A three-commit history stresses
    * both regimes: v1→v2 is INSERT + update (updates carry deletes, so
    * their groups rescan; the count/sum halves still fold signed),
    * v2→v3 is a mass delete (every 3rd key — the case where a
    * departed row may have carried its group's min or max, which no
    * fold can recover). NULL-valued rows ride along (every 13th key)
    * to pin the min/max-skip-NULL semantics through fold AND rescan.
    * The oracle aggregates the final state's count/sum/min/max
    * directly — hash equality is the fallback's exactness claim.
    * Scale: the rescan reads ONLY the groups that lost rows (null-safe
    * semi-join), never a full re-aggregate; an insert-only commit
    * performs zero source reads (spec-asserted).
    */
  def q105GoldMinMax(s: SparkSession, dir: String): DataFrame = {
    import graft.gold.GoldMaintenance
    // history + declared feeds single-sourced with q116 (CentsHistory):
    // write-side change capture makes each advance O(changes); feed
    // exactness is guarded by the DuckDB oracle on the final state
    val h = CentsHistory(t(s, dir, "orders"))
    val srcP = scratch("minmax_src", dir)
    val goldP = scratch("minmax_gold", dir)
    graft.io.FsUtil.deleteRecursively(srcP)
    graft.io.FsUtil.deleteRecursively(goldP)
    val src = new graft.io.ParquetTable(srcP.toString)
    val gold = new graft.io.ParquetTable(goldP.toString)
    src.overwrite(h.v1)
    GoldMaintenance.advanceMinMax(s, src, gold,
      keys = Seq("o_orderstatus", "o_orderpriority"), value = col("cents"))
    for ((v, feed) <- Seq(h.v2 -> h.feed2, h.v3 -> h.feed3)) {
      src.overwriteWithChanges(v, feed)
      GoldMaintenance.advanceMinMax(s, src, gold,
        keys = Seq("o_orderstatus", "o_orderpriority"), value = col("cents"))
    }
    gold.read(s).select(col("o_orderstatus"), col("o_orderpriority"),
      col("n_rows"), col("value_sum"), col("value_min"), col("value_max"))
  }

  /** Percentile gold maintenance (q116): the PERCENTILE measure kind —
    * real gold tables carry p50/p95 latencies next to counts and sums.
    * Maintained through [[graft.gold.GoldMaintenance.advancePercentile]]:
    * each group stores a deterministic HDR-style log-bucketed histogram
    * ([[graft.gold.QuantileHist]], 2^-4 relative bucket width), which is
    * SIGNED-FOLDABLE — bucket counts subtract exactly, so deletes fold
    * like inserts and no rescan path exists at all (the property no
    * GK/KLL sketch has). Same three-commit history as q105 (insert mix,
    * %5-key cents bump as update pairs, %3-key mass delete, NULL cents
    * on %13 keys), committed with write-side change feeds; the oracle
    * replays the bucket arithmetic and the type-1 integer-rational rank
    * pick on the FINAL state directly — hash equality is the exactness
    * claim fold ≡ rebuild, stronger than any accuracy band a sketch
    * could offer. Scale: the advance is one changes-sized shuffle plus
    * a gold-sized merge; histograms are ≤ ~1k entries by construction
    * at ANY data size, so gold rows stay gold-sized at 100 TB.
    */
  def q116GoldPercentile(s: SparkSession, dir: String): DataFrame = {
    import graft.gold.GoldMaintenance
    // history + declared feeds single-sourced with q105 (CentsHistory)
    val h = CentsHistory(t(s, dir, "orders"))
    val srcP = scratch("qhist_src", dir)
    val goldP = scratch("qhist_gold", dir)
    graft.io.FsUtil.deleteRecursively(srcP)
    graft.io.FsUtil.deleteRecursively(goldP)
    val src = new graft.io.ParquetTable(srcP.toString)
    val gold = new graft.io.ParquetTable(goldP.toString)
    val ps = Seq(("p50", 50, 100), ("p95", 95, 100))
    src.overwrite(h.v1)
    GoldMaintenance.advancePercentile(s, src, gold,
      keys = Seq("o_orderstatus", "o_orderpriority"), value = col("cents"),
      ps = ps)
    for ((v, feed) <- Seq(h.v2 -> h.feed2, h.v3 -> h.feed3)) {
      src.overwriteWithChanges(v, feed)
      GoldMaintenance.advancePercentile(s, src, gold,
        keys = Seq("o_orderstatus", "o_orderpriority"), value = col("cents"),
        ps = ps)
    }
    gold.read(s).select(col("o_orderstatus"), col("o_orderpriority"),
      col("n_rows"), col("value_sum"), col("p50"), col("p95"))
  }

  /** End-to-end corpus curation (q100): the COMPOSED pipeline a
    * training-data team actually runs, as one query — heuristic quality
    * gate ([[graft.northstar.CorpusClean.qualityFilter]]) → exact dedup
    * (one survivor per canonical-text fingerprint) → deterministic
    * train/val/test split ([[graft.northstar.Sampling.splitLabel]]) →
    * per-split greedy sequence packing
    * ([[graft.northstar.SeqPack.packGreedyGrouped]]; sequences never
    * cross splits) → per-split packing census. Every stage is
    * individually oracle-exact elsewhere (q21/q23/q41/q98); this pins
    * their COMPOSITION — filter-then-dedup ordering, the split key on
    * the deduped survivors, packing inside (split × bucket) cells — in
    * one hash, because curation bugs live in the seams, not the stages.
    * All rules/constants interpolate from the same single-sourced values
    * the stage oracles use, so engine and oracle cannot drift. Scale
    * shape: gate and fingerprint are scan-stage; dedup is one window
    * shuffle; pack is the q98 shape with a composite key.
    */
  def q100CorpusCuration(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.{CorpusClean, Sampling, SeqPack}
    val curated = CorpusClean.clean(t(s, dir, "documents"), "doc_id", "text")
      .withColumn("split",
        Sampling.splitLabel(Sampling.modKey(col("doc_id"), seed = 7L),
          SplitWeights))
    val census = SeqPack
      .packGreedyGrouped(curated, "doc_id", "text",
        budget = PackBudget, bucketSize = PackBucket, groupCol = "split")
      .groupBy(col("group"), col("bucket"), col("seq"))
      .agg(count(lit(1)).as("nd"), sum(col("n_tokens")).as("fill"))
    census.groupBy(col("group").as("split"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("nd")).as("docs"),
        sum(col("fill")).as("tokens"),
        max(col("fill")).as("max_fill"),
        min(col("fill")).as("min_fill"))
  }

  /** Sequence packing (q98): pack the document corpus into fixed
    * token-budget training sequences — greedy in doc_id order within
    * doc_id-range buckets ([[graft.northstar.SeqPack]]), the
    * batch-construction stage of an LLM training pipeline. One shuffle
    * (the bucket key) + one rollup at any corpus size; the per-bucket
    * greedy loop is the sanctioned typed-group imperative slot. The
    * oracle replays the SAME recurrence as a recursive CTE (depth =
    * bucket size, advancing every bucket per step), so every document's
    * sequence assignment — not just the census shape — is hash-pinned
    * through first/last ids and exact fills.
    */
  val PackBudget = 256
  val PackBucket = 64

  def q98SequencePacking(s: SparkSession, dir: String): DataFrame =
    graft.northstar.SeqPack.sequenceCensus(
      graft.northstar.SeqPack.packGreedy(t(s, dir, "documents"),
        "doc_id", "text", budget = PackBudget, bucketSize = PackBucket))

  /** Top-V piece cap / merge count for q88 — the values the accuracy
    * gate's independent recomputation must also apply.
    */
  val BpeVocabCap = 20000
  val BpeNumMerges = 64

  /** BPE merge learning (q88): train the tokenizer's merge table from the
    * document corpus — the [[graft.northstar.BpeLearn]] two-stage split.
    * The corpus-scale stage is one scan + one piece-key shuffle whose
    * output is vocabulary-sized (Heaps' law: distinct pieces grow
    * sub-linearly in corpus bytes); the greedy merge loop then runs on the
    * driver over the top-[[BpeVocabCap]] pieces — bounded by design, the
    * same class as [[graft.northstar.IvfIndex]]'s quantizer sample, and
    * how every production trainer (subword-nmt, HF tokenizers) structures
    * it. Deterministic: total-order tiebreak (weight desc, pair asc), so
    * the learned sequence is stable across runs and partitionings. Not
    * SQL-expressible (the loop rewrites state each iteration) → rows-only
    * CORRECTNESS; [[graft.tools.Accuracy]] gates the merge sequence
    * against an independently-coded in-memory reference over the raw
    * text.
    */
  /** The corpus-scale stage q88 collects: scan → piece shuffle → bounded
    * top-V (TakeOrderedAndProject). Shared with [[auditPlans]] so the
    * audited plan IS the executed plan.
    */
  private def q88VocabPlan(s: SparkSession, dir: String): DataFrame =
    graft.northstar.BpeLearn.topVocabPlan(
      graft.northstar.BpeLearn
        .pieceCounts(t(s, dir, "documents"), "text", BpePiecePattern),
      BpeVocabCap)

  def q88BpeLearn(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.BpeLearn
    val vocab = q88VocabPlan(s, dir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    BpeLearn.mergesToDF(s, BpeLearn.learnMerges(vocab, BpeNumMerges))
  }

  /** Unigram-LM training constants (q113/q114) — the values the accuracy
    * gate's independent replay must also apply. Word cap bounds the EM
    * word table like [[BpeVocabCap]] bounds the merge loop's input;
    * seed/target/maxLen are SentencePiece-shaped (seed ≫ target, prune
    * to 75 % per round).
    */
  val UnigramWordCap = 20000
  val UnigramSeedSize = 2000
  // below the synthetic corpus's ~380 distinct substrings, so the
  // loss-ranked prune loop actually executes in-query at both tiers
  val UnigramTargetVocab = 200
  val UnigramMaxPieceLen = 6
  val UnigramEmIters = 2

  /** The capped word table both unigram queries train from — shared with
    * [[auditPlans]] (same cap discipline as [[q88VocabPlan]]; the corpus
    * stage is [[graft.northstar.BpeLearn.pieceCounts]], literally shared
    * with q88, so BPE and unigram see the identical normalization).
    */
  private def q113WordPlan(s: SparkSession, dir: String): DataFrame =
    graft.northstar.BpeLearn.topVocabPlan(
      graft.northstar.BpeLearn
        .pieceCounts(t(s, dir, "documents"), "text", BpePiecePattern),
      UnigramWordCap)

  private def q113Train(s: SparkSession, dir: String,
      words: DataFrame): graft.northstar.UnigramLm.Model =
    graft.northstar.UnigramLm.train(words, UnigramTargetVocab,
      UnigramMaxPieceLen, UnigramSeedSize, UnigramEmIters)

  /** The shared fingerprinted tokenizer-model path — the q50/q112
    * serving contract for the tokenizer family: q113 trains and persists
    * once per corpus vintage (documents.parquet metadata fingerprint),
    * q114 loads it instead of retraining. A new data vintage changes the
    * fingerprint, so stale models simply miss and retrain.
    */
  private def unigramScratch(dir: String): String =
    // the training constants are part of the model's identity: folding
    // them into the prefix means a tuned-constants code change can never
    // serve a stale model trained under the old hyperparameters — it
    // simply misses and retrains (same contract as a data-vintage change)
    indexScratch("uni" + UnigramTargetVocab + "s" + UnigramSeedSize +
        "l" + UnigramMaxPieceLen + "w" + UnigramWordCap + "e" +
        UnigramEmIters, dir, "documents.parquet")

  /** The q115 dictionary — single-sourced so the engine's positional
    * phrase ids and the generated oracle can never drift. Deliberately
    * adversarial for a matcher: entries that are substrings of other
    * entries ("scan" vs "scan scan"), phrases sharing prefixes, and
    * self-overlapping phrases ("table table" occurs TWICE in
    * "table table table" — overlapping semantics, the textbook AC
    * contract).
    */
  val DictPhrases: Seq[String] = Seq(
    "spark", "hash join", "table table", "scan", "scan scan",
    "merge batch", "value fast", "customer stream", "group value",
    "slow filter", "the line sort", "query big", "sort column",
    "window table", "a a", "stream window")

  // The generated q115/q117 oracles embed these as raw single-quoted SQL
  // literals and use UTF-16 String.length as the oracle's character
  // count; both are only sound for quote-free ASCII (a supplementary-
  // plane char would desynchronize the oracle's character semantics from
  // the engine's byte-length longest-match tiebreak). Assert the
  // invariant HERE so a dictionary edit fails loudly at class init, not
  // as a silent engine/oracle divergence.
  require(DictPhrases.forall(p => p.nonEmpty &&
      p.forall(c => c < 128 && c != '\'')),
    "DictPhrases must be non-empty, single-quote-free ASCII — the " +
      "generated DuckDB oracles embed them as raw SQL literals")

  /** Dictionary-scale phrase matching (q115): the matching stage a
    * blocklist/PII/decontamination pipeline needs where regex
    * alternation dies — an Aho–Corasick automaton
    * ([[graft.functions.DictMatchCounts]], Aho & Corasick 1975) matches
    * the WHOLE dictionary in one pass per byte, O(text + matches)
    * independent of dictionary size, against `rlike`'s O(text × N).
    * The automaton builds once on the driver and rides into the
    * whole-stage-codegen span as a reference object: the entire sweep —
    * match, posexplode, hit filter — is scan-stage work, ZERO shuffles
    * at any corpus or dictionary size.
    * Overlapping occurrences count (the exit-link chain); the oracle
    * replays every (doc, phrase) count by brute-force position
    * enumeration in DuckDB, so the automaton never gets the benefit of
    * the doubt.
    */
  def q115DictionaryMatch(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val counts = GraftBridge.toColumn(graft.functions.DictMatchCounts(
      GraftBridge.toExpression(col("text")), DictPhrases))
    t(s, dir, "documents")
      .select(col("doc_id"), posexplode(counts).as(Seq("phrase_id", "n_matches")))
      .filter(col("n_matches") > 0)
  }

  /** The q117 replacement tag — single-sourced with the oracle; contains
    * no corpus character ('<' never occurs in documents.text), so tag
    * occurrences in the output count redactions exactly.
    */
  val DictReplaceTag = "<DICT>"

  /** Dictionary-scale redaction (q117): q115's matching stage made a
    * REWRITE — the PII/blocklist redaction pass (q56's semantics at
    * dictionary scale): every LEFTMOST-LONGEST non-overlapping
    * occurrence of the q115 dictionary is replaced by
    * [[DictReplaceTag]], in one automaton pass per document
    * ([[graft.functions.DictReplace]]) — O(text + matches) per doc
    * independent of dictionary size, scan-stage codegen, ZERO shuffles
    * at any corpus or dictionary size (a regex alternation is
    * O(text × N) and dies at blocklist scale). The oracle re-derives
    * every match positionally in DuckDB, replays the leftmost-longest
    * greedy selection as a recursive CTE, REBUILDS the redacted string
    * per document and md5-pins it — so the engine's rewrite must be
    * byte-identical, not just count-identical, including the
    * adversarial substring/overlap families the dictionary plants.
    */
  def q117DictionaryRedact(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    val red = GraftBridge.toColumn(graft.functions.DictReplace(
      GraftBridge.toExpression(col("text")), DictPhrases, DictReplaceTag))
    t(s, dir, "documents")
      .select(col("doc_id"), red.as("redacted"))
      .select(col("doc_id"),
        regexp_count(col("redacted"), lit(DictReplaceTag)).cast("long")
          .as("n_redactions"),
        length(col("redacted")).cast("long").as("redacted_len"),
        md5(col("redacted")).as("redacted_md5"))
  }

  /** The q118 pruning predicate, single-sourced with the generated
    * oracle: a key range that is selective at every tier (orderkeys
    * start at 1) so the commit-metadata skip has real files to drop.
    */
  val StatsPruneLo = 500L
  val StatsPruneHi = 1500L

  /** Commit-metadata data skipping (q118): the Delta data-skipping
    * design surfaced as a query — per-file min/max stats captured ONCE
    * at write time into the commit log ([[graft.io.VersionLog]]), so a
    * selective range predicate drops disjoint files BEFORE Spark plans
    * the scan ([[graft.io.ParquetTable.readPruned]]): zero footer opens
    * at plan time, where at 100 TB footer sampling is the scan-planning
    * bottleneck. The flow: project orders into a versioned table,
    * range-cluster it (compact sorted by key — each file owns a
    * contiguous key range, the layout Z-order/range partitioning buys
    * at scale), then aggregate over the PRUNED read. The pruned scan is
    * a superset of the predicate (TablesSpec law), so filtering it
    * yields exactly the full-scan answer — which is what the DuckDB
    * oracle pins, while the require() makes a silently-skipped prune
    * (stats missing → full file list) fail loudly rather than
    * green-wash: at sf0.01 the census keeps 4/16 files, at sf0.1 1/16.
    * Same single-process scratch contract as q87/q103.
    */
  def q118StatsPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = scratch("statspr", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    tbl.overwrite(base)
    tbl.compact(s, 16, sortCols = Seq("id"))
    val bounds = Seq(graft.io.ColumnBound("id",
      Some(StatsPruneLo), Some(StatsPruneHi)))
    val (kept, total) = tbl.prunedFileCensus(bounds)
    require(kept < total,
      s"q118: range-clustered stats must prune (kept $kept of $total)")
    // PLANNER-AUTOMATIC since round 14: the plain read's FileIndex hands
    // the pushed-down between-filter to the commit-log stats at planning
    // time (ParquetTable.read → StatsPruning) — no explicit bounds, no
    // readPruned call; ScaleSpec proves the executed scan touches
    // exactly the census's kept files
    tbl.read(s)
      .filter(col("id").between(StatsPruneLo, StatsPruneHi))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
  }

  /** SQL-path data skipping as a query (q122): the q118 contract taken
    * through the CATALOG — the table registered with literal S4 DDL
    * (`CREATE TABLE … USING parquet LOCATION`, the surface a user
    * porting the reference runs day one) and the aggregate issued as
    * `spark.sql(...)`. [[org.apache.spark.sql.GraftSqlSkipping]]
    * (installed by `Catalog.registerTable`) wraps the resolved
    * relation's FileIndex so the pushed-down BETWEEN reaches the
    * commit-log stats at listing time; the require pins that the
    * executed SQL scan enumerated exactly the census's surviving files
    * — a silent fall-back to the full listing fails the query, not
    * just a spec. Oracle: same closed form as q118 (skipping is a
    * strict optimization, so the SQL aggregate equals DuckDB's plain
    * full-scan aggregate).
    */
  def q122SqlPrunedScan(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(
      col("o_orderkey").as("id"), col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val p = scratch("sqlpr", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    tbl.overwrite(base)
    tbl.compact(s, 16, sortCols = Seq("id"))
    val (kept, total) = tbl.prunedFileCensus(Seq(graft.io.ColumnBound("id",
      Some(StatsPruneLo), Some(StatsPruneHi))))
    require(kept < total,
      s"q122: range-clustered stats must prune (kept $kept of $total)")
    graft.io.Catalog.ensureDatabase(s, "graft_q122")
    graft.io.Catalog.registerTable(s, "graft_q122", "orders_clustered", tbl)
    val out = s.sql(
      s"""SELECT o_orderstatus, count(*) AS n_orders,
                 sum(cents) AS sum_cents
          FROM graft_q122.orders_clustered
          WHERE id BETWEEN $StatsPruneLo AND $StatsPruneHi
          GROUP BY o_orderstatus""")
    out.collect() // finalize THIS dataset's AQE plan, then audit it
    val scanned =
      org.apache.spark.sql.GraftScanBridge.scannedFileCount(out)
    require(scanned == kept,
      s"q122: the SQL scan must enumerate exactly the census's $kept " +
        s"files, scanned $scanned of $total — SQL-path skipping " +
        "silently degraded")
    out
  }

  /** RESTORE as a query (q119): the Delta `RESTORE TABLE … TO VERSION`
    * semantics on the versioned layout ([[graft.io.ParquetTable
    * .restoreVersion]]) — a bad deploy (v3 truncates the table to the
    * %97 keys and zeroes their cents) is rolled back by COMMITTING a
    * fresh version that hard-links v1's files: O(#files), zero data
    * copied, history intact (v3 stays auditable), and the rollback is
    * CDF-diffable like any write. The output pins BOTH halves of that
    * contract: the `state` rows aggregate the restored live table
    * (must equal v1's closed form) and the `cdf_*` rows roll up
    * [[graft.io.ParquetTable.changesBetween]] ACROSS the restore commit
    * (must equal the exact v3→v1 multiset diff) — the oracle recomputes
    * both from the version definitions with EXCEPT ALL, the q87
    * discipline. Same single-process scratch contract as q87/q118.
    */
  def q119RestoreRollback(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val v2 = base.withColumn("cents",
      when(pmod(col("o_orderkey"), lit(5)) === 0, col("cents") + 1)
        .otherwise(col("cents")))
    val v3 = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .withColumn("cents", lit(0L))
    val p = scratch("restore", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    tbl.overwrite(v1)
    tbl.overwrite(v2)
    tbl.overwrite(v3)
    tbl.restoreVersion(1) // v4 ≡ v1, committed
    val rollup = Seq(col("o_orderstatus"))
    val state = tbl.read(s).groupBy(rollup: _*)
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit("state").as("kind"), col("o_orderstatus"),
        col("n_rows"), col("sum_cents"))
    val cdf = tbl.changesBetween(s, 3, 4)
      .groupBy(col("_change_type"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(concat(lit("cdf_"), col("_change_type")).as("kind"),
        col("o_orderstatus"), col("n_rows"), col("sum_cents"))
    state.unionByName(cdf)
  }

  /** Zero-copy CLONE as a query (q120): [[graft.io.ParquetTable
    * .cloneTo]] — the dev/staging snapshot move at 100 TB, where a copy
    * is off the table by construction: the clone's v1 hard-links the
    * source's live files (O(#files)), starts its own commit history,
    * and both sides then DIVERGE — the clone appends the %3 keys at
    * doubled cents, the source overwrites itself down to its even
    * keys — without either write touching the other. The output
    * aggregates BOTH end states; the oracle recomputes them from the
    * closed-form definitions, so any sharing bug (a clone write
    * bleeding into source files or vice versa) breaks the hash. Same
    * single-process scratch contract as q87/q118.
    */
  def q120CloneDivergence(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val srcDef = base.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
    val delta = base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("cents", col("cents") * 2)
    val p = scratch("clone", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val src = new graft.io.ParquetTable(s"$p/src")
    src.overwrite(srcDef)
    val dst = src.cloneTo(s"$p/dst")
    dst.appendVersion(delta)
    src.overwrite(srcDef.filter(pmod(col("o_orderkey"), lit(2)) === 0))
    def agg(tb: graft.io.ParquetTable, side: String): DataFrame =
      tb.read(s).groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(side).as("side"), col("o_orderstatus"),
          col("n_rows"), col("sum_cents"))
    agg(src, "source").unionByName(agg(dst, "clone"))
  }

  /** Timestamp time travel as a query (q121): Delta's `TIMESTAMP AS
    * OF` / `RESTORE … TO TIMESTAMP AS OF` on the versioned layout
    * ([[graft.io.ParquetTable.readAsOf]] /
    * [[graft.io.ParquetTable.restoreToTimestamp]]) — "the table was
    * right yesterday 14:00", the form of time travel incident response
    * actually reaches for. Commits run under an INJECTED commit clock
    * (v1@1000, v2@2000, v3@3000 — [[graft.io.VersionLog.withClock]], the
    * determinism seam), then the output pins the resolution law
    * `latest commit ≤ ts` at every interesting address: mid-interval
    * (1500 → v1), exact boundary (2000 → v2), the future (→ live v3),
    * and a restore-to-timestamp whose restored state must equal v1's
    * closed form while the restore itself commits as a NORMAL stamped
    * version. The oracle recomputes every addressed state from the
    * version definitions — a resolution off by one version breaks the
    * hash. Same single-process scratch contract as q87/q118.
    */
  def q121TimestampTravel(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey"),
      col("o_orderstatus"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = base.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val v2 = v1.withColumn("cents",
      when(pmod(col("o_orderkey"), lit(5)) === 0, col("cents") + 1)
        .otherwise(col("cents")))
    val v3 = base.filter(pmod(col("o_orderkey"), lit(97)) === 0)
      .withColumn("cents", lit(0L))
    val p = scratch("tstravel", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    // thread-scoped clock injection (VersionLog.withClock): commits of
    // UNRELATED tables in this JVM — parallel suites, concurrent bench
    // queries — keep the real clock; only this thread's commits inside
    // the scope see the synthetic 1000–4000 stamps
    var now = 1000L
    graft.io.VersionLog.withClock(() => now) {
      tbl.overwrite(v1)            // v1 @1000
      now = 2000L; tbl.overwrite(v2) // v2 @2000
      now = 3000L; tbl.overwrite(v3) // v3 @3000
      now = 4000L
      tbl.restoreToTimestamp(1500L) // resolves v1, commits v4 @4000
    }
    def agg(df: DataFrame, kind: String): DataFrame =
      df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(lit(kind).as("kind"), col("o_orderstatus"),
          col("n_rows"), col("sum_cents"))
    agg(tbl.readAsOf(s, 1500L), "asof_mid")        // v1
      .unionByName(agg(tbl.readAsOf(s, 2000L), "asof_boundary")) // v2
      .unionByName(agg(tbl.readAsOf(s, 2999L), "asof_preswap"))  // v2
      .unionByName(agg(tbl.readAsOf(s, 999999L), "asof_future")) // v4 ≡ v1
      .unionByName(agg(tbl.read(s), "restored"))   // live ≡ v1
  }

  /** Copy-on-write partitioned MERGE as a query (q123): [[graft.merge
    * .MergeOps.upsertIntoPartitioned]] — Delta MERGE's touched-file
    * rewrite at partition granularity on the versioned layout. The
    * orders table is partitioned by status; one batch mixes the three
    * merge shapes a CDC upsert produces: in-place updates (%7 keys,
    * cents bumped — same partition), cross-partition MOVES (%11 keys
    * re-statused to 'P' — origin partition rewritten or dropped,
    * destination gains the image), and brand-new keys (%5, absent from
    * the seed). The merge computes on the touched restriction only and
    * commits a `replace` with the EXACT feed; the in-query requires pin
    * exactly that shape (replace kind + logged feed + untouched
    * partitions never in removedPrefixes), and the output aggregates
    * the final state PLUS the CDF rolled up across the merge commit.
    * The oracle recomputes both from the closed-form batch definition —
    * a stale file in a touched partition, a lost move origin, or an
    * inexact feed breaks the hash. Scratch contract as q87/q118.
    */
  def q123CowMerge(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    // batch: priority move > bump; inserts carry the original image
    val updates = seed
      .filter(pmod(col("id"), lit(7)) === 0 || pmod(col("id"), lit(11)) === 0)
      .withColumn("status",
        when(pmod(col("id"), lit(11)) === 0, lit("P")).otherwise(col("status")))
      .withColumn("cents",
        when(pmod(col("id"), lit(11)) =!= 0 && pmod(col("id"), lit(7)) === 0,
          col("cents") + 100).otherwise(col("cents")))
    val inserts = base.filter(pmod(col("id"), lit(5)) === 0)
    val p = scratch("cowmerge", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString,
      partitionColumns = Seq("status"))
    tbl.overwrite(seed)
    graft.merge.MergeOps.upsertIntoPartitioned(s, tbl,
      updates.unionByName(inserts), Seq("id"))
    val rec = graft.io.VersionLog.readRecord(p.toString, 2)
    require(rec.exists(r => r.kind == "replace" && r.feed.nonEmpty),
      "q123: the merge must commit a feed-carrying replace, not a " +
        "snapshot overwrite")
    val state = tbl.read(s).groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit("state").as("kind"), col("status"),
        col("n_rows"), col("sum_cents"))
    val cdf = tbl.changesBetween(s, 1, 2)
      .groupBy(col("_change_type"), col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(concat(lit("cdf_"), col("_change_type")).as("kind"),
        col("status"), col("n_rows"), col("sum_cents"))
    state.unionByName(cdf)
  }

  /** SQL `MERGE INTO` as a query (q124): the q123 merge batch issued
    * through `spark.sql(...)` on a catalog-registered table — the
    * warehouse's defining write verb on the SQL deployment surface
    * (reference: every write is a Delta MERGE,
    * src/ETL/Bronze-Ingestion-Orders.py:51-58; here the statement form a
    * SQL user writes). Two statements run: the S9 upsert (`WHEN MATCHED
    * THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *` — commits
    * copy-on-write on the status-partitioned table) and a keyed `WHEN
    * MATCHED THEN DELETE` of the %13 keys. In-query requires pin that
    * each statement committed a feed-carrying REPLACE at the expected
    * version (the command's returned `table_version`), that the
    * post-merge CATALOG read (re-registered by the command) serves the
    * merged state, and that the SQL path's final state equals the
    * API-path algebra ([[graft.merge.MergeOps.upsert]]) per status.
    * The output aggregates the final state read back THROUGH SQL plus
    * the CDF of both merge commits; the oracle recomputes all of it
    * from the closed-form batch definitions (EXCEPT ALL deltas — the
    * q87/q123 discipline). Scratch contract as q87/q118.
    */
  def q124SqlMerge(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    // the q123 batch: priority move (%11 → 'P') > bump (%7 +100);
    // inserts carry the %5 keys unmodified
    val updates = seed
      .filter(pmod(col("id"), lit(7)) === 0 || pmod(col("id"), lit(11)) === 0)
      .withColumn("status",
        when(pmod(col("id"), lit(11)) === 0, lit("P")).otherwise(col("status")))
      .withColumn("cents",
        when(pmod(col("id"), lit(11)) =!= 0 && pmod(col("id"), lit(7)) === 0,
          col("cents") + 100).otherwise(col("cents")))
    val inserts = base.filter(pmod(col("id"), lit(5)) === 0)
    val batch = updates.unionByName(inserts)
    val p = scratch("sqlmerge", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString,
      partitionColumns = Seq("status"))
    tbl.overwrite(seed)
    graft.io.Catalog.ensureDatabase(s, "graft_q124")
    graft.io.Catalog.registerTable(s, "graft_q124", "orders_cow", tbl)
    batch.createOrReplaceTempView("q124_updates")
    base.filter(pmod(col("id"), lit(13)) === 0).select(col("id"))
      .createOrReplaceTempView("q124_deletes")

    val r1 = s.sql(
      """MERGE INTO graft_q124.orders_cow t USING q124_updates s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""").collect()
    require(r1.map(_.getLong(0)).toSeq == Seq(2L),
      s"q124: the SQL upsert must commit version 2, got " +
        r1.map(_.getLong(0)).mkString(","))
    val rec2 = graft.io.VersionLog.readRecord(p.toString, 2)
    require(rec2.exists(r => r.kind == "replace" && r.feed.nonEmpty),
      "q124: the SQL MERGE must commit a feed-carrying copy-on-write " +
        s"REPLACE, got ${rec2.map(_.kind)}")

    val r2 = s.sql(
      """MERGE INTO graft_q124.orders_cow t USING q124_deletes s
         ON t.id = s.id
         WHEN MATCHED THEN DELETE""").collect()
    require(r2.map(_.getLong(0)).toSeq == Seq(3L),
      "q124: the SQL delete must commit version 3")
    val rec3 = graft.io.VersionLog.readRecord(p.toString, 3)
    require(rec3.exists(r => r.kind == "replace" && r.feed.nonEmpty),
      "q124: the SQL DELETE must commit a feed-carrying copy-on-write " +
        s"REPLACE, got ${rec3.map(_.kind)}")

    // the catalog entry was re-registered by each command: this read
    // goes THROUGH the catalog name, not the table handle
    val state = s.sql(
      """SELECT 'state' AS kind, status, count(*) AS n_rows,
                sum(cents) AS sum_cents
         FROM graft_q124.orders_cow GROUP BY status""")
    // API-path parity: the same merge as pure MergeOps algebra must
    // land on the same per-status aggregate (SQL surface ≡ API)
    val apiState = graft.merge.MergeOps.upsert(seed, batch, Seq("id"))
      .filter(pmod(col("id"), lit(13)) =!= 0)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit("state").as("kind"), col("status"), col("n_rows"),
        col("sum_cents"))
    // both exceptAll directions in ONE action (a union probe) — two
    // separate isEmpty calls pay two full job launches for frames this
    // computation already proves tiny
    require(state.exceptAll(apiState)
        .unionByName(apiState.exceptAll(state)).isEmpty,
      "q124: SQL MERGE final state must equal the API-path merge algebra")
    def cdf(fromV: Int, toV: Int, tag: String): DataFrame =
      tbl.changesBetween(s, fromV, toV)
        .groupBy(col("_change_type"), col("status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(concat(lit(tag), col("_change_type")).as("kind"),
          col("status"), col("n_rows"), col("sum_cents"))
    state.unionByName(cdf(1, 2, "cdf2_")).unionByName(cdf(2, 3, "cdf3_"))
  }

  /** Column-level SQL MERGE as a query (q125): the assignment shapes a
    * warehouse SQL user writes daily — `UPDATE SET c = expr` evaluated
    * on the target ⋈ source join and `INSERT (cols) VALUES (exprs)`
    * with unassigned columns NULL-filled (SQL MERGE's fill rule) — on a
    * status-partitioned registered table, committing copy-on-write
    * like q124's star shapes. Matched %3 keys get cents bumped by 7
    * (expression over the source side); unmatched %3∧%5 keys insert
    * under a literal 'N' status with cents UNASSIGNED (→ NULL — the
    * n_priced column pins the fill rule in the hash). Oracle recomputes
    * the final state closed-form. Scratch contract as q87/q118.
    */
  def q125SqlMergeSet(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    val p = scratch("sqlmergeset", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString,
      partitionColumns = Seq("status"))
    tbl.overwrite(seed)
    graft.io.Catalog.ensureDatabase(s, "graft_q125")
    graft.io.Catalog.registerTable(s, "graft_q125", "orders_set", tbl)
    base.filter(pmod(col("id"), lit(3)) === 0)
      .createOrReplaceTempView("q125_src")
    val r = s.sql(
      """MERGE INTO graft_q125.orders_set t USING q125_src s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET cents = s.cents + 7
         WHEN NOT MATCHED THEN INSERT (id, status) VALUES (s.id, 'N')""")
      .collect()
    require(r.map(_.getLong(0)).toSeq == Seq(2L),
      "q125: the assignment MERGE must commit version 2")
    val rec = graft.io.VersionLog.readRecord(p.toString, 2)
    require(rec.exists(x => x.kind == "replace" && x.feed.nonEmpty),
      "q125: the assignment MERGE must commit a feed-carrying " +
        s"copy-on-write REPLACE, got ${rec.map(_.kind)}")
    s.sql(
      """SELECT status, count(*) AS n_rows, count(cents) AS n_priced,
                sum(cents) AS sum_cents
         FROM graft_q125.orders_set GROUP BY status""")
  }

  /** SQL DML as a query (q126): UPDATE / DELETE FROM / INSERT INTO on
    * a status-partitioned registered table — the three statements stock
    * Spark either rejects for non-v2 tables (UPDATE/DELETE) or would
    * execute as RAW FILE writes into the live version dir (INSERT,
    * bypassing the commit protocol); the graft bridge routes all three
    * through versioned commits. UPDATE and DELETE commit copy-on-write
    * REPLACEs with exact feeds, INSERT an append — the in-query
    * requires pin the commit kinds and versions, and the output
    * aggregates the final state read THROUGH the catalog plus the CDF
    * of each DML commit; the oracle recomputes everything closed-form
    * (the q124 discipline). Scratch contract as q87/q118.
    */
  def q126SqlDml(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    val p = scratch("sqldml", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString,
      partitionColumns = Seq("status"))
    tbl.overwrite(seed)
    graft.io.Catalog.ensureDatabase(s, "graft_q126")
    graft.io.Catalog.registerTable(s, "graft_q126", "orders_dml", tbl)
    base.filter(pmod(col("id"), lit(5)) === 0)
      .createOrReplaceTempView("q126_new")

    s.sql("UPDATE graft_q126.orders_dml SET cents = cents + 7 " +
      "WHERE id % 3 = 0").collect()
    // the delete is CONFINED to one partition (orders has only three
    // statuses — an unscoped %13 delete touches all of them and the
    // bridge correctly falls back to the full-snapshot commit; the COW
    // shape this query pins needs untouched leaves to exist)
    s.sql("DELETE FROM graft_q126.orders_dml " +
      "WHERE id % 13 = 0 AND status = 'F'").collect()
    // explicit column list: a partitioned table's committed order puts
    // partition columns LAST (Spark's positional-INSERT convention), so
    // name the columns instead of relying on position
    s.sql("INSERT INTO graft_q126.orders_dml (id, status, cents) " +
      "SELECT id, 'N', cents FROM q126_new").collect()
    require(tbl.version == 4,
      s"q126: three DML statements must commit versions 2..4, " +
        s"at ${tbl.version}")
    Seq(2 -> "replace", 3 -> "replace", 4 -> "append").foreach {
      case (v, kind) =>
        val rec = graft.io.VersionLog.readRecord(p.toString, v)
        require(rec.exists(_.kind == kind),
          s"q126: v$v must be a $kind commit, got ${rec.map(_.kind)}")
        if (kind == "replace") require(rec.exists(_.feed.nonEmpty),
          s"q126: v$v must carry its exact feed")
    }
    val state = s.sql(
      """SELECT 'state' AS kind, status, count(*) AS n_rows,
                sum(cents) AS sum_cents
         FROM graft_q126.orders_dml GROUP BY status""")
    def cdf(fromV: Int, toV: Int, tag: String): DataFrame =
      tbl.changesBetween(s, fromV, toV)
        .groupBy(col("_change_type"), col("status"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
        .select(concat(lit(tag), col("_change_type")).as("kind"),
          col("status"), col("n_rows"), col("sum_cents"))
    state.unionByName(cdf(1, 2, "cdf2_")).unionByName(cdf(2, 3, "cdf3_"))
      .unionByName(cdf(3, 4, "cdf4_"))
  }

  /** SQL maintenance verbs as a query (q127): `OPTIMIZE … ZORDER BY`,
    * `VACUUM`, and `DESCRIBE HISTORY` through `spark.sql(...)` — the
    * statements Delta adds to the grammar, matched by the graft parser
    * before delegation. Commits run under an injected clock (v1@1000,
    * v2@2000, the OPTIMIZE's rewrite @3000) so the HISTORY output is
    * closed-form; the in-query requires pin that VACUUM physically
    * reclaimed the non-live version dirs while the `_log` (and with it
    * DESCRIBE HISTORY and the live read) survives, and that the
    * OPTIMIZE committed a normal overwrite. Output = the history rows
    * (version/kind/stamp) UNION the post-maintenance state aggregate
    * read through the re-registered catalog name — data loss through
    * compact/vacuum, a wrong commit kind, or a non-monotonic stamp all
    * break the hash. Scratch contract as q87/q118.
    */
  def q127SqlMaintenance(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val v1 = base.filter(pmod(col("id"), lit(5)) =!= 0)
    val delta = base.filter(pmod(col("id"), lit(5)) === 0)
    val p = scratch("sqlmaint", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    graft.io.Catalog.ensureDatabase(s, "graft_q127")
    var now = 1000L
    graft.io.VersionLog.withClock(() => now) {
      tbl.overwrite(v1)            // v1 @1000
      now = 2000L
      tbl.appendVersion(delta)     // v2 @2000
      graft.io.Catalog.registerTable(s, "graft_q127", "orders_maint", tbl)
      now = 3000L
      val r = s.sql(
        "OPTIMIZE graft_q127.orders_maint ZORDER BY (id, cents)").collect()
      require(r.map(_.getLong(0)).toSeq == Seq(3L),
        "q127: OPTIMIZE must commit version 3")
      s.sql("VACUUM graft_q127.orders_maint").collect()
    }
    require(graft.io.VersionLog.readRecord(p.toString, 3)
        .exists(_.kind == "overwrite"),
      "q127: the OPTIMIZE rewrite must be a normal overwrite commit")
    Seq(1, 2).foreach { v =>
      require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(p.toString, f"v_$v%05d")),
        s"q127: VACUUM must reclaim the non-live v$v dir")
    }
    val hist = s.sql("DESCRIBE HISTORY graft_q127.orders_maint")
      .select(lit("history").as("kind"), col("version"),
        col("kind").as("commit"), unix_millis(col("timestamp")).as("ts_ms"),
        lit(null).cast("long").as("n_rows"),
        lit(null).cast("long").as("sum_cents"))
    val state = s.sql(
      """SELECT count(*) AS n_rows, sum(cents) AS sum_cents
         FROM graft_q127.orders_maint""")
      .select(lit("state").as("kind"), lit(null).cast("int").as("version"),
        lit(null).cast("string").as("commit"),
        lit(null).cast("long").as("ts_ms"), col("n_rows"), col("sum_cents"))
    hist.unionByName(state)
  }

  /** Conditional SQL MERGE as a query (q128): the clause algebra a real
    * CDC/SCD merge writes — ordered `WHEN MATCHED AND <cond>` clauses
    * (DELETE before UPDATE, first-true wins) plus a conditional
    * `WHEN NOT MATCHED AND <cond> THEN INSERT` — in ONE statement on a
    * status-partitioned registered table. The lowering builds row
    * images/delete keys per clause on the target ⋈ source join and
    * commits them as one copy-on-write CDC batch (exact feed, touched
    * leaves only — the q123/q124 commit shape, pinned in-query at the
    * VersionLog level). Source rows: the %3 keys with `delta = id%10`;
    * matched ∧ delta≥5 → DELETE, else matched ∧ even cents → bump by
    * delta, unmatched ∧ delta<5 → INSERT under status 'N' (cents =
    * delta). In-query requires additionally pin SQL ≡ the MergeOps
    * algebra (the same clause semantics as upsert-after-delete over
    * closed-form images) per status. Output = final state read THROUGH
    * the catalog + the CDF aggregate of the merge commit; the oracle
    * recomputes everything closed-form (EXCEPT ALL deltas — the q123
    * discipline). Scratch contract as q87/q118.
    */
  def q128SqlMergeCond(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    val srcDf = base.filter(pmod(col("id"), lit(3)) === 0)
      .select(col("id"), pmod(col("id"), lit(10)).as("delta"))
    val p = scratch("sqlmergecond", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString,
      partitionColumns = Seq("status"))
    tbl.overwrite(seed)
    graft.io.Catalog.ensureDatabase(s, "graft_q128")
    graft.io.Catalog.registerTable(s, "graft_q128", "orders_cond", tbl)
    srcDf.createOrReplaceTempView("q128_src")
    val r = s.sql(
      """MERGE INTO graft_q128.orders_cond t USING q128_src s
         ON t.id = s.id
         WHEN MATCHED AND s.delta >= 5 THEN DELETE
         WHEN MATCHED AND t.cents % 2 = 0 THEN
           UPDATE SET cents = t.cents + s.delta
         WHEN NOT MATCHED AND s.delta < 5 THEN
           INSERT (id, status, cents) VALUES (s.id, 'N', s.delta)""")
      .collect()
    require(r.map(_.getLong(0)).toSeq == Seq(2L),
      "q128: the conditional MERGE must commit version 2")
    val rec = graft.io.VersionLog.readRecord(p.toString, 2)
    require(rec.exists(x => x.kind == "replace" && x.feed.nonEmpty),
      "q128: the conditional MERGE must commit a feed-carrying " +
        s"copy-on-write REPLACE, got ${rec.map(_.kind)}")
    val state = s.sql(
      """SELECT 'state' AS kind, status, count(*) AS n_rows,
                sum(cents) AS sum_cents
         FROM graft_q128.orders_cond GROUP BY status""")
    // API-path parity: the same clause semantics as MergeOps algebra —
    // delete the matched delta≥5 keys, then upsert the closed-form
    // update images and the conditional inserts
    val delIds = srcDf.filter(col("delta") >= 5).select(col("id"))
    val afterDel = seed.join(delIds, Seq("id"), "left_anti")
    val updImages = seed.join(srcDf.filter(col("delta") < 5), Seq("id"))
      .filter(pmod(col("cents"), lit(2)) === 0)
      .select(col("id"), col("status"),
        (col("cents") + col("delta")).as("cents"))
    val inserts = srcDf.filter(col("delta") < 5)
      .join(seed.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), lit("N").as("status"), col("delta").as("cents"))
    val apiState = graft.merge.MergeOps
      .upsert(afterDel, updImages.unionByName(inserts), Seq("id"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(lit("state").as("kind"), col("status"), col("n_rows"),
        col("sum_cents"))
    // one-action parity probe (q124's rationale)
    require(state.exceptAll(apiState)
        .unionByName(apiState.exceptAll(state)).isEmpty,
      "q128: the conditional SQL MERGE final state must equal the " +
        "MergeOps-algebra closed form")
    val cdf = tbl.changesBetween(s, 1, 2)
      .groupBy(col("_change_type"), col("status"))
      .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("sum_cents"))
      .select(concat(lit("cdf_"), col("_change_type")).as("kind"),
        col("status"), col("n_rows"), col("sum_cents"))
    state.unionByName(cdf)
  }

  /** SQL-only deployment loop (q129): a graft table taken through its
    * ENTIRE life purely via `spark.sql(…)` — `CREATE TABLE … USING
    * graft PARTITIONED BY … AS SELECT` (CTAS initializes version 1 at
    * the location and registers it: catalog entry + commit-metadata
    * stats + the DML registry), `MERGE INTO` (the q124 upsert batch —
    * copy-on-write replace with exact feed, pinned at the VersionLog
    * level), a live read THROUGH the catalog name, SQL time travel
    * (`VERSION AS OF 1` must serve the pre-merge CTAS snapshot), and
    * `DESCRIBE HISTORY` (closed-form commit kinds: one overwrite, one
    * replace). This is the reference's declarative table lifecycle
    * (reference: src/ETL/Bronze-Ingestion-Orders.py:16-17,40-45 creates
    * database + tables before the first merge) with zero Scala in the
    * loop — the [[org.apache.spark.sql.GraftSqlDdl]] surface. Oracle
    * recomputes state, v1 snapshot and history closed-form. Scratch
    * contract as q87/q118.
    */
  def q129SqlDdl(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    // the q124 merge batch: priority move (%11 → 'P') > bump (%7 +100);
    // inserts carry the %5 keys unmodified
    val updates = seed
      .filter(pmod(col("id"), lit(7)) === 0 || pmod(col("id"), lit(11)) === 0)
      .withColumn("status",
        when(pmod(col("id"), lit(11)) === 0, lit("P")).otherwise(col("status")))
      .withColumn("cents",
        when(pmod(col("id"), lit(11)) =!= 0 && pmod(col("id"), lit(7)) === 0,
          col("cents") + 100).otherwise(col("cents")))
    val batch = updates.unionByName(base.filter(pmod(col("id"), lit(5)) === 0))
    val p = scratch("sqlddl", dir)
    graft.io.FsUtil.deleteRecursively(p)
    seed.createOrReplaceTempView("q129_seed")
    batch.createOrReplaceTempView("q129_batch")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_q129")
    // same-session rerun: retire any previous registration (the data
    // dir is already gone) so CREATE exercises the fresh path
    s.sql("DROP TABLE IF EXISTS graft_q129.orders_ddl")
    val r0 = s.sql(
      s"""CREATE TABLE graft_q129.orders_ddl USING graft
          PARTITIONED BY (status) LOCATION '$p'
          AS SELECT * FROM q129_seed""").collect()
    require(r0.map(_.getLong(0)).toSeq == Seq(1L),
      "q129: CTAS must initialize version 1")
    val r1 = s.sql(
      """MERGE INTO graft_q129.orders_ddl t USING q129_batch s
         ON t.id = s.id
         WHEN MATCHED THEN UPDATE SET *
         WHEN NOT MATCHED THEN INSERT *""").collect()
    require(r1.map(_.getLong(0)).toSeq == Seq(2L),
      "q129: the SQL MERGE must commit version 2")
    val rec = graft.io.VersionLog.readRecord(p.toString, 2)
    require(rec.exists(r => r.kind == "replace" && r.feed.nonEmpty),
      "q129: the merge must commit a feed-carrying copy-on-write " +
        s"REPLACE, got ${rec.map(_.kind)}")
    val state = s.sql(
      """SELECT 'state' AS kind, status, count(*) AS n_rows,
                sum(cents) AS sum_cents
         FROM graft_q129.orders_ddl GROUP BY status""")
    // SQL time travel: VERSION AS OF 1 is the CTAS snapshot (= seed)
    val v1 = s.sql(
      """SELECT 'v1' AS kind, status, count(*) AS n_rows,
                sum(cents) AS sum_cents
         FROM graft_q129.orders_ddl VERSION AS OF 1 GROUP BY status""")
    // DESCRIBE HISTORY: closed-form commit kinds (overwrite, replace)
    val hist = s.sql("DESCRIBE HISTORY graft_q129.orders_ddl")
      .groupBy(col("kind")).agg(count(lit(1)).as("n_rows"))
      .select(lit("history").as("kind"), col("kind").as("status"),
        col("n_rows"), lit(null).cast("long").as("sum_cents"))
    state.unionByName(v1).unionByName(hist)
  }

  /** SQL RESTORE + SHALLOW CLONE lifecycle (q130): the rollback and
    * branching verbs purely via `spark.sql(…)` — CTAS seed (v1), a SQL
    * UPDATE (v2, COW replace), `RESTORE TABLE … TO VERSION AS OF 1`
    * (v3: rollback as ONE MORE COMMIT — hard links, history intact,
    * q119's semantics now SQL-addressable), then `CREATE TABLE …
    * SHALLOW CLONE …` (zero-copy branch, q120's semantics) and an
    * insert-only SQL MERGE into the clone that must NOT leak back into
    * the source. Output: per-status state of BOTH tables plus the
    * source's commit-kind census off `DESCRIBE HISTORY`; the oracle
    * recomputes everything closed-form (restored state ≡ the seed,
    * clone ≡ seed ∪ the inserted keys, history = 2 overwrites + 1
    * replace). Scratch contract as q87/q118.
    */
  def q130SqlRestoreClone(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "orders").select(col("o_orderkey").as("id"),
      col("o_orderstatus").as("status"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
    val seed = base.filter(pmod(col("id"), lit(5)) =!= 0)
    val p = scratch("sqlrestore", dir)
    val pc = scratch("sqlclone", dir)
    graft.io.FsUtil.deleteRecursively(p)
    graft.io.FsUtil.deleteRecursively(pc)
    seed.createOrReplaceTempView("q130_seed")
    base.filter(pmod(col("id"), lit(5)) === 0)
      .createOrReplaceTempView("q130_inserts")
    s.sql("CREATE DATABASE IF NOT EXISTS graft_q130")
    s.sql("DROP TABLE IF EXISTS graft_q130.src")
    s.sql("DROP TABLE IF EXISTS graft_q130.branch")
    s.sql(s"""CREATE TABLE graft_q130.src USING graft
              PARTITIONED BY (status) LOCATION '$p'
              AS SELECT * FROM q130_seed""").collect()
    s.sql("UPDATE graft_q130.src SET cents = cents + 7 WHERE id % 3 = 0")
      .collect()
    val rv = s.sql("RESTORE TABLE graft_q130.src TO VERSION AS OF 1")
      .collect()
    require(rv.map(_.getLong(0)).toSeq == Seq(3L),
      "q130: the restore must be commit #3 (rollback never rewrites " +
        "history)")
    val cv = s.sql("CREATE TABLE graft_q130.branch SHALLOW CLONE " +
      s"graft_q130.src LOCATION '$pc'").collect()
    require(cv.map(_.getLong(0)).toSeq == Seq(1L),
      "q130: the clone must start its own history at version 1")
    s.sql("""MERGE INTO graft_q130.branch t USING q130_inserts s
             ON t.id = s.id
             WHEN NOT MATCHED THEN INSERT *""").collect()
    def agg(table: String, kind: String): DataFrame =
      s.sql(s"""SELECT '$kind' AS kind, status, count(*) AS n_rows,
                       sum(cents) AS sum_cents
                FROM graft_q130.$table GROUP BY status""")
    val hist = s.sql("DESCRIBE HISTORY graft_q130.src")
      .groupBy(col("kind")).agg(count(lit(1)).as("n_rows"))
      .select(lit("hist").as("kind"), col("kind").as("status"),
        col("n_rows"), lit(null).cast("long").as("sum_cents"))
    agg("src", "src").unionByName(agg("branch", "clone")).unionByName(hist)
  }

  /** Unigram-LM tokenizer training (q113) — the OTHER production
    * tokenizer family next to q88's BPE (Kudo 2018; SentencePiece
    * `--model_type=unigram`): seed substring vocabulary → EM over the
    * capped word table (each E-step ONE shuffle of integer micro-unit
    * expected counts — see [[graft.northstar.UnigramLm]]'s determinism
    * contract) → SentencePiece-style loss-ranked pruning to the target
    * vocabulary. Iterative (the model rewrites per round) → rows-only
    * correctness; [[graft.tools.Accuracy]] gates the learned (piece,
    * logp_micro) table EXACTLY against an independently-coded in-memory
    * reference, at both tiers — the integer quantization is what makes an
    * exact cross-implementation gate possible at all.
    */
  def q113UnigramLearn(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.UnigramLm
    val words = q113WordPlan(s, dir).persist()
    try {
      words.count() // EM iterates over it; never recompute the corpus scan
      val model = q113Train(s, dir, words)
      // the serving artifact: q114 (and any tokenize job of this corpus
      // vintage) loads this instead of retraining — q50's build contract
      UnigramLm.persist(s, unigramScratch(dir), model)
      UnigramLm.modelToDF(s, model)
    } finally { words.unpersist(); () }
  }

  /** Unigram-LM tokenization (q114) — q92's word-cache shape on the
    * q113 model: Viterbi segmentation (exact micro-nat LONG dp, explicit
    * longest-piece tiebreak) runs once per DISTINCT piece, the corpus
    * side broadcast-joins piece → (token count, score) and rolls up per
    * document. 2 shuffles at any corpus size. Rows-only (the segmenter
    * is iterative); the Accuracy gate replays every document DIRECTLY
    * (no piece cache) in the independent reference, so the cache-join
    * shape itself is cross-checked — the q92 discipline.
    */
  def q114UnigramTokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.northstar.{BpeLearn, UnigramLm}
    val docs = t(s, dir, "documents")
    // persisted: the capped trainer collect AND the distinct-piece
    // tokenize stage both read the piece table
    val vocabDf = BpeLearn.pieceCounts(docs, "text", BpePiecePattern)
      .persist()
    try {
      // the q112 serving shape: load the shared fingerprinted model when
      // q113 already trained this corpus vintage; train-and-persist once
      // otherwise (training is deterministic, so load ≡ retrain exactly)
      val model = UnigramLm.load(s, unigramScratch(dir)).getOrElse {
        // the q113 discipline: EM iterates over the capped table, so the
        // fallback must persist it too or every seed/E-step pass re-runs
        // the global sort+limit
        val words = BpeLearn.topVocabPlan(vocabDf, UnigramWordCap).persist()
        try {
          words.count()
          val m = q113Train(s, dir, words)
          UnigramLm.persist(s, unigramScratch(dir), m)
          m
        } finally { words.unpersist(); () }
      }
      // lives for the returned frame's lifetime (the lazy pieceTok stage
      // reads it on every execution) — reclaimed by the ContextCleaner
      // when the frame goes out of scope, the q92 bcRanks contract
      val bc = s.sparkContext.broadcast(model)
      // vocabulary-sized imperative stage: segment each DISTINCT piece
      val pieceTok = vocabDf.select(col("piece")).as[String]
        .map { p =>
          val (pieces, score) = UnigramLm.viterbi(p, bc.value)
          (p, pieces.length, score)
        }
        .toDF("piece", "piece_tokens", "piece_logp_micro")
      docs
        .select(col("doc_id"),
          explode(BpeLearn.pieceArray(col("text"), BpePiecePattern))
            .as("piece"))
        .join(broadcast(pieceTok), Seq("piece"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_pieces"),
          sum(col("piece_tokens")).cast("long").as("n_tokens"),
          sum(col("piece_logp_micro")).as("logp_micro"))
    } finally { vocabDf.unpersist(); () }
  }

  /** Substitute plans for queries whose data-scale stage executes EAGERLY
    * inside the query constructor, so the returned frame is driver-local
    * and its plan says nothing about the distributed work.
    * [[graft.tools.PlanAudit]] audits these in place of the registered
    * query — q88's entry is exactly the corpus stage the merge loop
    * consumes (scan → piece shuffle → bounded top-V).
    */
  val auditPlans: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q88_bpe_learn" -> (q88VocabPlan _),
    // q113's data-scale stages: the corpus word fold (shared with q88's
    // cap discipline) — the EM loop itself iterates collect-sized
    // aggregates over this table's persisted form
    "q113_unigram_learn" -> (q113WordPlan _),
    // q107/q108 materialize the BM25 arm eagerly (Bm25.topK persists and
    // counts), so the registered frame's plan is a cached-relation scan;
    // audit the real stages instead — stats cached-and-materialized like
    // production, then the scoring/rank (and for q108 the dense arm +
    // fusion) plan over it
    "q107_bm25_topk" -> ((s: SparkSession, dir: String) => {
      val stats = Bm25.docTermStats(t(s, dir, "documents"), "doc_id",
        "text", Bm25Queries.flatMap(_._2).distinct.sorted).persist()
      stats.count()
      Bm25.scoreAndRank(stats, Bm25Queries, Bm25TopK)
    }),
    "q108_hybrid_rrf" -> ((s: SparkSession, dir: String) => {
      val stats = Bm25.docTermStats(t(s, dir, "documents"), "doc_id",
        "text", Bm25Queries.flatMap(_._2).distinct.sorted).persist()
      stats.count()
      val sparse = Bm25.scoreAndRank(stats, Bm25Queries, Bm25TopK)
        .select(col("query_id"), col("doc_id"),
          col("rank").as("sparse_rank"))
      val emb = t(s, dir, "embeddings")
      val probes = emb.filter(col("vec_id").isin(DenseProbes.map(_._2): _*))
      val qidFor = DenseProbes.foldLeft(lit(null).cast("int")) {
        case (acc, (qid, vid)) =>
          when(col("query_id") === vid, lit(qid)).otherwise(acc)
      }
      val dense = Similarity
        .bruteForceTopK(emb, probes, "vec_id", "embedding", k = Bm25TopK)
        .select(qidFor.as("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("dense_rank"))
      HybridRetrieval.fuse(sparse, dense, Bm25TopK)
    }),
    // the per-iteration unit q93 checkpoints K times — edges ⋈ scores ⋈
    // outdeg → rollup on dst; the end-to-end query's plan is a
    // checkpoint scan that shows none of it
    "q93_supplier_rank" -> ((s: SparkSession, dir: String) => {
      // inputs cached-and-materialized like the real loop's state: in
      // q93 the edge table is persisted once and scores are the prior
      // round's materialized cache — auditing against stat-less
      // (checkpointed) leaves would lose the cached relations' size
      // statistics, flip the node-sized joins to SMJ, and overstate the
      // round at 5 exchanges where the real loop's rounds broadcast
      // (1 rollup exchange); auditing the un-persisted expansion would
      // likewise overstate by the one-off edge-build cost
      val edges = q93Edges(s, dir).persist()
      val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .persist()
      outdeg.count() // materialize both caches so stats are real
      val s0 = outdeg.select(col("src").as("node"),
        lit(1000000L).as("score")).persist()
      s0.count()
      graft.northstar.GraphRank.round(edges, outdeg, s0, base = 1L,
        dampNum = graft.northstar.GraphRank.DefaultDamp)
    }),
    // q97's commits + advances run eagerly inside the constructor (the
    // returned frame is a gold scan) — audit the repeated maintenance
    // unit instead: one signed-CDF fold into the current gold
    "q97_cdf_gold_maintenance" -> ((s: SparkSession, dir: String) => {
      q97CdfGoldMaintenance(s, dir).count() // ensure the scratch state exists
      val src = new graft.io.ParquetTable(scratch("cdfgold_src", dir).toString)
      val gold = new graft.io.ParquetTable(scratch("cdfgold_gold", dir).toString)
      graft.gold.GoldMaintenance.incrementalPlan(s, src, gold,
        keys = Seq("o_orderstatus"), value = col("cents"),
        fromV = 2, toV = 3)
    }),
    // q116's commits + advances run eagerly too (q97's shape) — audit
    // the repeated percentile-fold unit: feed-served CDF → one
    // changes-sized shuffle → gold-sized histogram merge
    "q116_gold_percentile" -> ((s: SparkSession, dir: String) => {
      q116GoldPercentile(s, dir).count() // ensure the scratch state exists
      val src = new graft.io.ParquetTable(scratch("qhist_src", dir).toString)
      val gold = new graft.io.ParquetTable(scratch("qhist_gold", dir).toString)
      graft.gold.GoldMaintenance.percentileIncrementalPlan(s, src, gold,
        keys = Seq("o_orderstatus", "o_orderpriority"), value = col("cents"),
        ps = Seq(("p50", 50, 100), ("p95", 95, 100)), fromV = 2, toV = 3)
    }))

  /** Markup → text extraction (q89): each document wrapped in the
    * deterministic [[graft.northstar.MarkupExtract.PageParts]] page
    * (style/script blocks, a comment, quoted attributes, entity-escaped
    * body text), then extracted back to clean text — the stage every
    * web-scale pipeline (CCNet/RefinedWeb/Dolma) runs before quality or
    * dedup. Zero shuffles: synthesis + extraction are codegen'd string
    * algebra inside the scan stage; output is per-doc length + md5 so the
    * oracle (same single-sourced patterns rendered as RE2 SQL) must
    * reproduce the extracted text BYTE-identically, not just its shape.
    */
  def q89MarkupExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.MarkupExtract
    val html =
      MarkupExtract.synthesizePage(col("doc_id"), col("source"), col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        MarkupExtract.extractText(html).as("clean"))
      .select(col("doc_id"), col("source"),
        length(col("clean")).cast("long").as("clean_len"),
        md5(col("clean")).as("clean_md5"))
  }

  /** Audio frame sampling (q90): REAL 16-bit PCM decode of the synthetic
    * WAV corpus, then fixed-width frame energy stats — the audio
    * feature-extraction stage of a multimodal training pipeline
    * (frame-level peaks are what VAD/silence trimming and loudness
    * normalization consume). The byte→samples step is the seam's
    * imperative-codec slot ([[Multimodal.MediaDecoder.ContainerHeaders
    * .pcmSamples]], a typed map); every stat downstream is codegen'd HOF
    * algebra over the samples array — zero shuffles, scan-stage parallel
    * at any corpus size. The payload PCM is closed-form in doc_id
    * (MediaBuilders' deterministic filler), so the DuckDB oracle
    * recomputes every sample ARITHMETICALLY, never seeing the bytes:
    * builder, chunk walk, sign extension, or framing drift all break the
    * hash. sample_rate/channels come from the parsed `fmt ` chunk, not
    * the synthesis parameters — the parse path is what's checked.
    */
  def q90AudioFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    val parsed = Multimodal
      .syntheticMediaFromDocs(t(s, dir, "documents").select(col("doc_id")))
      .filter((r: Multimodal.MediaRow) => r.meta.kind == "wav")
      .map { r =>
        val (fmt, samples) = dec.pcmWithFormat(r.payload).getOrElse(
          sys.error(s"q90: undecodable PCM for media ${r.media_id}"))
        (r.media_id, fmt.sample_rate, fmt.channels, samples)
      }
      .toDF("doc_id", "sample_rate", "channels", "samples")
    parsed.select(col("doc_id"), col("sample_rate"), col("channels"),
      size(col("samples")).cast("long").as("n_samples"),
      expr("CAST((size(samples) + 3) DIV 4 AS BIGINT)").as("n_frames"),
      expr("aggregate(samples, CAST(0 AS BIGINT), (a, x) -> a + abs(x))")
        .as("sum_abs"),
      coalesce(expr("array_max(transform(samples, x -> abs(x)))"), lit(0))
        .cast("long").as("max_abs"),
      expr("""CASE WHEN size(samples) = 0 THEN CAST(0 AS BIGINT)
              ELSE aggregate(
                transform(sequence(0, CAST((size(samples) - 1) DIV 4 AS INT)),
                  f -> array_max(transform(
                    slice(samples, f * 4 + 1, 4), x -> abs(x)))),
                CAST(0 AS BIGINT), (a, p) -> a + p) END""")
        .as("sum_frame_peaks"))
  }

  /** BPE tokenization (q92): APPLY the learned merge table corpus-wide —
    * the other half of the tokenizer story (q88 learns; this tokenizes).
    * The scale shape is the one every production tokenizer uses (the HF
    * "word cache"): the apply loop runs once per DISTINCT piece — a
    * vocabulary-sized typed map, not a per-occurrence loop — and the
    * corpus-scale side is pure relational algebra: explode the per-doc
    * piece arrays, broadcast-join the piece→token-count table, and
    * distributively re-aggregate per document. Two shuffles (piece
    * vocabulary, doc rollup) regardless of corpus size; the imperative
    * work is O(distinct pieces), sublinear in corpus bytes (Heaps' law).
    * Not SQL-expressible (the apply loop is iterative) → rows-only
    * CORRECTNESS; [[graft.tools.Accuracy]] gates every per-doc token
    * count against an independently-coded reference that tokenizes each
    * document DIRECTLY (no distinct-piece cache), so the cache-join
    * shape itself is cross-checked.
    */
  def q92BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.northstar.BpeLearn
    val docs = t(s, dir, "documents")
    // persisted: the eager topVocab collect AND the lazy pieceTok stage
    // both read it — unpersisted, the corpus scan + piece shuffle would
    // run twice (the harness's per-query clearCache releases it)
    val vocabDf = BpeLearn.pieceCounts(docs, "text", BpePiecePattern)
      .persist()
    val vocab = BpeLearn.topVocab(vocabDf, BpeVocabCap)
    val ranks = BpeLearn.learnMerges(vocab, BpeNumMerges)
      .map(m => ((m.left, m.right), m.rank)).toMap
    val bcRanks = s.sparkContext.broadcast(ranks)
    // vocabulary-sized imperative stage: tokenize each DISTINCT piece
    val pieceTok = vocabDf.select(col("piece")).as[String]
      .map(p => (p, BpeLearn.applyMerges(p, bcRanks.value).length))
      .toDF("piece", "piece_tokens")
    docs
      .select(col("doc_id"),
        explode(BpeLearn.pieceArray(col("text"), BpePiecePattern))
          .as("piece"))
      .join(broadcast(pieceTok), Seq("piece"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pieces"),
        sum(col("piece_tokens")).cast("long").as("n_tokens"))
  }

  /** Schema evolution (q95): drive a REAL evolved commit — v1 without
    * the priority column, an [[graft.io.ParquetTable.appendVersion]]
    * whose delta carries it — then read the live table back through the
    * committed evolved schema and roll up per (status, priority). The
    * oracle recomputes the union with v1's priority as NULL, so the
    * schema-first read must null-fill base rows EXACTLY (footer
    * inference over the mixed-schema version dir could silently drop the
    * column — the failure this machinery exists to prevent). Same
    * single-process scratch contract as q87.
    */
  def q95SchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    val base = orders.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"))
    val delta = orders.filter(pmod(col("o_orderkey"), lit(3)) === 1)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_orderpriority"))
    val p = scratch("schevo", dir)
    graft.io.FsUtil.deleteRecursively(p)
    val tbl = new graft.io.ParquetTable(p.toString)
    tbl.overwrite(base)
    tbl.appendVersion(delta)
    tbl.read(s)
      .groupBy(col("o_orderstatus"),
        coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
          .as("priority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_orderkey")).as("key_sum"))
  }

  /** Leakage-free train/val/test split (q94): the split key is the
    * near-dup CLUSTER, not the document — so two near-duplicate
    * documents can never land in different splits, the train/test
    * contamination that per-doc hashing (q41) cannot rule out and that
    * inflates eval scores on real corpora. Composition: q24's exact
    * near-dup pairs → connected components (cluster = min doc_id;
    * unpaired docs are their own singleton cluster) → q41's
    * deterministic Knuth-hash split applied to the CLUSTER id → per-split
    * cluster/doc/token rollup. Scale shape: the component labels are
    * duplicates-sized ≪ corpus, so the corpus side takes a BROADCAST
    * left join (the [[Dedup.dropNearDuplicates]] rationale) — no corpus
    * shuffle beyond the final rollup. The oracle recomputes the full
    * closure (recursive CTE) plus the same generated split CASE, so
    * clustering, hashing, and rollup are all hash-checked together.
    */
  def q94LeakageFreeSplit(s: SparkSession, dir: String): DataFrame = {
    val comp = Dedup.connectedComponents(q24MinhashNearDups(s, dir),
        // the pair graph is duplicates-sized — right-size its rounds
        roundPartitions = Some(8))
      .select(col("id").as("doc_id"), col("comp"))
    t(s, dir, "documents")
      .join(broadcast(comp), Seq("doc_id"), "left")
      .withColumn("cl", coalesce(col("comp"), col("doc_id")))
      .withColumn("split",
        Sampling.splitLabel(Sampling.modKey(col("cl"), seed = 7L),
          SplitWeights))
      .groupBy(col("split"))
      .agg(countDistinct(col("cl")).as("n_clusters"),
        count(lit(1)).as("docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("tokens"))
  }

  /** Integer PageRank (q93): graph-authority ranking of suppliers over
    * the customer↔supplier interaction graph — the crawl-curation shape
    * (CommonCrawl-style centrality feeding quality-weighted sampling).
    * Nodes are namespaced 2·custkey / 2·suppkey+1; edges are the
    * per-lineitem (customer, supplier) pairs in both directions — repeat
    * business weights the walk, and no node dangles. [[graft.northstar.GraphRank.pageRank]] runs
    * [[PageRankIters]] rounds in pure 64-bit integer arithmetic
    * (multiply / floor-divide / sum), which makes a fixed-iteration
    * DuckDB replay EXACT — the oracle chains the same K iterations as
    * generated CTEs and must hash-match the top-20, something
    * floating-point PageRank can never promise across engines. The
    * oracle interpolates [[graft.northstar.GraphRank]]'s single-sourced
    * damp/scale constants, so engine and oracle cannot desynchronize.
    * Per round: ONE node-sized broadcast join of the scores against the
    * persisted degree-folded edge table + one rollup exchange (degrees
    * are static, so their join is paid once at materialization, not per
    * round); the node-count scalar is the one driver value. GraphRank
    * materializes rounds eagerly and releases each predecessor — exactly
    * one cached relation (the final scores) outlives the call, released
    * by the harness's per-query `spark.catalog.clearCache()`. In the
    * big-node regime where scores exceed any broadcast budget, the
    * `coPartition` path keeps every round exchange-free on the edge side
    * (ScaleSpec proves the plan).
    */
  val PageRankIters = 4

  /** The namespaced bidirectional customer↔supplier edge table q93 ranks
    * over — shared with the plan-audit entry. Deliberately NOT
    * deduplicated: one edge per lineitem relationship, so repeat business
    * weights the walk (a customer ordering from a supplier across many
    * orders confers more authority) — and the distinct's extra full
    * shuffle of the edge table disappears.
    */
  private def q93Edges(s: SparkSession, dir: String): DataFrame = {
    // weighted compression: (c, s, multiplicity) — one weighted edge is
    // bit-exactly w parallel copies (each copy contributes the identical
    // floor term), at a fraction of the per-round edge volume
    // raw per-lineitem edges, NOT pre-aggregated to GraphRank's weighted
    // form: this corpus has ~2% parallel-edge multiplicity, so the
    // compression would not pay for its aggregation shuffle (measured) —
    // a corpus with heavy repeat relationships would flip that trade and
    // pass (src, dst, w) instead. Both directions via explode off ONE
    // pass — a self-union would re-execute the join once per branch.
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_suppkey").as("sp"))
      // spread the edge cache across the executor cores BEFORE the 2×
      // explode (half the shuffled bytes): the pruned lineitem scan is
      // 3 input splits here, which would leave the edge materialization
      // AND every round's probe stage 3-task-bound; one small shuffle at
      // build time buys 4 fully-parallel rounds (measured −0.4 s at
      // sf0.1, and exactly the layout a cluster deployment would pick).
      // Sized from the session's scheduler width, never a constant — a
      // literal tuned to one machine would under-spread on a cluster.
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(array(
        struct((col("c") * 2).as("src"), (col("sp") * 2 + 1).as("dst")),
        struct((col("sp") * 2 + 1).as("src"), (col("c") * 2).as("dst"))))
        .as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  def q93SupplierRank(s: SparkSession, dir: String): DataFrame =
    graft.northstar.GraphRank
      .pageRank(q93Edges(s, dir), iterations = PageRankIters,
        // the edge table is structurally bidirectional — every node has
        // an in-edge, so the universe join is provably redundant here
        allNodesReceive = true,
        // the rollup keys are the ~16k graph NODES, not the edge table —
        // right-size the per-round exchange to that (a caller with a
        // bigger graph scales this with node count, or leaves the
        // session default)
        roundPartitions = Some(8))
      .filter(pmod(col("node"), lit(2)) === 1)
      .select(expr("(node - 1) DIV 2").as("s_suppkey"), col("score"))
      .orderBy(col("score").desc, col("s_suppkey").asc)
      .limit(20)

  /** Image channel statistics (q91): REAL PNG pixel decode — zlib
    * inflate of the IDAT stream + scanline unfilter
    * ([[Multimodal.MediaDecoder.ContainerHeaders.pngPixels]]) — then
    * per-channel RGB sums, the normalization statistics an image training
    * pipeline computes corpus-wide (dataset mean/std). The compressed
    * bytes are opaque, but the DECODED pixels are closed-form in doc_id
    * ([[Multimodal.MediaBuilders.pngWithPixels]]: pixel byte j =
    * (id + j·131) & 0xff), so the DuckDB oracle recomputes every channel
    * sum arithmetically — builder, chunk walk, inflate, or unfilter
    * drift all break the hash. Decode is the seam's imperative-codec
    * slot; zero shuffles, scan-stage parallel. Width/height come from
    * the parsed IHDR, not the synthesis parameters.
    */
  def q91PngPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .as[Long]
      .map { id =>
        val pw = (4 + id % 13).toInt
        val ph = (3 + id % 11).toInt
        val payload = Multimodal.MediaBuilders.pngWithPixels(pw, ph, id)
        val (w, h, px) = dec.pngPixels(payload).getOrElse(
          sys.error(s"q91: undecodable PNG for doc $id"))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var mx = 0
        var j = 0
        while (j < px.length) {
          val v = px(j) & 0xff
          (j % 3: @unchecked) match {
            case 0 => sr += v; case 1 => sg += v; case 2 => sb += v
          }
          if (v > mx) mx = v
          j += 1
        }
        (id, w, h, w.toLong * h, sr, sg, sb, mx.toLong)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_r", "sum_g",
        "sum_b", "max_byte")
  }

  /** JPEG channel statistics (q96): REAL baseline DCT decode — marker
    * walk, DHT canonical-code build, entropy unstuffing, DC-predictor
    * differencing, dequantization, IDCT, level shift
    * ([[Multimodal.MediaDecoder.ContainerHeaders.jpegPixels]]) — then
    * per-image luminance stats, completing for JPEG what q91 does for
    * PNG and q90 for WAV. The synthesized corpus
    * ([[Multimodal.MediaBuilders.jpegBaseline]]) carries REAL
    * Huffman-entropy-coded scans whose blocks are DC-only, so every
    * decoded pixel is closed-form in (doc_id, block): dc(id,k) + 128
    * with Q00 = 8 — the DuckDB oracle recomputes all sums/extrema
    * arithmetically, and any drift in the builder's entropy coding, the
    * table build, the bit reader, the predictor, the dequant, or the
    * IDCT breaks the hash. Width/height come from the decoder's SOF0
    * parse, not the synthesis parameters. AC-coefficient decoding is
    * cross-checked against an independent decoder in MultimodalSpec
    * (compliant IDCTs may differ ±1, so no exact oracle there). Zero
    * shuffles — decode is the seam's imperative-codec slot, scan-stage
    * parallel at any corpus size.
    */
  def q96JpegPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .as[Long]
      .map { id =>
        val w = (8 * (1 + id % 5)).toInt
        val h = (8 * (1 + id % 4)).toInt
        val nb = (w / 8) * (h / 8)
        val dcs =
          Array.tabulate(nb)(k => (((id * 31 + k * 17) % 200) - 100).toInt)
        val payload = Multimodal.MediaBuilders.jpegBaseline(w, h, dcs)
        val (dw, dh, px) = dec.jpegPixels(payload).getOrElse(
          sys.error(s"q96: undecodable JPEG for doc $id"))
        var sum = 0L
        var mn = 255
        var mx = 0
        var j = 0
        while (j < px.length) {
          val v = px(j) & 0xff
          sum += v
          if (v < mn) mn = v
          if (v > mx) mx = v
          j += 1
        }
        (id, dw, dh, dw.toLong * dh, sum, mn.toLong, mx.toLong)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_gray",
        "min_gray", "max_gray")
  }

  /** Color-JPEG channel statistics (q99): q96's color sibling — REAL
    * 3-component baseline decode (interleaved MCU walk, per-component
    * predictors and tables) plus the INTEGER fixed-point YCbCr→RGB
    * conversion, then per-channel RGB sums. The synthesized corpus
    * ([[Multimodal.MediaBuilders.jpegBaselineColor]], 4:4:4 DC-only) has
    * every RGB pixel closed-form in (doc_id, block) through the exact
    * integer formula, so the DuckDB oracle replays decode AND color
    * conversion arithmetically (floor-division = the decoder's
    * arithmetic shifts); subsampled (4:2:0) decode is cross-checked
    * against an independent decoder in MultimodalSpec, where chroma
    * upsampling choice makes an exact oracle impossible by design.
    * Completes the doc_id%3 partition: 0 → PNG (q91), 1 → grayscale
    * JPEG (q96), 2 → color JPEG. Zero shuffles.
    */
  def q99JpegColorPixels(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .as[Long]
      .map { id =>
        val w = (8 * (1 + id % 4)).toInt
        val h = (8 * (1 + id % 3)).toInt
        val nb = (w / 8) * (h / 8)
        val yDcs =
          Array.tabulate(nb)(k => (((id * 31 + k * 17) % 160) - 80).toInt)
        val cbDcs =
          Array.tabulate(nb)(k => (((id * 13 + k * 7) % 120) - 60).toInt)
        val crDcs =
          Array.tabulate(nb)(k => (((id * 11 + k * 23) % 120) - 60).toInt)
        val payload =
          Multimodal.MediaBuilders.jpegBaselineColor(w, h, yDcs, cbDcs, crDcs)
        val (dw, dh, px) = dec.jpegRgbPixels(payload).getOrElse(
          sys.error(s"q99: undecodable color JPEG for doc $id"))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var j = 0
        while (j < px.length) {
          val v = px(j) & 0xff
          (j % 3: @unchecked) match {
            case 0 => sr += v; case 1 => sg += v; case 2 => sb += v
          }
          j += 1
        }
        (id, dw, dh, dw.toLong * dh, sr, sg, sb)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_r", "sum_g",
        "sum_b")
  }

  /** Progressive-JPEG channel statistics (q102): closes the q96/q99
    * refusal gap — web image corpora are ~6–10% PROGRESSIVE JPEG
    * (SOF2), which the baseline path refused by design until round 8.
    * REAL T.81 Annex G decode: multi-scan spectral selection +
    * successive approximation accumulated into a per-block coefficient
    * store (interleaved DC-first at Al=1, per-component AC-first scans
    * with EOB-run codes, interleaved DC-refinement), then the same
    * dequant/IDCT/fixed-point-YCbCr→RGB tail as q99. The synthesized
    * corpus ([[Multimodal.MediaBuilders.jpegProgressiveColor]]) delivers
    * each DC through the point-transform + refinement-bit machinery and
    * every AC through real EOB runs, so final coefficients — and
    * therefore every RGB pixel — stay closed-form in (doc_id, block):
    * the DuckDB oracle replays decode and color conversion
    * arithmetically, and any drift in scan-script parsing, the
    * bit-plane accumulation, EOB-run decode, or the refinement OR
    * breaks the hash. Nonzero-AC progressive streams (including AC
    * refinement over nonzero history and 4:2:0 subsampled progressive)
    * are cross-checked against an independent decoder in MultimodalSpec,
    * where IDCT/upsampling tolerance makes an exact oracle impossible by
    * design. Zero shuffles — scan-stage parallel at any corpus size.
    */
  def q102JpegProgressive(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .as[Long]
      .map { id =>
        val m = id / 3
        val w = (8 * (1 + m % 4)).toInt
        val h = (8 * (1 + m % 3)).toInt
        val nb = (w / 8) * (h / 8)
        val yDcs =
          Array.tabulate(nb)(k => (((m * 29 + k * 19) % 160) - 80).toInt)
        val cbDcs =
          Array.tabulate(nb)(k => (((m * 17 + k * 5) % 120) - 60).toInt)
        val crDcs =
          Array.tabulate(nb)(k => (((m * 7 + k * 13) % 120) - 60).toInt)
        val payload = Multimodal.MediaBuilders.jpegProgressiveColor(
          w, h, yDcs, cbDcs, crDcs)
        val (dw, dh, px) = dec.jpegRgbPixels(payload).getOrElse(
          sys.error(s"q102: undecodable progressive JPEG for doc $id"))
        var (sr, sg, sb) = (0L, 0L, 0L)
        var j = 0
        while (j < px.length) {
          val v = px(j) & 0xff
          (j % 3: @unchecked) match {
            case 0 => sr += v; case 1 => sg += v; case 2 => sb += v
          }
          j += 1
        }
        (id, dw, dh, dw.toLong * dh, sr, sg, sb)
      }
      .toDF("doc_id", "width", "height", "n_pixels", "sum_r", "sum_g",
        "sum_b")
  }

  /** Five-table gold IVM, oracle-pinned (q103): drives
    * [[graft.gold.GoldIncremental]] — the production wiring of q97's
    * CDF-maintenance loop onto the REFERENCE gold tables
    * (`Gold-Orders-By-City.py` grain here: city × year × month with
    * `order_count` AND the derivable `avg_delivery_time`) — through a
    * three-commit silver history built deterministically from the
    * TPC-H tables: v1 misses every 7th order, v2 inserts them AND
    * shifts every 5th delivery date AND renames every 6th city (the
    * dimension-move case that forces the reverse lookup through
    * orders), v3 deletes every 11th order. Each commit is followed by
    * an incremental advance (the first is the one full build), so the
    * returned gold state reached its values through signed CDF folds
    * and affected-anchor rescans — while the DuckDB oracle aggregates
    * the FINAL silver state directly. Hash equality is the IVM
    * correctness claim itself: increments must land bit-identically on
    * the batch rebuild, including the avg recomputed from maintained
    * sum/count components. GoldIncrementalSpec additionally proves all
    * FIVE tables ≡ batch rebuild plus replay/crash-window laws; this
    * entry pins the richest one into the external oracle gate. Same
    * single-process scratch contract as q87/q97.
    */
  def q103GoldIncrementalCity(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Warehouse
    val orders = t(s, dir, "orders")
    val nation = t(s, dir, "nation")
    val whP = scratch("goldinc_wh", dir)
    graft.io.FsUtil.deleteRecursively(whP)
    val wh = new Warehouse(whP.toString)
    val inc = new graft.gold.GoldIncremental(s, wh)
    // WRITE-SIDE change capture (ParquetTable.overwriteWithChanges): the
    // silver writer knows its own deltas — each commit persists them, so
    // every advance's CDF is O(|changes|) feed reads instead of the
    // full-width two-snapshot diff (which BASELINE.md measured dominating
    // the v2 advance). The history and its declared closed-form feeds are
    // single-sourced in [[GoldIncFixture]];
    // exactness is not taken on faith — the DuckDB oracle aggregates the
    // final silver independently, so a divergent feed breaks the gold
    // hash, and GoldIncrementalSpec replays this flow under
    // graft.cdf.verifyDeclaredChanges=true.
    import GoldIncFixture.{addressFeed2, orderFeed, silverAddresses, silverOrders}
    for (v <- 1 to 3) {
      if (v == 1) wh.silverByName("orders")
        .overwrite(silverOrders(orders, 1))
      else wh.silverByName("orders")
        .overwriteWithChanges(silverOrders(orders, v), orderFeed(orders, v))
      // addresses are unchanged in v3 — not rewriting them exercises the
      // single-source-commit path (no CDF computed for a source whose
      // version did not move), the common production case
      if (v == 1) wh.silverByName("addresses")
        .overwrite(silverAddresses(nation, 1))
      else if (v == 2) wh.silverByName("addresses")
        .overwriteWithChanges(silverAddresses(nation, 2),
          addressFeed2(nation))
      inc.ordersByCityYearMonth()
    }
    wh.gold("orders_by_city_year_month").read(s)
      .select(col("city"), col("year"), col("month"), col("order_count"),
        round(col("avg_delivery_time"), 4).as("avg_delivery_time"))
  }

  /** Perceptual image near-duplicates (q104): the multimodal sibling of
    * text near-dup (q24/q27) — LAION-class image dedup over a corpus of
    * REAL JPEGs. Pipeline: decode every payload through the full T.81
    * baseline path ([[Multimodal.MediaDecoder.ContainerHeaders
    * .jpegPixels]]), compute the 64-bit block-mean perceptual hash from
    * the DECODED pixels ([[Multimodal.blockMeanHash64]], all-integer),
    * band the hash into 8 bytes, self-join band-equal candidates (the
    * q24 LSH shape — never all-pairs), and keep pairs with Hamming
    * distance ≤ [[PHashHammingMax]] via codegen'd `bit_count(a XOR b)`.
    * The corpus plants near-dup FAMILIES: ids sharing `id - id % 7`
    * re-encode the same base image with ONE DC bumped by +1 (a
    * brightness-epsilon re-encode), so family pairs sit at tiny-but-
    * nonzero Hamming distance while cross-family collisions are decided
    * exactly. Because decode and hash are closed-form in (doc_id,
    * block), the DuckDB oracle replays hashing, banding, candidate
    * generation AND the Hamming verify arithmetically — the result is
    * the operator's exact definition (band-proposed ∧ Hamming-verified),
    * hash-pinned end to end. Scale: hashing is scan-stage (zero
    * shuffles), the band join is 1 shuffle on (band, value) with
    * bounded fan-out, the verify is a row-local popcount.
    */
  val PHashHammingMax = 6

  def q104ImageNearDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    val hashes = t(s, dir, "documents")
      .select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .as[Long]
      .map { id =>
        val base = id - (id % 7)
        val dcs = Array.tabulate(64) { k =>
          val b = (((base * 31 + k * 17) % 200) - 100).toInt
          if (id % 7 != 0 && k == (id % 64).toInt) b + 1 else b
        }
        val payload = Multimodal.MediaBuilders.jpegBaseline(64, 64, dcs)
        val (w, h, px) = dec.jpegPixels(payload).getOrElse(
          sys.error(s"q104: undecodable JPEG for doc $id"))
        (id, Multimodal.blockMeanHash64(px, w, h))
      }
      .toDF("doc_id", "phash")
      // persisted: the band self-join reads hashes TWICE, and without the
      // cache each side re-runs the full-corpus JPEG decode + hash (the
      // Dedup discipline: corpus-sized intermediate cached, released after
      // the pairs-sized result materializes)
      .persist()
    val bands = hashes.select(col("doc_id"), col("phash"),
      explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("phash"), 8 * b).bitwiseAND(lit(255L))
            .as("v"))): _*)).as("bb"))
      .select(col("doc_id"), col("phash"),
        col("bb.band").as("band"), col("bb.v").as("v"))
    val result = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash").as("ha"), col("b.phash").as("hb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("int"))
      .filter(col("hamming") <= PHashHammingMax)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .persist()
    result.count() // materialize, then release the corpus-sized hashes NOW
    hashes.unpersist(blocking = false)
    result
  }

  /** Video keyframe sampling (q106): REAL ISO-BMFF (MP4) container parse
    * of the synthetic video corpus — the sample-table walk every
    * multimodal training pipeline runs to pick which frames to decode
    * (keyframe/IDR sampling is how web-video corpora are thumbnailed and
    * shot-sampled without decoding every frame). Per row, the full
    * 14496-12 path is exercised: box descent (both FullBox versions of
    * mvhd/mdhd by id parity), `stts` run expansion for timestamps,
    * `stss` sync lookup, `stsz`+`stco` offset math — and each keyframe's
    * bytes are SLICED FROM THE PAYLOAD at the parsed offset and
    * checksummed, so a drifted offset, size or timescale breaks the
    * hash. The container is closed-form in doc_id
    * ([[Multimodal.VideoParams]]), so the DuckDB oracle recomputes
    * timestamps, sizes AND byte checksums arithmetically, never seeing a
    * byte. Scale: parse+slice is the justified imperative-codec slot
    * (zero shuffles, scan-stage parallel); no joins, no aggregates.
    */
  def q106VideoKeyframes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    Multimodal
      .syntheticVideosFromDocs(t(s, dir, "documents").select(col("doc_id")))
      .flatMap { r =>
        val tr = dec.mp4Track(r.payload).getOrElse(
          sys.error(s"q106: unparseable MP4 for media ${r.media_id}"))
        // start time of 1-based sample s = Σ deltas before it; byte
        // offset = chunk offset + Σ sizes before it
        val starts = tr.sampleDeltas.scanLeft(0L)(_ + _)
        val offsets = tr.sampleSizes.scanLeft(tr.chunkOffset)(_ + _)
        tr.syncSamples.iterator.map { sNo =>
          val k = sNo - 1
          val off = offsets(k).toInt
          val sz = tr.sampleSizes(k)
          var sum = 0L
          var j = 0
          while (j < sz) { sum += r.payload(off + j) & 0xff; j += 1 }
          (r.media_id, tr.timescale, tr.width, tr.height,
            tr.sampleSizes.length.toLong, sNo,
            starts(k) * 1000L / tr.timescale, sz.toLong, sum)
        }
      }
      .toDF("doc_id", "timescale", "width", "height", "n_samples",
        "kf_sample", "pts_ms", "sample_size", "sample_checksum")
  }

  /** The fixed q107 retrieval workload: probes mixing common terms, the
    * one rare corpus term ("dup"), and vocabulary absent from the corpus
    * entirely (zero-df terms must contribute nothing, not NaN/∞ — the
    * +0.5 smoothing and the tf>0 gate are both on trial). Single source
    * of truth for the query AND its generated oracle SQL.
    */
  val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("spark", "join", "fast"),
    2 -> Seq("dup", "scan"),
    3 -> Seq("vector", "stream", "window"),
    4 -> Seq("customer", "order", "quantization"))
  val Bm25TopK = 10

  /** The q107/q108 BM25 oracle CTE chain (toks → stats → corpus →
    * joined → scored → ranked), GENERATED from [[Bm25Queries]] with the
    * identical arithmetic text the engine mirrors — shared by both
    * entries so the two oracles cannot drift from each other either.
    */
  private lazy val bm25RankedCtes: String = {
    val terms = Bm25Queries.flatMap(_._2).distinct.sorted
    val tfs = terms.map(t0 =>
      s"sum(CASE WHEN tok = '$t0' THEN 1 ELSE 0 END) AS tf_$t0")
      .mkString(", ")
    val dfs = terms.map(t0 =>
      s"CAST(sum(CASE WHEN tf_$t0 > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t0")
      .mkString(", ")
    val arms = Bm25Queries.map { case (qid, qt) =>
      val sumExpr = qt.distinct.map { t0 =>
        s"""CASE WHEN tf_$t0 > 0 THEN CAST(round(
           ((n - df_$t0 + 0.5) / (df_$t0 + 0.5) + 1.0) *
           (CAST(tf_$t0 AS DOUBLE) * 2.2) /
           (CAST(tf_$t0 AS DOUBLE) +
             1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) *
           1000000.0) AS BIGINT) ELSE CAST(0 AS BIGINT) END"""
      }.mkString(" + ")
      s"SELECT $qid AS query_id, doc_id, $sumExpr AS score_micro FROM joined"
    }.mkString(" UNION ALL ")
    s"""toks AS (
            SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
          stats AS (
            SELECT doc_id, count(*) AS dl, $tfs FROM toks GROUP BY doc_id),
          corpus AS (
            SELECT CAST(count(*) AS DOUBLE) AS n,
                   CAST(sum(dl) AS DOUBLE) AS total_len, $dfs
            FROM stats),
          joined AS (
            SELECT stats.*, corpus.*, total_len / n AS avgdl
            FROM stats CROSS JOIN corpus),
          scored AS ($arms),
          ranked AS (
            SELECT *, row_number() OVER (
              PARTITION BY query_id
              ORDER BY score_micro DESC, doc_id) AS rank
            FROM scored WHERE score_micro > 0)"""
  }

  /** BM25 top-k retrieval (q107): Okapi scoring ([[graft.northstar
    * .Bm25]]) of the fixed probe workload over the documents corpus —
    * the retrieval stage decontamination-by-retrieval and training-
    * example attribution pipelines run. Oracle-exact end to end: the
    * rational-idf + integer-micro-unit design makes every score a
    * deterministic BIGINT both engines agree on bit-for-bit (see the
    * Bm25 scaladoc for why ln and float sums are excluded), and the
    * oracle SQL is GENERATED from the same query constants so the two
    * sides cannot drift.
    */
  def q107Bm25TopK(s: SparkSession, dir: String): DataFrame =
    Bm25.topK(t(s, dir, "documents"), "doc_id", "text", Bm25Queries, Bm25TopK)

  /** The fixed dense probes for q108: query_id → the embedding row whose
    * vector stands in for the query (attribution pipelines embed the
    * probe text; the synthetic corpus keys embeddings by document id, so
    * a fixed document's vector is the deterministic equivalent). Single
    * source of truth for the engine AND its generated oracle SQL.
    */
  val DenseProbes: Seq[(Int, Long)] =
    Seq(1 -> 11L, 2 -> 23L, 3 -> 37L, 4 -> 42L)

  /** Hybrid sparse+dense retrieval with RRF (q108): the q107 BM25 arm
    * and a brute-force-cosine dense arm (the q26 machinery) over the
    * SAME probe workload, fused by [[graft.northstar.HybridRetrieval]]'s
    * integer micro-unit reciprocal-rank formula — the retrieval stack
    * decontamination-by-retrieval actually deploys (lexical + semantic,
    * no score calibration). Oracle-exact end to end: both arms' ranks
    * are integers under the q107/q26 cross-engine disciplines, the RRF
    * arithmetic is pure integer division, and the oracle SQL is
    * GENERATED from the same [[Bm25Queries]]/[[DenseProbes]] constants.
    * Scale: arms are corpus-sized exactly once each; the fusion join
    * and re-rank window touch only (queries × k) rows.
    */
  def q108HybridRrf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id").isin(DenseProbes.map(_._2): _*))
    val qidFor = DenseProbes.foldLeft(lit(null).cast("int")) {
      case (acc, (qid, vid)) =>
        when(col("query_id") === vid, lit(qid)).otherwise(acc)
    }
    val dense = Similarity
      .bruteForceTopK(emb, probes, "vec_id", "embedding", k = Bm25TopK)
      .select(qidFor.as("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val bm25 = Bm25
      .topK(t(s, dir, "documents"), "doc_id", "text", Bm25Queries, Bm25TopK)
    val sparse = bm25.select(col("query_id"), col("doc_id"),
      col("rank").as("sparse_rank"))
    // cache ownership: topK's surviving cache would be unreachable
    // through the lazy fused frame — materialize the (queries × k)-sized
    // result and release the arm, leaving ONE cached relation (the
    // returned frame) alive
    val out = HybridRetrieval.fuse(sparse, dense, Bm25TopK).persist()
    out.count()
    bm25.unpersist(blocking = false)
    out
  }

  /** Image resize (q109): REAL integer box-filter downscale
    * ([[Multimodal.resizeBox]]) of every decoded JPEG in the q99 color
    * corpus — the thumbnail/feature-prep stage multimodal training
    * pipelines run between decode and batching. Per image the full path
    * executes: T.81 baseline color decode → factor-2/4 box filter over
    * the REAL pixel buffer → channel sums AND a position-weighted
    * checksum over the RESIZED grid, so a misplaced pixel, wrong output
    * geometry or off-by-one cell alignment breaks the hash, not just a
    * global mean. The corpus is DC-only (each 8×8 block one constant
    * color) and 8 % f == 0, so every aligned f×f cell lies inside one
    * block and the floor-mean is closed-form — the DuckDB oracle
    * recomputes every resized pixel arithmetically; the AVERAGING of
    * non-constant cells (where an oracle can't be exact) is pinned by
    * MultimodalSpec's hand-computed floor-mean fixtures instead. Zero
    * shuffles — the scan-stage codec slot, like q96/q99/q106.
    */
  def q109ImageResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = Multimodal.MediaDecoder.ContainerHeaders
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      // Catalyst-native pre-filter (pushes past the scan; a typed lambda
      // here would force deserialization before the prune)
      .filter(pmod(col("doc_id"), lit(3)) === 2)
      .as[Long]
      .map { id =>
        val w = (8 * (1 + id % 4)).toInt
        val h = (8 * (1 + id % 3)).toInt
        val nb = (w / 8) * (h / 8)
        val yDcs =
          Array.tabulate(nb)(k => (((id * 31 + k * 17) % 160) - 80).toInt)
        val cbDcs =
          Array.tabulate(nb)(k => (((id * 13 + k * 7) % 120) - 60).toInt)
        val crDcs =
          Array.tabulate(nb)(k => (((id * 11 + k * 23) % 120) - 60).toInt)
        val payload =
          Multimodal.MediaBuilders.jpegBaselineColor(w, h, yDcs, cbDcs, crDcs)
        val (dw, dh, px) = dec.jpegRgbPixels(payload).getOrElse(
          sys.error(s"q109: undecodable color JPEG for doc $id"))
        val f = if (id % 2 == 0) 2 else 4
        val (ow, oh, out) = Multimodal.resizeBox(px, dw, dh, channels = 3, f)
        var (sr, sg, sb, chk) = (0L, 0L, 0L, 0L)
        var p = 0
        while (p < ow * oh) {
          val r = out(p * 3) & 0xff
          val g = out(p * 3 + 1) & 0xff
          val b = out(p * 3 + 2) & 0xff
          sr += r; sg += g; sb += b
          chk += p.toLong * (r + g + b)
          p += 1
        }
        (id, f, ow, oh, ow.toLong * oh, sr, sg, sb, chk)
      }
      .toDF("doc_id", "factor", "out_w", "out_h", "n_out_pixels",
        "sum_r", "sum_g", "sum_b", "pos_checksum")
  }

  /** Fuzzy decontamination (q101): train-vs-benchmark NEAR-duplicate
    * pairs via the cross-corpus LSH band join
    * ([[graft.northstar.Dedup.crossNearDuplicates]]) — the sweep exact
    * 8-gram decontamination (q58/q75) cannot make: a paraphrased or
    * truncated benchmark document shares few verbatim 8-grams but keeps
    * high shingle Jaccard. Same corpus split as q58/q75 (every 10th doc
    * is the held-out benchmark), same scheme as q24 — and the same
    * oracle-exactness argument: the band join only PROPOSES pairs, the
    * exact-Jaccard verify decides, so the result is the exact
    * cross-corpus trigram-Jaccard pair set the oracle recomputes
    * (restricted and oriented by the split predicate).
    */
  def q101FuzzyDecontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    Dedup.crossNearDuplicates(
        docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(10)) === 0),
        "doc_id", "text",
        numPerm = 64, bands = 16, shingleSize = 3, jaccardThreshold = 0.5)
      .select(col("id_a").as("train_id"), col("id_b").as("bench_id"),
        col("jaccard"))
  }

  /** Mergeable distinct sketches (q86): per-(event_type, day) HLL
    * partials unioned into per-type distinct-user counts. The point is
    * the WAREHOUSE shape, not the estimate: stage 1 folds raw events to a
    * days × types sketch table (the thing a 100 TB deployment would
    * PERSIST and maintain incrementally per partition); stage 2 answers
    * the rollup from sketch rows alone — any date-range / type slice is
    * then a sketch-union over the tiny partial table, never a rescan of
    * raw events, which an exact count(distinct) can never do (distinct is
    * not distributive; sketches are). Union fidelity is REGIME-dependent:
    * while every sketch stays in the sparse (coupon) regime — the audit
    * tier's cardinalities — equal-config union is exactly lossless and
    * the two-stage estimate is bit-identical to a single-pass sketch
    * ([[graft.tools.Accuracy]] gates 0 divergence there); once per-type
    * cardinality crosses into dense-HLL mode (sf0.1), the union gadget's
    * register composition diverges from single-pass updates by a
    * sub-percent margin (both within the sketch's configured error of
    * exact — the tier-pinned gate bounds it). Estimator caveat: a
    * DataSketches HLL that is only ever UPDATED keeps the HIP estimator,
    * while any merge drops to the composite estimator — the gate's two
    * sides compare like-for-like because Spark's two-phase aggregation
    * routes BOTH through partial-sketch merges.
    */
  def q86SketchRollup(s: SparkSession, dir: String): DataFrame =
    EventOps.distinctUsersRollup(
      EventOps.dailyUserSketches(t(s, dir, "events")))

  /** Interval-overlap self-join (q85): ordered pairs of distinct orders
    * whose 7-day windows overlap, counted per priority pair. The naive
    * form is an inequality SELF-join — |orders|² candidate pairs, ~1.2M
    * survivors at sf0.01 growing with sf². Two collapses make it
    * scale-independent: (1) fixed-width windows overlap iff their starts
    * are within ±6 days, so the interval test becomes a POINT-in-interval
    * test on start days ([[graft.operators.RangeJoin]], binWidth = the
    * 13-day test width → ≤2 bins/interval); (2) the count is distributive
    * over (start-day, priority) groups, so both join sides are day×priority
    * aggregates (~days × 5 rows however many orders exist) and the pair
    * count is Σ n₁·n₂ minus the diagonal's self-pairs (every order
    * overlaps itself; same-key pairs exist only on p₁=p₂, d₁=d₂ cells).
    * The oracle runs the naive quadratic self-join and must hash-match.
    */
  def q85IntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val orders = t(s, dir, "orders")
    // byDay feeds BOTH join sides and the diagonal correction — a
    // days×priorities frame (KBs at any corpus size), so one eager
    // localCheckpoint buys a single orders scan for all three uses
    val byDay = orders
      .groupBy(RangeJoin.epochDays(col("o_orderdate")).as("d"),
        col("o_orderpriority").as("p"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val points = byDay
      .select(col("d").as("d2"), col("p").as("p2"), col("n").as("n2"))
    val intervals = byDay.select(col("p").as("p1"), col("n").as("n1"),
      (col("d") - lit(6L)).as("lo"), (col("d") + lit(7L)).as("hi"))
    val pairs = RangeJoin
      .pointInInterval(points, "d2", intervals, "lo", "hi", binWidth = 13L)
      .groupBy(col("p1"), col("p2"))
      .agg(sum(col("n1") * col("n2")).as("with_self"))
    val diag = byDay.groupBy(col("p").as("p1"))
      .agg(sum(col("n")).as("self_n"))
    pairs.join(broadcast(diag), Seq("p1"))
      .select(col("p1"), col("p2"),
        (col("with_self") -
          when(col("p1") === col("p2"), col("self_n")).otherwise(lit(0L)))
          .as("overlap_pairs"))
      // the diagonal cell always joins itself, so a priority with no
      // OTHER same-priority overlaps yields a (p, p, 0) row here — the
      // oracle's count(*) over surviving pairs can never emit a zero
      // group, so drop them for set parity on sparse data
      .filter(col("overlap_pairs") > 0)
  }

  /** Incremental IVF maintenance (q84): build + persist the index on 90%
    * of the corpus, then [[graft.northstar.IvfIndex.append]] the remaining
    * 10% — new vectors are assigned to the EXISTING centroids (quantizer
    * is train-once, FAISS `add`) and the inverted lists grow through a
    * hard-link appendVersion, never a corpus rewrite. Emits the per-cell
    * census over the APPENDED index: counts must cover the full corpus
    * (rows-only check — the cell assignment is quantizer state;
    * [[graft.tools.Accuracy]] gates append≡bulk-assign agreement at 1.0
    * and IvfSpec pins search parity).
    */
  def q84IvfAppend(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    val p = indexScratch("ivfapp", dir)
    // rebuild the base index each run (persist = new version + vacuum),
    // so the append is idempotent per invocation, never double-applied
    val baseIdx = graft.northstar.IvfIndex
      .build(base, "vec_id", "embedding", nlist = 16)
      .persist(s, p)
    baseIdx.append(s, p, delta, "vec_id", "embedding")
      .assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("vectors"))
  }

  /** ANN deletion (q110) — the FAISS `remove_ids` analog the round-8
    * verdict asked for: build + persist the IVF index on the full
    * embeddings corpus, [[graft.northstar.IvfIndex.remove]] a slice
    * (vec_id % 7 == 3 — takedown/dedup-driven deletes), then
    * [[graft.northstar.IvfIndex.compact]] folds the tombstones into the
    * lists physically (only touched lists rewritten; the rest hard-link)
    * and the result is a COLD-RELOADED exhaustive search (nprobe = nlist)
    * over the compacted index. Exhaustive probing makes IVF search exact,
    * so the DuckDB oracle is q26's brute-force cosine top-k restricted to
    * the surviving vectors — a hash-exact check that deletes neither leak
    * (a deleted neighbor surfacing) nor over-delete (a survivor missing),
    * through tombstone, compaction AND reload. AnnDeleteSpec pins the
    * remaining laws (pre-compact mask ≡ post-compact, delete-then-append,
    * emptied-list fallback, crash-window idempotence); Accuracy gates the
    * agreement numbers per tier.
    */
  def q110AnnDelete(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val p = indexScratch("ivfdel", dir)
    val idx = graft.northstar.IvfIndex
      .build(emb, "vec_id", "embedding", nlist = 16)
      .persist(s, p)
    val removed = idx.remove(s, p,
      emb.filter(pmod(col("vec_id"), lit(7)) === 3).select(col("vec_id")),
      "vec_id")
    removed.compact(s, p)
    graft.northstar.IvfIndex.load(s, p)
      .getOrElse(sys.error("q110: compacted index failed to reload"))
      .search(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, nprobe = 16)
  }

  /** Distinct-count gold IVM (q111) — the measure kind q103's five
    * tables never needed, maintained instead of delegated to q86's
    * sketch rollup: [[graft.gold.GoldIncremental.customerReachByCity]]
    * keeps a per-(city, year) HLL sketch of ordering customers IN the
    * gold table, advancing O(changes) on insert-dominated commits
    * (sketch union) and rescanning ONLY the groups that lost a
    * (group, customer) pair (sketches cannot subtract). Same
    * three-commit silver history as q103 (v2 renames every 6th city —
    * the dimension move; v3 deletes every 11th order — the pair-loss
    * case), so the final state reached its values through both fold
    * regimes, while the DuckDB oracle computes `count(DISTINCT
    * customer_id)` on the final silver state directly. Hash equality
    * holds because every sketch stays in the coupon (sparse) regime at
    * the audit tier — estimates are EXACT there (the q86 contract);
    * Accuracy gates the bound at both tiers.
    */
  def q111GoldDistinctIvm(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Warehouse
    val orders = t(s, dir, "orders")
    val nation = t(s, dir, "nation")
    def silverOrders(version: Int): DataFrame = {
      val keep = version match {
        case 1 => pmod(col("o_orderkey"), lit(7)) =!= 0
        case 2 => lit(true)
        case _ => pmod(col("o_orderkey"), lit(11)) =!= 0
      }
      orders.filter(keep).select(
        col("o_orderkey").as("id"),
        col("o_custkey").as("customer_id"),
        pmod(col("o_custkey"), lit(25L)).as("address_id"),
        to_date(col("o_orderdate")).as("created_on"),
        year(col("o_orderdate")).as("year"),
        lit("2024-01-01 00:00:00").cast("timestamp")
          .as("silver_ingestion_time"))
    }
    def silverAddresses(version: Int): DataFrame = {
      val base = lower(col("n_name"))
      val city = if (version >= 2)
        when(pmod(col("n_nationkey"), lit(6)) === 0, concat(base, lit("_x")))
          .otherwise(base)
      else base
      nation.select(
        col("n_nationkey").cast("long").as("id"),
        city.as("city"),
        lit("2023-12-01 00:00:00").cast("timestamp").as("created_on"),
        lit("2024-01-01 00:00:00").cast("timestamp")
          .as("silver_ingestion_time"))
    }
    val whP = scratch("golddist_wh", dir)
    graft.io.FsUtil.deleteRecursively(whP)
    val wh = new Warehouse(whP.toString)
    val inc = new graft.gold.GoldIncremental(s, wh)
    // write-side change capture, q103's discipline: the writer declares
    // each commit's closed-form delta so the advances read O(changes)
    // feeds, never a snapshot diff (feed exactness is oracle-guarded)
    def ins(d: DataFrame) = d.withColumn("_change_type", lit("insert"))
    def del(d: DataFrame) = d.withColumn("_change_type", lit("delete"))
    val orderFeeds = Map(
      2 -> ins(silverOrders(2).filter(pmod(col("id"), lit(7)) === 0)),
      3 -> del(silverOrders(2).filter(pmod(col("id"), lit(11)) === 0)))
    val addrFeed2 = del(silverAddresses(1)
        .filter(pmod(col("id"), lit(6)) === 0))
      .unionByName(ins(silverAddresses(2)
        .filter(pmod(col("id"), lit(6)) === 0)))
    for (v <- 1 to 3) {
      if (v == 1) wh.silverByName("orders").overwrite(silverOrders(1))
      else wh.silverByName("orders")
        .overwriteWithChanges(silverOrders(v), orderFeeds(v))
      if (v == 1) wh.silverByName("addresses").overwrite(silverAddresses(1))
      else if (v == 2) wh.silverByName("addresses")
        .overwriteWithChanges(silverAddresses(2), addrFeed2)
      inc.customerReachByCity()
    }
    wh.gold("customer_reach_by_city").read(s)
      .select(col("city"), col("year"), col("order_count"),
        col("distinct_customers"))
  }

  /** Hybrid retrieval with the SERVING-SCALE dense arm (q112): q108's
    * RRF stack with the brute-force cosine arm swapped for the persisted
    * [[graft.northstar.IvfPqIndex]] — IVFADC, the billion-scale
    * deployment geometry (round-13: the served index moved from
    * uncompressed IVF to the residual-coded arm). Load-or-build of the
    * fingerprinted serving index: the q50 DISCIPLINE (built at most
    * once per corpus version AND geometry, probed by every later job)
    * applied to a SEPARATE per-geometry build — q50's uncompressed IVF
    * at [[servingIvfPath]] and this coded index at [[servingIvfPqPath]]
    * are two distinct serving artifacts of the same corpus, exactly as
    * a deployment runs a recall-tier and a memory-tier index side by
    * side. Partition-pruned probe:
    * nprobe = 12 of nlist = 32 (the sweep's recall knee — 37.5 % of the
    * corpus scanned) read as m=16 4-bit residual codes (16 bytes/row vs
    * 256-byte float vectors) through the fused ADC kernel, with an
    * exact re-rank of the k×[[Q112Rerank]] shortlist. At the recorded
    * operating point the coded arm's recall is BIT-equal to the
    * uncompressed IVF arm it replaced (0.725/0.875 — BASELINE.md round
    * 13), so the 16× scanned-payload reduction is free at the gate. The
    * BM25 arm, the probe workload and the integer RRF arithmetic stay
    * byte-identical to q108. No DuckDB oracle by design (the dense arm
    * is approximate); the Accuracy gates pin dense-arm recall vs the
    * brute arm, fused top-k overlap vs q108's exact fusion, and
    * bit-exact RRF integer arithmetic on this path, at both tiers.
    */
  def q112HybridRrfIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val probes = emb.filter(col("vec_id").isin(DenseProbes.map(_._2): _*))
    val qidFor = DenseProbes.foldLeft(lit(null).cast("int")) {
      case (acc, (qid, vid)) =>
        when(col("query_id") === vid, lit(qid)).otherwise(acc)
    }
    // the serving contract: ONE fingerprinted index per corpus version,
    // built at most once and probed by every later job — a warm run
    // pays only the probe
    val idx = graft.northstar.IvfPqIndex.load(s, servingIvfPqPath(dir))
      .getOrElse(
        graft.northstar.IvfPqIndex
          .build(s, emb, "vec_id", "embedding", nlist = ServingIvfNlist,
            m = ServingPqM, ksub = ServingPqKsub)
          .persist(s, servingIvfPqPath(dir)))
    val dense = idx
      .search(probes, "vec_id", "embedding", k = Bm25TopK,
        nprobe = Q112DenseNprobe, rerank = Q112Rerank)
      .select(qidFor.as("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("dense_rank"))
    val bm25 = Bm25
      .topK(t(s, dir, "documents"), "doc_id", "text", Bm25Queries, Bm25TopK)
    val sparse = bm25.select(col("query_id"), col("doc_id"),
      col("rank").as("sparse_rank"))
    // same cache-ownership discipline as q108
    val out = HybridRetrieval.fuse(sparse, dense, Bm25TopK).persist()
    out.count()
    bm25.unpersist(blocking = false)
    out
  }

  /** Rolling 90-day revenue per customer — a RANGE window frame (peers by
    * value, not row position): one shuffle on the customer key; the frame
    * slides within each partition with O(1) incremental state.
    */
  def q51RollingRevenue(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(unix_date(col("o_orderdate").cast("date")))
      .rangeBetween(-89, Window.currentRow)
    t(s, dir, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        sum(col("cents")).over(w).as("cents_90d"))
  }

  /** CUBE: all four grouping combinations of (priority, year) in one
    * expand + single shuffle — completes the grouping-sets family next to
    * q33's ROLLUP.
    */
  def q52SalesCube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
      .cube(col("o_orderpriority"), col("order_year"))
      .agg(count(lit(1)).as("orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))

  /** Fixed-width histogram of order totals: integer bucket arithmetic (no
    * two-pass min/max), one shuffle on the bucket id.
    */
  def q53PriceHistogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .withColumn("bucket", floor(col("o_totalprice") / 25000).cast("int"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("total_cents"))

  /** NTILE quartiles of customers by account balance within each market
    * segment — deterministic via the (balance, key) total order.
    */
  def q54BalanceQuartiles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .withColumn("quartile", ntile(4).over(w))
      .groupBy(col("c_mktsegment"), col("quartile"))
      .agg(count(lit(1)).as("customers"),
        sum(round(col("c_acctbal") * 100, 0).cast("long")).as("balance_cents"))
  }

  /** Fuzzy name matching: supplier pairs within edit distance 2 — the
    * string-similarity complement of the shingle dedup family. PassJoin
    * partition blocking ([[graft.northstar.FuzzyJoin]]): a lossless equi
    * key turns the O(n²) nested-loop into a hash join with constant
    * per-row fan-out, so the result is bit-identical to the naive cross
    * product at any corpus size.
    */
  def q55FuzzySuppliers(s: SparkSession, dir: String): DataFrame =
    graft.northstar.FuzzyJoin.editDistancePairs(
      t(s, dir, "supplier").select(col("s_suppkey"), col("s_name")),
      "s_suppkey", "s_name", maxDist = 2)

  private val EmailRe = TextAnalysis.EmailRe
  private val PhoneRe = TextAnalysis.PhoneRe

  /** PII redaction pass — the scrub every training corpus runs before the
    * tokenizer sees it. The synthetic corpus carries no PII, so the query
    * first INJECTS deterministic doc_id-derived emails/phones (both engines
    * construct the identical augmented text), then redacts with shared
    * Java/RE2-portable regexes and accounts per language: occurrences
    * replaced and bytes removed. Map-side except the one lang-key shuffle;
    * regexp_replace/regexp_count are codegen'd, no UDF.
    */
  def q56PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val aug = t(s, dir, "documents").withColumn("aug",
      concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" call 555-000-"),
            lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
          .otherwise(lit(""))))
    val red = aug.withColumn("redacted", TextAnalysis.redactPii(col("aug")))
    red.groupBy(col("lang")).agg(
      count(lit(1)).as("docs"),
      sum(TextAnalysis.emailCount(col("aug"))).cast("long").as("emails"),
      sum(TextAnalysis.phoneCount(col("aug"))).cast("long").as("phones"),
      sum((length(col("aug")) - length(col("redacted"))).cast("long"))
        .as("chars_removed"))
  }

  /** Repetition-based quality filter (the Gopher rules' shape: drop docs
    * whose vocabulary collapses — low type-token ratio or one token
    * dominating). Thresholds are expressed in INTEGER cross-multiplication
    * (ttr < 2/5, top-share > 3/20) so the classification is bit-identical
    * across engines — no float literal, no division before the final
    * rounded aggregate ratio. One explode + two shuffles (per-doc token
    * counts, then the lang×class rollup), all partial-agg friendly.
    */
  def q57RepetitionFilter(s: SparkSession, dir: String): DataFrame = {
    val perTok = t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), TextAnalysis.WsClass + "+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val perDoc = perTok.groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max(col("c")).as("top_cnt"))
    perDoc
      .withColumn("repetitive",
        col("n_distinct") * 5 < col("n_tokens") * 2 ||
          col("top_cnt") * 20 > col("n_tokens") * 3)
      .groupBy(col("lang"), col("repetitive"))
      .agg(count(lit(1)).as("docs"),
        round(sum(col("n_distinct")).cast("double") / sum(col("n_tokens")), 6)
          .as("distinct_ratio"))
  }

  /** Benchmark decontamination — remove/flag training documents that
    * share any verbatim word-8-gram with the held-out benchmark set (the
    * standard n-gram-overlap decontamination of LLM training pipelines;
    * benchmark here = doc_id ≡ 0 mod 10). The benchmark gram set is tiny
    * relative to the corpus → broadcast semi join: the training-side
    * explode never shuffles, and a semi join cannot fan out on hot grams.
    */
  def q58Decontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    CorpusClean.contaminatedIds(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", n = 8)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("contaminated"))
  }

  /** Context-window chunking: 32-token windows every 24 tokens (8-token
    * overlap), tail windows shorter — the sequence-preparation step before
    * tokenizer packing. One generator expansion inside the scan stage;
    * the chunk rows shuffle nowhere.
    */
  def q59DocChunks(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextAnalysis.chunk(TextAnalysis.tokens(col("text")),
          chunkSize = 32, stride = 24)).as("c"))
      .select(col("doc_id"), col("c.chunk_start"), col("c.n_tokens"),
        col("c.chunk"))

  /** Source mixture resampling toward a target corpus mix: per-source keep
    * rates over the deterministic content key ([[Sampling.mixtureSample]]),
    * rolled up as kept-per-source. Map-side predicate — no shuffle beyond
    * the final count rollup.
    */
  def q60SourceMixture(s: SparkSession, dir: String): DataFrame =
    graft.northstar.Sampling.mixtureSample(
      t(s, dir, "documents"), "source",
      rates = Map("src0" -> 1.0, "src1" -> 0.2, "src2" -> 0.5),
      defaultRate = 0.75,
      key = graft.northstar.Sampling.modKey(col("doc_id"), seed = 7L))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("kept"))

  /** Zipf profile: top-20 tokens by corpus frequency with rank and share
    * of all tokens — the vocabulary skew check before building BPE merges
    * or frequency-pruned vocabularies. Token counts partial-aggregate
    * map-side; the corpus total rides the same DAG as a broadcast 1-row
    * aggregate (q47 pattern).
    */
  def q61ZipfProfile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = t(s, dir, "documents")
      .select(explode(split(col("text"), TextAnalysis.WsClass + "+")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).as("__total"))
    // top-20 via orderBy+limit → TakeOrderedAndProject (map-side partial
    // top-k, never a full vocabulary sort); the rank window then runs over
    // 20 rows, not 100M — a bare row_number over `counts` would drag the
    // whole vocabulary onto one partition
    counts.orderBy(col("c").desc, col("tok")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("c").desc, col("tok"))))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("tok"), col("c").as("occurrences"),
        round(col("c").cast("double") / col("__total"), 6).as("share"))
  }

  /** Sequence packing — the concatenate-then-chop layout step of training
    * prep: within each source, documents are laid end-to-end in
    * deterministic doc_id order and assigned to the 256-token context bin
    * their start offset falls in. The running total is a window over the
    * SOURCE partition (never an unpartitioned global window — that would
    * drag the corpus onto one task); bins are integer offset arithmetic,
    * exactly reproducible by the oracle.
    */
  def q62SequencePacking(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("start_offset",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("bin", floor(col("start_offset") / 256).cast("long"))
  }

  /** The end-to-end corpus-preparation pipeline as one lazy DAG
    * ([[CorpusClean.prepareTrainingCorpus]]): quality gate → exact dedup →
    * benchmark decontamination (vs the held-out doc_id ≡ 0 mod 10 set) →
    * 32/24 context-window chunking, rolled up per language. The flagship
    * composition proof: every stage is an individually-oracled operator
    * and the COMPOSITE still hash-matches DuckDB.
    */
  def q63CorpusPrep(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    CorpusClean.prepareTrainingCorpus(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("chunks"),
        sum(col("n_tokens")).cast("long").as("chunk_tokens"))
  }

  /** Duplicate-cluster resolution: connected components over the q24
    * near-dup pair graph → one row per transitive cluster (canonical id +
    * member count). Pair output alone under-deletes; this is the step that
    * turns "A≈B, B≈C" into "keep one of three". The oracle computes the
    * same closure with a recursive CTE.
    */
  def q64DedupClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicateClusters(q24MinhashNearDups(s, dir),
      roundPartitions = Some(8))

  /** The deletion step applied: corpus minus non-canonical near-dup
    * cluster members, summarized per language — what actually ships to
    * the tokenizer after q24's pairs and q64's clusters.
    */
  def q65DedupedCorpus(s: SparkSession, dir: String): DataFrame =
    Dedup.dropNearDuplicates(
      t(s, dir, "documents"), q24MinhashNearDups(s, dir), "doc_id",
      roundPartitions = Some(8))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_chars")).cast("long").as("chars"))

  /** Embedding-norm outlier gate: trim vectors whose L2 norm falls outside
    * the [p1, p99] band — the vector-quality filter that catches collapsed
    * (near-zero) and exploded embeddings before they poison ANN indexes.
    * Norms ride the native fused dot product; the percentile thresholds are
    * a broadcast 1-row aggregate on the same DAG. Classification compares
    * round-6 norms to round-4 thresholds — both cross-engine bit-stable
    * (q36 precedent), so the boundary can't flip on a libm ulp.
    */
  def q66EmbeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    import graft.northstar.VectorOps
    val norms = t(s, dir, "embeddings")
      .select(col("vec_id"),
        round(VectorOps.l2Norm(Similarity.toDoubleVec(col("embedding"))), 6)
          .as("norm"))
      .filter(col("norm").isNotNull)
    val bounds = norms.agg(
      round(expr("percentile(norm, 0.01)"), 4).as("p01"),
      round(expr("percentile(norm, 0.99)"), 4).as("p99"))
    norms.crossJoin(broadcast(bounds))
      .agg(
        count(lit(1)).as("total"),
        sum(when(col("norm") < col("p01"), 1).otherwise(0)).cast("long")
          .as("dropped_low"),
        sum(when(col("norm") > col("p99"), 1).otherwise(0)).cast("long")
          .as("dropped_high"),
        sum(when(col("norm") >= col("p01") && col("norm") <= col("p99"), 1)
          .otherwise(0)).cast("long").as("kept"),
        min(col("p01")).as("p01"), min(col("p99")).as("p99"))
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD
    * 2003 — the MOSS algorithm): hash every character k-gram of the
    * normalized text, slide a w-gram window, keep each window's minimum
    * hash. The selected set is a position-robust fingerprint ~2/(w+1) the
    * size of the full gram set, with the winnowing guarantee that any
    * shared substring of length ≥ w+k-1 yields a shared fingerprint.
    * Hashes are md5 hex strings compared lexicographically — bit-identical
    * in both engines, so the window minima agree exactly.
    *
    * Scale shape: the explode is linear in corpus characters and fully
    * map-side; the window and the final rollup share ONE shuffle on
    * doc_id (Catalyst reuses the window's hash partitioning for the
    * groupBy — no second exchange). No joins, no skew surface: every
    * doc_id key carries only its own grams.
    */
  def q67WinnowingFingerprints(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.winnowedFingerprints(
      t(s, dir, "documents"), "doc_id", "text", k = 4, w = 4)
      .groupBy(col("doc_id"))
      .agg(max(col("n_grams")).as("n_grams"),
        countDistinct(col("fp")).as("n_fingerprints"),
        min(col("fp")).as("min_fp"))
      .withColumn("density",
        round(col("n_fingerprints").cast("double") / col("n_grams"), 6))

  /** Byte-pair-encoding pre-tokenization stats: a GPT-2-style regex
    * splits raw payloads into BPE pre-pieces (contraction suffixes, words,
    * digit runs, punctuation runs — each with its optional leading space),
    * rolled up against whitespace tokenization as the fertility baseline
    * (pieces per whitespace token — the tokenizer-budget planning number).
    * The pattern avoids lookarounds on purpose so Java regex (Spark) and
    * RE2 (DuckDB) match identically; both engines use leftmost-first
    * alternation. Runs over events.props — the corpus with real
    * punctuation and digits.
    *
    * Scale shape: extraction + filtering are map-side HOF algebra inside
    * the scan stage; the only shuffle is the final per-type rollup with
    * partial aggregation.
    */
  def q68BpePretokenize(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(col("event_type"),
        filter(regexp_extract_all(lower(col("props")),
            lit(BpePiecePattern), lit(0)),
          p => !(p rlike s"^${TextAnalysis.WsClass}+$$")).as("ps"),
        TextAnalysis.tokenCount(col("props")).as("n_ws"))
      .select(col("event_type"), size(col("ps")).as("n_pieces"),
        expr("aggregate(ps, cast(0 as bigint), (a, p) -> a + length(p))")
          .as("piece_chars"),
        col("n_ws"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("docs"),
        sum(col("n_pieces")).cast("long").as("total_pieces"),
        sum(col("n_ws")).cast("long").as("total_ws_tokens"),
        sum(col("piece_chars")).as("__chars"))
      .withColumn("fertility",
        round(col("total_pieces").cast("double") / col("total_ws_tokens"), 6))
      .withColumn("avg_piece_chars",
        round(col("__chars").cast("double") / col("total_pieces"), 6))
      .drop("__chars")

  /** Incremental near-duplicate detection: the corpus's LSH band index
    * and shingle sets are PERSISTED parquet tables; an incoming batch
    * (doc_id ≡ 7 mod 10 plays the role of "today's crawl") is banded and
    * probed against the index — the corpus is never re-paired. At 100 TB
    * this is the only tractable dedup cadence: per-batch cost is
    * batch-sized, the index side joins against a broadcast of the batch
    * bands, and exact-Jaccard verification touches candidate ids only.
    * Identical pair semantics to q24 (same shingles, same permutations),
    * so the oracle is the exact trigram-Jaccard pair set restricted to
    * pairs touching the batch.
    */
  def q69IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    val landed = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)
    val base = scratch("ndidx", dir).toString
    val idx = Dedup.buildNearDupIndex(landed, "doc_id", "text")
    val bandsT = new graft.io.ParquetTable(base + "/bands").overwrite(idx.bands)
    val setsT = new graft.io.ParquetTable(base + "/sets").overwrite(idx.sets)
    Dedup.incrementalNearDuplicates(
      Dedup.NearDupIndex(bandsT.read(s), setsT.read(s)),
      batch, "doc_id", "text")
  }

  /** Duplicate-SPAN removal (Lee et al., ACL 2022): 20-token spans deduped
    * corpus-wide by exact text, first occurrence kept, documents
    * reassembled from their surviving spans — the span-level complement of
    * q23/q24's document dedup (a doc that is 90% boilerplate keeps its
    * novel 10%). First-occurrence ranking is globally deterministic
    * ((doc_id, span position) tie-break) and the oracle replays it
    * row-for-row, so the rebuilt texts hash-match exactly.
    */
  def q70DuplicateSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSpans(t(s, dir, "documents"), "doc_id", "text",
      spanTokens = 20)
      .withColumnRenamed("id", "doc_id")

  /** Corpus-model bigram fluency (CCNet's LM-filter shape, Wenzek et al.,
    * LREC 2020): every doc scored by the mean add-one-smoothed conditional
    * probability of its word bigrams under a model trained on the corpus
    * itself. Per-bigram probabilities are integer-scaled rationals summed
    * exactly, so engine and oracle agree bit-for-bit — a float log-prob
    * sum could never hash-match across engines (addition order differs).
    */
  def q71BigramFluency(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramFluency(t(s, dir, "documents"), "doc_id", "text")

  /** SemDeDup (Abbas et al., 2023): k-means-cluster the embedding space,
    * compare only within clusters, drop vectors with a lower-id
    * cluster-mate above the cosine threshold — Σ|cell|² pairwise work
    * instead of n², with oversized cells sub-sharded so the worst-case
    * pair work per shuffle key is capped at ≈maxCellSize² regardless of
    * quantizer degeneracy (and the candidate exchange carries ids only).
    * Approximate by design (quantizer-split pairs are missed) and the
    * cluster ids come from the seeded k-means fit, not
    * DuckDB-expressible → rows-only check; IvfSpec pins the drop rule,
    * determinism, and the adversarial all-one-cell pair-work bound.
    */
  def q72SemanticDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
      nClusters = 8, threshold = 0.4)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("total"),
        sum(when(col("kept"), 0).otherwise(1)).cast("long").as("dropped"),
        sum(when(col("kept"), 1).otherwise(0)).cast("long").as("kept"))

  /** Temperature-weighted source mixture (the multilingual-LM sampling rule,
    * Conneau et al. XLM-R, ACL 2020 §3.1): per-source sampling weights
    * `w_s = n_s^τ / Σ n_t^τ` flatten the natural size distribution toward
    * uniform as τ→0, then a token budget turns weights into per-source
    * keep rates. τ = 0.5, so the power is `sqrt` — IEEE 754 requires
    * sqrt to be correctly rounded, which makes the per-source weight
    * numerators BIT-IDENTICAL across engines (a general `pow(x, 0.7)`
    * would be libm-dependent); the 20-term denominator sum and the final
    * round(·, 6) leave ~1e-15 relative drift against a 5e-7 rounding
    * boundary — the q57/q61 exact-ratio discipline, extended one rung.
    *
    * Scale shape: one partial-aggregated shuffle on the source key (tens
    * of keys at any corpus size), then a broadcast 1-row total on the
    * same DAG (q47 pattern). Nothing here grows with corpus rows.
    */
  def q73TemperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val budget = 50000L
    val per = t(s, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"))
      .withColumn("__w", sqrt(col("n_tokens").cast("double")))
    val total = per.agg(sum(col("__w")).as("__wsum"))
    per.crossJoin(broadcast(total))
      .withColumn("weight", round(col("__w") / col("__wsum"), 6))
      .withColumn("target_tokens",
        floor(lit(budget.toDouble) * col("__w") / col("__wsum")).cast("long"))
      .withColumn("keep_rate",
        round(least(lit(1.0),
          col("target_tokens").cast("double") / col("n_tokens")), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("weight"), col("target_tokens"), col("keep_rate"))
  }

  /** Token-diversity gibberish gate via COLLISION entropy (Rényi-2), not
    * Shannon: the collision probability Σc_i²/n² and its inverse (the
    * "effective vocabulary" — how many equally-likely tokens would look
    * this repetitive) are ratios of EXACT integers, so engine and oracle
    * agree bit-for-bit where a Shannon Σ p·log p never could (q71's
    * rationale). Low effective-vocab-to-distinct ratio = a few tokens
    * dominate = boilerplate/spam, the complement of q57's max-token rule.
    *
    * Scale shape: ZERO shuffles. Run-length folding over the per-row
    * sorted token array (one aggregate HOF, integer accumulator) computes
    * Σc² and the distinct count inside the scan stage — the per-(doc,token)
    * explode+groupBy formulation would shuffle one row per token occurrence
    * (at 100 TB: trillions); this shuffles none.
    */
  def q74CollisionDiversity(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.collisionStats(col("text")).as("__f"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        col("__f.d").as("distinct_tokens"), col("__f.s2").as("sum_sq"),
        round(col("__f.s2").cast("double") / (col("n_tokens") * col("n_tokens")),
          6).as("collision_prob"),
        round(col("n_tokens").cast("double") * col("n_tokens") / col("__f.s2"),
          4).as("effective_vocab"))
  }

  /** Bloom-filter benchmark decontamination
    * ([[CorpusClean.bloomContaminatedFlags]]): q58's n-gram-overlap
    * semantics with the membership test folded into the corpus scan stage
    * as a codegen'd Bloom probe — zero shuffles and zero joins over the
    * training side, the 100 TB cadence. No false negatives by
    * construction; the fpp=0.001 false-positive tail over-flags at most a
    * handful of clean docs (BloomSpec pins the superset guarantee and the
    * FP bound against the exact q58 ids). The sketch's hash layout is not
    * DuckDB-expressible → rows-only driver check, like the other
    * approximation ops.
    */
  def q75BloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    CorpusClean.bloomContaminatedFlags(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      "doc_id", "text", n = 8, expectedGrams = 1L << 16, fpp = 0.001)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        sum(when(col("__contaminated"), 1L).otherwise(0L)).as("flagged"))
  }

  /** Count-Min-Sketch heavy hitters ([[graft.functions.CmsEstimate]]):
    * the exact q61-style top-20 tokens annotated with their sketch
    * frequency estimates and overcounts — the sketch vs ground-truth
    * audit a pipeline runs before trusting CMS lookups at a scale where
    * the exact term-frequency table no longer fits. The sketch builds in
    * one tree-aggregated pass (a few-KB mergeable table, no
    * vocabulary-sized shuffle); probes are codegen'd scan-stage lookups.
    * CMS never undercounts and overcounts by ≤ ε·N w.h.p. (AccuracySpec
    * pins both); the seeded sketch is deterministic but its hash layout
    * is not DuckDB-expressible → rows-only driver check.
    */
  def q76HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.CmsFunctions
    val toks = t(s, dir, "documents")
      .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val bytes = CmsFunctions.serialize(
      toks.stat.countMinSketch("tok", eps = 0.0005, confidence = 0.99,
        seed = 42))
    val est = CmsFunctions.cms_estimate(col("tok"), bytes)
    toks.groupBy(col("tok")).agg(count(lit(1)).as("occurrences"))
      .orderBy(col("occurrences").desc, col("tok")).limit(20)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("occurrences").desc, col("tok"))))
      .select(col("rank"), col("tok"), col("occurrences"),
        est.as("estimated"), (est - col("occurrences")).as("overcount"))
  }

  /** Conversion funnel over the event stream (view → click → purchase,
    * each stage strictly after the user's previous stage time): stage
    * user-counts plus the exact summed transition lag. A sequential-
    * pattern workload the grouped/windowed family doesn't cover — the
    * "did the user do X then Y then Z, and how long did each hop take"
    * question every product-analytics warehouse answers.
    *
    * Scale shape: three filter→groupBy(user) cascades, every shuffle and
    * join keyed on user_id only (timestamps never leave their user's
    * partition), 1-row aggregates unioned at the end. Lags sum as exact
    * integer µs (`ts` is long ns; per-user diffs are µs-multiples), so
    * the DuckDB oracle hash-matches bit-for-bit.
    */
  def q77FunnelConversion(s: SparkSession, dir: String): DataFrame =
    EventOps.funnel(t(s, dir, "events"), "user_id", "event_type", "ts",
      Seq("view", "click", "purchase"))

  /** Weekly retention cohorts: users grouped by the ISO week of their
    * FIRST event, crossed with every week they were active — the cohort
    * retention matrix behind every "do users come back" dashboard.
    *
    * Scale shape: one groupBy(user) for the cohort, one distinct on
    * (user, week), one user-keyed join, then a cohort×week aggregate over
    * weeks-sized output. Nothing holds more than (users × active weeks)
    * rows, and every wide operation is keyed on user_id.
    */
  def q78RetentionCohorts(s: SparkSession, dir: String): DataFrame =
    EventOps.retentionCohorts(t(s, dir, "events"), "user_id", "ts")

  /** Multimodal header extraction, driver-checked end-to-end: each doc_id
    * maps closed-form to a REAL PNG/JPEG/WAV container
    * ([[Multimodal.MediaBuilders]]), whose bytes are then parsed back by
    * the real header parser ([[Multimodal.MediaDecoder.ContainerHeaders]]
    * — PNG IHDR, JPEG SOF0 marker walk, RIFF/WAVE fmt chunk walk) inside
    * `extractFeatures`'s mapPartitions. The DuckDB oracle recomputes the
    * same per-format aggregates from the closed forms alone, so any drift
    * in builder OR parser (offsets, endianness, chunk walking, payload
    * sizing) breaks the hash. Scale shape: map-side synthesis + parse,
    * one 3-row aggregate — zero joins, one shuffle.
    */
  def q79MultimodalHeaders(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMediaFromDocs(t(s, dir, "documents"))
    Multimodal.extractFeatures(media).toDF()
      .groupBy(col("kind"))
      .agg(
        count(lit(1)).as("n_media"),
        sum(col("n_bytes").cast("long")).as("sum_bytes"),
        sum(col("width").cast("long")).as("sum_width"),
        sum(col("height").cast("long")).as("sum_height"),
        sum(col("sample_rate").cast("long")).as("sum_sample_rate"),
        sum(col("channels").cast("long")).as("sum_channels"))
  }

  /** Product-quantized ANN — the memory-side scale complement to q50's
    * IVF partition pruning: 64-dim float vectors become 8 one-byte-ish
    * codes (32× compression), and the first-pass candidate scan scores
    * queries against CODES via asymmetric distance computation, never
    * touching the float corpus until the bounded exact re-rank
    * ([[graft.northstar.ProductQuantizer]]). At 100 TB the coded corpus is
    * what stays scannable/cacheable; the vectors stay cold. Approximate by
    * design → rows-only check; [[graft.tools.Accuracy]] gates recall@5 vs
    * brute force and the ADC cosine approximation error per round.
    * m=8 × ksub=16 on near-random embeddings (the quantizer's worst case,
    * same caveat as q50); rerank=8 shortlists 40 of 2000 per query.
    */
  def q81PqAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.northstar.PqIndex.build(emb, "vec_id", "embedding", m = 8, ksub = 16)
      .search(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, rerank = 8)
  }

  /** IVFADC, build side — q50's cell pruning × q81's code compression
    * composed, the FAISS deployment geometry for billion-scale ANN
    * ([[graft.northstar.IvfPqIndex]]): residual-coded inverted lists
    * PERSISTED cell-partitioned with the model sidecar (centroids + PQ
    * codebooks). Returns per-cell coded-list sizes. Split from the probe
    * on the q50 precedent: build is once-per-corpus-version, probe is the
    * per-query serving cost that must not regress at scale.
    */
  def q82IvfPqBuild(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    graft.northstar.IvfPqIndex
      .build(s, emb, "vec_id", "embedding", nlist = 16, m = 8, ksub = 16)
      .persist(s, ivfPqScratch(dir))
      .cellSizes()
  }

  /** IVFADC, probe side — reopens the persisted index (building it first
    * only if q82_ivfpq_build has not run in this scratch dir), resolves
    * probe cells against literal centroids, statically prunes the
    * cell-partitioned code table, scores q·centroid + fused-ADC on codes,
    * exact re-rank of the bounded shortlist. Approximate by design →
    * rows-only check; [[graft.tools.Accuracy]] gates recall@5 per round.
    */
  def q82IvfPqProbe(s: SparkSession, dir: String): DataFrame = {
    val emb = t(s, dir, "embeddings")
    val idx = graft.northstar.IvfPqIndex.load(s, ivfPqScratch(dir))
      .getOrElse(graft.northstar.IvfPqIndex
        .build(s, emb, "vec_id", "embedding", nlist = 16, m = 8, ksub = 16)
        .persist(s, ivfPqScratch(dir)))
    idx.search(emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nprobe = 8, rerank = 8)
  }

  /** The GPT-2-style pre-tokenization pattern, single-sourced: the q68
    * engine query, its DuckDB oracle, and the known-answer spec all read
    * this constant, so the three can never drift. Lookaround-free and
    * whitespace spelled as [[graft.northstar.TextAnalysis.WsClass]] so
    * Java regex and RE2 agree byte-for-byte.
    */
  val BpePiecePattern: String =
    s"'(s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+" +
      s"| ?[^a-z0-9${TextAnalysis.WsChars}]+|${TextAnalysis.WsClass}+"

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q20_token_stats" -> (q20TokenStats _),
    "q21_doc_quality" -> (q21DocQuality _),
    "q22_langid_matrix" -> (q22LangIdMatrix _),
    "q23_exact_dedup" -> (q23ExactDedup _),
    "q24_minhash_near_dups" -> (q24MinhashNearDups _),
    "q25_ngram_jaccard" -> (q25NgramJaccard _),
    "q26_knn_brute" -> (q26KnnBrute _),
    "q27_simhash_near_dups" -> (q27SimhashNearDups _),
    "q28_embedding_near_dups" -> (q28EmbeddingNearDups _),
    "q32_user_sessions" -> (q32UserSessions _),
    "q33_sales_rollup" -> (q33SalesRollup _),
    "q34_asof_last_order" -> (q34AsofLastOrder _),
    "q35_event_burst" -> (q35EventBurst _),
    "q39_scd2_customer_priority" -> (q39Scd2CustomerPriority _),
    "q40_stratified_sample" -> (q40StratifiedSample _),
    "q41_train_split" -> (q41TrainSplit _),
    "q42_corpus_clean" -> (q42CorpusClean _),
    "q43_priority_pivot" -> (q43PriorityPivot _),
    "q44_vector_quantize" -> (q44VectorQuantize _),
    "q45_csv_roundtrip" -> (q45CsvRoundtrip _),
    "q46_jsonl_roundtrip" -> (q46JsonlRoundtrip _),
    "q47_tfidf_terms" -> (q47TfIdfTerms _),
    "q48_containment" -> (q48Containment _),
    "q49_priority_unpivot" -> (q49PriorityUnpivot _),
    "q50_ivf_build" -> (q50IvfBuild _),
    "q50_ivf_probe" -> (q50IvfProbe _),
    "q51_rolling_revenue" -> (q51RollingRevenue _),
    "q52_sales_cube" -> (q52SalesCube _),
    "q53_price_histogram" -> (q53PriceHistogram _),
    "q54_balance_quartiles" -> (q54BalanceQuartiles _),
    "q55_fuzzy_suppliers" -> (q55FuzzySuppliers _),
    "q56_pii_redaction" -> (q56PiiRedaction _),
    "q57_repetition_filter" -> (q57RepetitionFilter _),
    "q58_decontamination" -> (q58Decontamination _),
    "q59_doc_chunks" -> (q59DocChunks _),
    "q60_source_mixture" -> (q60SourceMixture _),
    "q61_zipf_profile" -> (q61ZipfProfile _),
    "q62_sequence_packing" -> (q62SequencePacking _),
    "q63_corpus_prep" -> (q63CorpusPrep _),
    "q64_dedup_clusters" -> (q64DedupClusters _),
    "q65_deduped_corpus" -> (q65DedupedCorpus _),
    "q66_embedding_outliers" -> (q66EmbeddingOutliers _),
    "q67_winnowing_fingerprints" -> (q67WinnowingFingerprints _),
    "q68_bpe_pretokenize" -> (q68BpePretokenize _),
    "q69_incremental_dedup" -> (q69IncrementalDedup _),
    "q70_duplicate_spans" -> (q70DuplicateSpans _),
    "q71_bigram_fluency" -> (q71BigramFluency _),
    "q72_semantic_dedup" -> (q72SemanticDedup _),
    "q73_temperature_mixture" -> (q73TemperatureMixture _),
    "q74_collision_diversity" -> (q74CollisionDiversity _),
    "q75_bloom_decontaminate" -> (q75BloomDecontaminate _),
    "q76_heavy_hitters" -> (q76HeavyHitters _),
    "q77_funnel_conversion" -> (q77FunnelConversion _),
    "q78_retention_cohorts" -> (q78RetentionCohorts _),
    "q79_multimodal_headers" -> (q79MultimodalHeaders _),
    "q80_orc_roundtrip" -> (q80OrcRoundtrip _),
    "q81_pq_ann" -> (q81PqAnn _),
    "q82_ivfpq_build" -> (q82IvfPqBuild _),
    "q82_ivfpq_probe" -> (q82IvfPqProbe _),
    "q83_range_join_shipments" -> (q83RangeJoinShipments _),
    "q84_ivf_append" -> (q84IvfAppend _),
    "q85_interval_overlap" -> (q85IntervalOverlap _),
    "q86_sketch_rollup" -> (q86SketchRollup _),
    "q87_change_data_feed" -> (q87ChangeDataFeed _),
    "q97_cdf_gold_maintenance" -> (q97CdfGoldMaintenance _),
    "q98_sequence_packing" -> (q98SequencePacking _),
    "q100_corpus_curation" -> (q100CorpusCuration _),
    "q101_fuzzy_decontamination" -> (q101FuzzyDecontamination _),
    "q88_bpe_learn" -> (q88BpeLearn _),
    "q89_markup_extract" -> (q89MarkupExtract _),
    "q90_audio_frames" -> (q90AudioFrames _),
    "q91_png_pixels" -> (q91PngPixels _),
    "q96_jpeg_pixels" -> (q96JpegPixels _),
    "q99_jpeg_color_pixels" -> (q99JpegColorPixels _),
    "q102_jpeg_progressive" -> (q102JpegProgressive _),
    "q103_gold_incremental_city" -> (q103GoldIncrementalCity _),
    "q104_image_near_dups" -> (q104ImageNearDups _),
    "q105_gold_minmax" -> (q105GoldMinMax _),
    "q106_video_keyframes" -> (q106VideoKeyframes _),
    "q107_bm25_topk" -> (q107Bm25TopK _),
    "q108_hybrid_rrf" -> (q108HybridRrf _),
    "q109_image_resize" -> (q109ImageResize _),
    "q110_ann_delete" -> (q110AnnDelete _),
    "q111_gold_distinct_ivm" -> (q111GoldDistinctIvm _),
    "q112_hybrid_rrf_ivf" -> (q112HybridRrfIvf _),
    "q113_unigram_learn" -> (q113UnigramLearn _),
    "q114_unigram_tokenize" -> (q114UnigramTokenize _),
    "q115_dictionary_match" -> (q115DictionaryMatch _),
    "q116_gold_percentile" -> (q116GoldPercentile _),
    "q117_dictionary_redact" -> (q117DictionaryRedact _),
    "q118_stats_pruned_scan" -> (q118StatsPrunedScan _),
    "q119_restore_rollback" -> (q119RestoreRollback _),
    "q120_clone_divergence" -> (q120CloneDivergence _),
    "q121_timestamp_travel" -> (q121TimestampTravel _),
    "q122_sql_pruned_scan" -> (q122SqlPrunedScan _),
    "q123_cow_merge" -> (q123CowMerge _),
    "q124_sql_merge" -> (q124SqlMerge _),
    "q125_sql_merge_set" -> (q125SqlMergeSet _),
    "q126_sql_dml" -> (q126SqlDml _),
    "q127_sql_maintenance" -> (q127SqlMaintenance _),
    "q128_sql_merge_cond" -> (q128SqlMergeCond _),
    "q129_sql_ddl" -> (q129SqlDdl _),
    "q130_sql_restore_clone" -> (q130SqlRestoreClone _),
    "q92_bpe_tokenize" -> (q92BpeTokenize _),
    "q93_supplier_rank" -> (q93SupplierRank _),
    "q94_leakage_free_split" -> (q94LeakageFreeSplit _),
    "q95_schema_evolution" -> (q95SchemaEvolution _),
  )

  /** Whitespace + canonical-text SQL snippets, interpolated into every
    * oracle so DuckDB's RE2 sees byte-identical regexes with the engine's
    * Java patterns — `\s` itself differs between the two engines on
    * U+000B, so both sides spell the class out
    * ([[graft.northstar.TextAnalysis.WsChars]]).
    */
  private val wsSql = TextAnalysis.WsClass
  private val normTextSql =
    s"trim(regexp_replace(lower(text), '$wsSql+', ' ', 'g'))"

  private val tokensSql =
    s"""list_filter(string_split_regex(text, '$wsSql+'), t -> len(t) > 0)"""

  private def langScoreSql(profile: Seq[String]): String =
    s"""len(list_filter($tokensSql, t -> len(t) > 0 AND lower(t) IN (${
      profile.map(w => s"'$w'").mkString(", ")})))"""

  /** q115's oracle, GENERATED from [[DictPhrases]] so ids and strings
    * cannot drift: every (doc, phrase) count recomputed by brute-force
    * position enumeration — `substr` equality at every start position,
    * which counts OVERLAPPING occurrences exactly like the automaton's
    * exit chain. Character positions equal byte positions here because
    * the dictionary is ASCII and an ASCII pattern can never match
    * starting inside a multi-byte UTF-8 character.
    */
  private def q115OracleSql: String = {
    val dict = DictPhrases.zipWithIndex
      .map { case (p, i) => s"($i, '$p', ${p.length})" }
      .mkString(", ")
    s"""WITH RECURSIVE pos(i) AS (
          SELECT 1
          UNION ALL
          SELECT i + 1 FROM pos
          WHERE i < (SELECT max(len(text)) FROM documents)
        )
        SELECT d.doc_id, CAST(ph.phrase_id AS INTEGER) AS phrase_id,
          count(*) AS n_matches
        FROM documents d
        JOIN pos ON pos.i <= len(d.text)
        JOIN (VALUES $dict) ph(phrase_id, phrase, plen)
          ON substr(d.text, pos.i, ph.plen) = ph.phrase
        GROUP BY 1, 2"""
  }

  /** q117's oracle: re-derive every dictionary occurrence positionally
    * (q115's machinery), replay the LEFTMOST-LONGEST greedy selection as
    * a recursive CTE (each step picks the earliest-start longest match
    * at/after the cursor via NOT-EXISTS-a-better-match — no window
    * functions inside recursion), rebuild the redacted text from the
    * chosen spans, and md5-pin it. Character positions in SQL equal the
    * engine's byte positions as OPERATIONS on the text (UTF-8 matches
    * are char-boundary aligned), so the rebuilt strings are identical.
    */
  private def q117OracleSql: String = {
    val dict = DictPhrases.zipWithIndex
      .map { case (p, i) => s"($i, '$p', ${p.length})" }
      .mkString(", ")
    s"""WITH RECURSIVE pos(i) AS (
          SELECT 1
          UNION ALL
          SELECT i + 1 FROM pos
          WHERE i < (SELECT max(len(text)) FROM documents)
        ),
        matches AS (
          SELECT d.doc_id, pos.i AS s, ph.plen AS l
          FROM documents d
          JOIN pos ON pos.i <= len(d.text)
          JOIN (VALUES $dict) ph(phrase_id, phrase, plen)
            ON substr(d.text, pos.i, ph.plen) = ph.phrase
        ),
        chosen(doc_id, s, l, e) AS (
          SELECT m.doc_id, m.s, m.l, m.s + m.l
          FROM matches m
          WHERE NOT EXISTS (
            SELECT 1 FROM matches m2
            WHERE m2.doc_id = m.doc_id
              AND (m2.s < m.s OR (m2.s = m.s AND m2.l > m.l)))
          UNION ALL
          SELECT m.doc_id, m.s, m.l, m.s + m.l
          FROM chosen c
          JOIN matches m ON m.doc_id = c.doc_id AND m.s >= c.e
          WHERE NOT EXISTS (
            SELECT 1 FROM matches m2
            WHERE m2.doc_id = c.doc_id AND m2.s >= c.e
              AND (m2.s < m.s OR (m2.s = m.s AND m2.l > m.l)))
        ),
        segs AS (
          SELECT doc_id, s, l, e,
                 lag(e, 1, 1) OVER (PARTITION BY doc_id ORDER BY s)
                   AS prev_e
          FROM chosen),
        built AS (
          SELECT sg.doc_id,
                 string_agg(substr(d.text, sg.prev_e, sg.s - sg.prev_e)
                   || '$DictReplaceTag', '' ORDER BY sg.s) AS head,
                 max(sg.e) AS last_e,
                 CAST(count(*) AS BIGINT) AS n_red
          FROM segs sg JOIN documents d ON d.doc_id = sg.doc_id
          GROUP BY sg.doc_id)
        SELECT d.doc_id,
               coalesce(b.n_red, 0) AS n_redactions,
               CAST(len(coalesce(b.head || substr(d.text, b.last_e),
                 d.text)) AS BIGINT) AS redacted_len,
               md5(coalesce(b.head || substr(d.text, b.last_e), d.text))
                 AS redacted_md5
        FROM documents d LEFT JOIN built b ON d.doc_id = b.doc_id"""
  }

  val oracles: Map[String, String] = Map(
    "q115_dictionary_match" -> q115OracleSql,
    "q117_dictionary_redact" -> q117OracleSql,
    // q118: the pruned scan is a SUPERSET of the predicate, so the
    // filtered aggregate equals the plain full-scan aggregate — which is
    // exactly what DuckDB computes here; the pruning itself is asserted
    // in-engine (require kept < total) and IO-proven in TablesSpec.
    "q118_stats_pruned_scan" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                      AS BIGINT) AS sum_cents
          FROM orders
          WHERE o_orderkey BETWEEN $StatsPruneLo AND $StatsPruneHi
          GROUP BY 1""",
    // q119: RESTORE recomputed from the version DEFINITIONS — the
    // restored state must equal v1's closed form and the CDF across the
    // restore commit must equal the exact v3 -> v1 multiset diff
    // (EXCEPT ALL both directions, the q87 discipline)
    "q119_restore_rollback" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         v3 AS (SELECT o_orderkey, o_orderstatus,
                       CAST(0 AS BIGINT) AS cents
                FROM base WHERE o_orderkey % 97 = 0),
         ins AS (SELECT *, 'cdf_insert' AS kind
                 FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)),
         del AS (SELECT *, 'cdf_delete' AS kind
                 FROM (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1)),
         st AS (SELECT *, 'state' AS kind FROM v1),
         unioned AS (SELECT * FROM st UNION ALL SELECT * FROM ins
                     UNION ALL SELECT * FROM del)
         SELECT kind, o_orderstatus, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM unioned GROUP BY 1, 2""",
    // q120: both diverged end states recomputed from their closed-form
    // definitions — a sharing bug between clone and source breaks it
    "q120_clone_divergence" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         src_def AS (SELECT * FROM base WHERE o_orderkey % 3 <> 0),
         src_fin AS (SELECT * FROM src_def WHERE o_orderkey % 2 = 0),
         clone_fin AS (SELECT * FROM src_def
                       UNION ALL
                       SELECT o_orderkey, o_orderstatus, cents * 2
                       FROM base WHERE o_orderkey % 3 = 0),
         sides AS (SELECT 'source' AS side, * FROM src_fin
                   UNION ALL SELECT 'clone' AS side, * FROM clone_fin)
         SELECT side, o_orderstatus, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM sides GROUP BY 1, 2""",
    // q122: same closed form as q118 — SQL-path skipping is a strict
    // optimization, so the catalog-routed aggregate equals DuckDB's
    // plain full scan (the in-query require pins the file census)
    "q122_sql_pruned_scan" ->
      s"""SELECT o_orderstatus, count(*) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                      AS BIGINT) AS sum_cents
          FROM orders
          WHERE o_orderkey BETWEEN $StatsPruneLo AND $StatsPruneHi
          GROUP BY 1""",
    // q123: the merged state AND the CDF across the merge commit, both
    // recomputed from the closed-form batch definition (EXCEPT ALL for
    // the delta — the q87 discipline): seed = %5≠0 keys; the batch
    // moves %11 keys to status 'P', bumps the remaining %7 keys by 100,
    // and inserts the %5 keys unmodified
    "q123_cow_merge" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         fin AS (
           SELECT id,
                  CASE WHEN id % 5 <> 0 AND id % 11 = 0 THEN 'P'
                       ELSE status END AS status,
                  CASE WHEN id % 5 <> 0 AND id % 11 <> 0 AND id % 7 = 0
                       THEN cents + 100 ELSE cents END AS cents
           FROM base),
         ins AS (SELECT *, 'cdf_insert' AS kind
                 FROM (SELECT * FROM fin EXCEPT ALL SELECT * FROM seed)),
         del AS (SELECT *, 'cdf_delete' AS kind
                 FROM (SELECT * FROM seed EXCEPT ALL SELECT * FROM fin)),
         st AS (SELECT *, 'state' AS kind FROM fin),
         unioned AS (SELECT * FROM st UNION ALL SELECT * FROM ins
                     UNION ALL SELECT * FROM del)
         SELECT kind, status, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM unioned GROUP BY 1, 2""",
    // q124: the SQL-MERGE statements' closed form — merge 1 is q123's
    // batch (fin1), merge 2 deletes the %13 keys; state aggregates the
    // final table, cdf2_*/cdf3_* the EXCEPT-ALL deltas of each commit
    "q124_sql_merge" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         fin1 AS (
           SELECT id,
                  CASE WHEN id % 5 <> 0 AND id % 11 = 0 THEN 'P'
                       ELSE status END AS status,
                  CASE WHEN id % 5 <> 0 AND id % 11 <> 0 AND id % 7 = 0
                       THEN cents + 100 ELSE cents END AS cents
           FROM base),
         fin2 AS (SELECT * FROM fin1 WHERE id % 13 <> 0),
         ins2 AS (SELECT *, 'cdf2_insert' AS kind
                  FROM (SELECT * FROM fin1 EXCEPT ALL SELECT * FROM seed)),
         del2 AS (SELECT *, 'cdf2_delete' AS kind
                  FROM (SELECT * FROM seed EXCEPT ALL SELECT * FROM fin1)),
         del3 AS (SELECT *, 'cdf3_delete' AS kind
                  FROM fin1 WHERE id % 13 = 0),
         st AS (SELECT *, 'state' AS kind FROM fin2),
         unioned AS (SELECT * FROM st UNION ALL SELECT * FROM ins2
                     UNION ALL SELECT * FROM del2
                     UNION ALL SELECT * FROM del3)
         SELECT kind, status, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM unioned GROUP BY 1, 2""",
    // q125: assignment-MERGE closed form — matched %3 keys (seeded:
    // %5<>0) bump cents by 7; unmatched %3 keys (%5=0) insert under
    // status 'N' with cents NULL (the INSERT fill rule — n_priced
    // counts non-null cents and pins it)
    "q125_sql_merge_set" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         fin AS (
           SELECT id, status,
                  CASE WHEN id % 3 = 0 THEN cents + 7 ELSE cents END
                    AS cents
           FROM base WHERE id % 5 <> 0
           UNION ALL
           SELECT id, 'N' AS status, CAST(NULL AS BIGINT) AS cents
           FROM base WHERE id % 5 = 0 AND id % 3 = 0)
         SELECT status, count(*) AS n_rows, count(cents) AS n_priced,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM fin GROUP BY status""",
    // q126: the three DML statements' closed form — UPDATE bumps %3
    // keys by 7 (all seeded rows: %5<>0), DELETE drops %13 keys, INSERT
    // appends the %5 keys under status 'N'; cdf2 = update pairs, cdf3 =
    // the deleted post-update images, cdf4 = the appended rows
    "q126_sql_dml" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         afterU AS (SELECT id, status,
                           CASE WHEN id % 3 = 0 THEN cents + 7
                                ELSE cents END AS cents FROM seed),
         afterD AS (SELECT * FROM afterU
                    WHERE NOT (id % 13 = 0 AND status = 'F')),
         ins AS (SELECT id, 'N' AS status, cents FROM base
                 WHERE id % 5 = 0),
         fin AS (SELECT * FROM afterD UNION ALL SELECT * FROM ins),
         labeled AS (
           SELECT 'state' AS kind, * FROM fin
           UNION ALL SELECT 'cdf2_delete' AS kind, * FROM seed
             WHERE id % 3 = 0
           UNION ALL SELECT 'cdf2_insert' AS kind, * FROM afterU
             WHERE id % 3 = 0
           UNION ALL SELECT 'cdf3_delete' AS kind, * FROM afterU
             WHERE id % 13 = 0 AND status = 'F' 
           UNION ALL SELECT 'cdf4_insert' AS kind, * FROM ins)
         SELECT kind, status, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM labeled GROUP BY 1, 2""",
    // q130: the rollback/branch verbs' closed form — the restored
    // source is the seed again; the clone is seed ∪ the %5 inserts;
    // source history = CTAS overwrite + UPDATE replace + restore
    // overwrite
    "q130_sql_restore_clone" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         src AS (SELECT 'src' AS kind, status, count(*) AS n_rows,
                        CAST(sum(cents) AS BIGINT) AS sum_cents
                 FROM seed GROUP BY status),
         cl AS (SELECT 'clone' AS kind, status, count(*) AS n_rows,
                       CAST(sum(cents) AS BIGINT) AS sum_cents
                FROM base GROUP BY status),
         hist AS (SELECT 'hist' AS kind, 'overwrite' AS status,
                         CAST(2 AS BIGINT) AS n_rows,
                         CAST(NULL AS BIGINT) AS sum_cents
                  UNION ALL
                  SELECT 'hist', 'replace', CAST(1 AS BIGINT),
                         CAST(NULL AS BIGINT))
         SELECT * FROM src UNION ALL SELECT * FROM cl
         UNION ALL SELECT * FROM hist""",
    // q129: the SQL-only lifecycle's closed form — state = the q124
    // upsert result (fin1), v1 = the CTAS seed snapshot, history = one
    // overwrite (CTAS) + one replace (MERGE) commit
    "q129_sql_ddl" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         fin1 AS (
           SELECT id,
                  CASE WHEN id % 5 <> 0 AND id % 11 = 0 THEN 'P'
                       ELSE status END AS status,
                  CASE WHEN id % 5 <> 0 AND id % 11 <> 0 AND id % 7 = 0
                       THEN cents + 100 ELSE cents END AS cents
           FROM base),
         st AS (SELECT 'state' AS kind, status, count(*) AS n_rows,
                       CAST(sum(cents) AS BIGINT) AS sum_cents
                FROM fin1 GROUP BY status),
         v1 AS (SELECT 'v1' AS kind, status, count(*) AS n_rows,
                       CAST(sum(cents) AS BIGINT) AS sum_cents
                FROM seed GROUP BY status),
         hist AS (SELECT 'history' AS kind, 'overwrite' AS status,
                         CAST(1 AS BIGINT) AS n_rows,
                         CAST(NULL AS BIGINT) AS sum_cents
                  UNION ALL
                  SELECT 'history', 'replace', CAST(1 AS BIGINT),
                         CAST(NULL AS BIGINT))
         SELECT * FROM st UNION ALL SELECT * FROM v1
         UNION ALL SELECT * FROM hist""",
    // q128: the conditional MERGE's closed form — source = %3 keys with
    // delta = id%10; matched ∧ delta≥5 deletes (first clause wins),
    // else matched ∧ even cents bumps by delta, unmatched ∧ delta<5
    // inserts under 'N'; cdf_* are the EXCEPT-ALL deltas of the commit
    "q128_sql_merge_cond" ->
      """WITH base AS (SELECT o_orderkey AS id, o_orderstatus AS status,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         seed AS (SELECT * FROM base WHERE id % 5 <> 0),
         src AS (SELECT id, id % 10 AS delta FROM base WHERE id % 3 = 0),
         fin_seed AS (
           SELECT t.id, t.status,
                  CASE WHEN u.id IS NOT NULL AND u.delta < 5
                            AND t.cents % 2 = 0
                       THEN t.cents + u.delta ELSE t.cents END AS cents
           FROM seed t LEFT JOIN src u ON t.id = u.id
           WHERE u.id IS NULL OR u.delta < 5),
         ins AS (SELECT u.id, 'N' AS status, CAST(u.delta AS BIGINT)
                          AS cents
                 FROM src u LEFT JOIN seed t ON u.id = t.id
                 WHERE t.id IS NULL AND u.delta < 5),
         fin AS (SELECT * FROM fin_seed UNION ALL SELECT * FROM ins),
         insf AS (SELECT *, 'cdf_insert' AS kind
                  FROM (SELECT * FROM fin EXCEPT ALL
                        SELECT * FROM seed)),
         delf AS (SELECT *, 'cdf_delete' AS kind
                  FROM (SELECT * FROM seed EXCEPT ALL
                        SELECT * FROM fin)),
         st AS (SELECT *, 'state' AS kind FROM fin),
         unioned AS (SELECT * FROM st UNION ALL SELECT * FROM insf
                     UNION ALL SELECT * FROM delf)
         SELECT kind, status, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM unioned GROUP BY 1, 2""",
    // q127: DESCRIBE HISTORY under the injected clock is closed-form
    // (v1 overwrite @1000, v2 append @2000, the OPTIMIZE rewrite
    // @3000); the state row aggregates the full table (v1 + the
    // append) — compaction and vacuum must preserve every row
    "q127_sql_maintenance" ->
      """WITH base AS (SELECT o_orderkey AS id,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         hist(version, commit, ts_ms) AS (VALUES
           (1, 'overwrite', 1000), (2, 'append', 2000),
           (3, 'overwrite', 3000))
         SELECT 'history' AS kind, version, commit,
                CAST(ts_ms AS BIGINT) AS ts_ms,
                CAST(NULL AS BIGINT) AS n_rows,
                CAST(NULL AS BIGINT) AS sum_cents
         FROM hist
         UNION ALL
         SELECT 'state' AS kind, CAST(NULL AS INTEGER) AS version,
                CAST(NULL AS VARCHAR) AS commit,
                CAST(NULL AS BIGINT) AS ts_ms,
                count(*) AS n_rows, CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM base""",
    // q121: every timestamp-addressed state recomputed from the version
    // DEFINITIONS — asof_mid/restored/asof_future must equal v1's
    // closed form (the future resolves to the restore commit, itself
    // ≡ v1), asof_boundary/asof_preswap v2's — a resolution off by one
    // version breaks the hash
    "q121_timestamp_travel" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         v2 AS (SELECT o_orderkey, o_orderstatus,
                       cents + (CASE WHEN o_orderkey % 5 = 0 THEN 1
                                     ELSE 0 END) AS cents FROM v1),
         labeled AS (
           SELECT 'asof_mid' AS kind, * FROM v1
           UNION ALL SELECT 'asof_boundary' AS kind, * FROM v2
           UNION ALL SELECT 'asof_preswap' AS kind, * FROM v2
           UNION ALL SELECT 'asof_future' AS kind, * FROM v1
           UNION ALL SELECT 'restored' AS kind, * FROM v1)
         SELECT kind, o_orderstatus, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM labeled GROUP BY 1, 2""",
    // q116: replays the HDR-style bucket arithmetic (floor-log2 with the
    // same integer self-correction the engine uses, so a double rounding
    // step can never diverge the two), the histogram, and the type-1
    // integer-rational rank pick on the FINAL commit's closed form — the
    // engine reached the same values through signed histogram folds
    // across three commits, so hash equality IS fold ≡ rebuild.
    "q116_gold_percentile" ->
      """WITH src AS (
           SELECT o_orderstatus, o_orderpriority,
                  CASE WHEN o_orderkey % 13 = 0 THEN NULL
                       ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) +
                            (CASE WHEN o_orderkey % 5 = 0 THEN 1000
                                  ELSE 0 END)
                  END AS cents
           FROM orders WHERE o_orderkey % 3 <> 0),
         s0 AS (
           SELECT *, CASE WHEN cents IS NULL OR cents < 16 THEN NULL
                  ELSE least(CAST(floor(log2(cents)) AS INTEGER), 62)
                  END AS e0
           FROM src),
         s1 AS (
           SELECT *, CASE WHEN e0 IS NULL THEN NULL
                  WHEN e0 < 62 AND (CAST(1 AS BIGINT) << (e0 + 1)) <= cents
                    THEN e0 + 1
                  ELSE e0 END AS e1
           FROM s0),
         s2 AS (
           SELECT *, CASE WHEN e1 IS NULL THEN NULL
                  WHEN (CAST(1 AS BIGINT) << e1) > cents THEN e1 - 1
                  ELSE e1 END AS ee
           FROM s1),
         eb AS (
           SELECT o_orderstatus, o_orderpriority, cents,
                  CASE WHEN cents IS NULL THEN NULL
                       WHEN cents < 16 THEN CAST(cents AS INTEGER)
                       ELSE CAST((ee - 3) * 16 + ((cents >> (ee - 4)) - 16)
                                 AS INTEGER)
                  END AS b
           FROM s2),
         hist AS (
           SELECT o_orderstatus, o_orderpriority, b,
                  CAST(count(*) AS BIGINT) AS n
           FROM eb WHERE b IS NOT NULL
           GROUP BY o_orderstatus, o_orderpriority, b),
         cum AS (
           SELECT *,
                  sum(n) OVER (PARTITION BY o_orderstatus, o_orderpriority
                               ORDER BY b) AS cn,
                  sum(n) OVER (PARTITION BY o_orderstatus,
                               o_orderpriority) AS nn
           FROM hist),
         picks AS (
           SELECT o_orderstatus, o_orderpriority,
                  min(CASE WHEN cn >= (nn * 50 + 99) // 100 THEN b END)
                    AS b50,
                  min(CASE WHEN cn >= (nn * 95 + 99) // 100 THEN b END)
                    AS b95
           FROM cum GROUP BY o_orderstatus, o_orderpriority),
         agg AS (
           SELECT o_orderstatus, o_orderpriority,
                  CAST(count(*) AS BIGINT) AS n_rows,
                  CAST(sum(coalesce(cents, 0)) AS BIGINT) AS value_sum
           FROM src GROUP BY o_orderstatus, o_orderpriority)
         SELECT agg.o_orderstatus, agg.o_orderpriority, n_rows, value_sum,
                CASE WHEN b50 IS NULL THEN NULL
                     WHEN b50 < 16 THEN CAST(b50 AS BIGINT)
                     ELSE CAST(16 + (b50 % 16) AS BIGINT) << (b50 // 16 - 1)
                END AS p50,
                CASE WHEN b95 IS NULL THEN NULL
                     WHEN b95 < 16 THEN CAST(b95 AS BIGINT)
                     ELSE CAST(16 + (b95 % 16) AS BIGINT) << (b95 // 16 - 1)
                END AS p95
         FROM agg LEFT JOIN picks
           ON agg.o_orderstatus = picks.o_orderstatus
          AND agg.o_orderpriority = picks.o_orderpriority""",
    "q20_token_stats" ->
      s"""SELECT lang, count(*) AS docs,
          CAST(sum(len($tokensSql)) AS BIGINT) AS total_tokens,
          round(CAST(sum(len($tokensSql)) AS DOUBLE) / count(*), 4) AS avg_tokens,
          CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM documents GROUP BY lang""",

    "q21_doc_quality" ->
      s"""SELECT doc_id,
          CAST(len($tokensSql) AS INTEGER) AS n_tokens,
          round(CASE WHEN len(text) = 0 THEN 0.0
                ELSE CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text) END, 6) AS punct_ratio,
          round(CASE WHEN len($tokensSql) = 0 THEN 0.0
                ELSE CAST(len(list_filter($tokensSql, t -> lower(t) IN (${
        TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")}))) AS DOUBLE) / len($tokensSql) END, 6) AS stopword_ratio,
          round(CASE WHEN len($tokensSql) = 0 THEN 0.0
                ELSE CAST(list_sum(list_transform($tokensSql, t -> len(t))) AS DOUBLE) / len($tokensSql) END, 6) AS mean_token_len
          FROM documents""",

    "q22_langid_matrix" ->
      s"""WITH scored AS (
            SELECT lang, list_max([${
        TextAnalysis.LangProfiles.map { case (lang, profile) =>
          s"{'s': ${langScoreSql(profile)}, 'l': '$lang'}"
        }.mkString(", ")}]).l AS predicted_lang
            FROM documents)
          SELECT lang, predicted_lang, count(*) AS n
          FROM scored GROUP BY 1, 2""",

    "q23_exact_dedup" ->
      s"""SELECT md5($normTextSql) AS fingerprint,
         CAST(min(doc_id) AS BIGINT) AS canonical_id,
         count(*) AS copies
         FROM documents GROUP BY 1""",

    "q32_user_sessions" ->
      """WITH ev AS (
           SELECT event_id, user_id, value,
                  CAST(ts AS TIMESTAMP) AS event_time
           FROM events),
         marked AS (
           SELECT *, CASE WHEN lag(event_time) OVER w IS NULL
                            OR epoch_us(event_time) - epoch_us(lag(event_time) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_session
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY event_time, event_id)),
         numbered AS (
           SELECT *, CAST(sum(new_session) OVER
             (PARTITION BY user_id ORDER BY event_time, event_id) AS BIGINT) AS session_id
           FROM marked)
         SELECT user_id, session_id,
                count(*) AS n_events,
                min(event_time) AS session_start,
                max(event_time) AS session_end,
                CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
         FROM numbered GROUP BY 1, 2""",

    "q33_sales_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
                o_orderpriority,
                count(*) AS orders,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY ROLLUP (order_year, o_orderpriority)""",

    "q34_asof_last_order" ->
      """WITH ev AS (
           SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS event_time
           FROM events),
         ord AS (
           SELECT o_custkey AS user_id, o_orderdate AS last_order_date,
                  CAST(max(o_orderkey) AS BIGINT) AS last_order_key
           FROM orders GROUP BY 1, 2)
         SELECT ev.event_id, ev.user_id, ord.last_order_key, ord.last_order_date
         FROM ev ASOF LEFT JOIN ord
           ON ev.user_id = ord.user_id AND ev.event_time >= ord.last_order_date""",

    "q35_event_burst" ->
      """WITH ev AS (
           SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS et
           FROM events),
         errors AS (
           SELECT event_id AS error_id, user_id, et AS error_time
           FROM ev WHERE event_type = 'error'),
         clicks AS (
           SELECT user_id AS c_user_id, et AS click_time
           FROM ev WHERE event_type = 'click')
         SELECT error_id, user_id, count(click_time) AS nearby_clicks
         FROM errors LEFT JOIN clicks
           ON user_id = c_user_id
          AND abs(epoch_us(click_time) - epoch_us(error_time)) <= 3600000000
         GROUP BY 1, 2""",

    "q24_minhash_near_dups" -> ngramJaccardOracle(0.5),
    // The cross-corpus (train × benchmark) subset of the exact pair set,
    // oriented train-first — same shared trigram CTEs as q24/q64.
    "q101_fuzzy_decontamination" ->
      s"""WITH ${ngramPairCtes(None)},
          xp AS (
            SELECT CASE WHEN id_a % 10 = 0 THEN id_b ELSE id_a END AS train_id,
                   CASE WHEN id_a % 10 = 0 THEN id_a ELSE id_b END AS bench_id,
                   CAST(inter AS DOUBLE) / (n_a + n_b - inter) AS j
            FROM shared
            WHERE (id_a % 10 = 0) <> (id_b % 10 = 0))
          SELECT train_id, bench_id, round(j, 6) AS jaccard
          FROM xp WHERE j >= 0.5""",

    "q69_incremental_dedup" -> ngramJaccardOracle(0.5,
      pairPredicate = "AND (id_a % 10 = 7 OR id_b % 10 = 7)"),
    "q25_ngram_jaccard" -> ngramJaccardOracle(0.3, maxDf = Some(64)),

    "q26_knn_brute" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
           FROM embeddings),
         q AS (SELECT * FROM v WHERE vec_id < 10),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_dot_product(q.ve, c.ve) /
                        (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))), 6) AS cosine
           FROM v c, q WHERE c.vec_id != q.vec_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
         FROM ranked WHERE rnk <= 5""",

    // q26 restricted to the surviving corpus: exhaustive (nprobe=nlist)
    // IVF search is exact, so the deleted-then-compacted index must
    // reproduce the brute-force top-k with vec_id % 7 = 3 gone
    "q110_ann_delete" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
           FROM embeddings),
         q AS (SELECT * FROM v WHERE vec_id < 10),
         c AS (SELECT * FROM v WHERE vec_id % 7 <> 3),
         scored AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                  round(list_dot_product(q.ve, c.ve) /
                        (sqrt(list_dot_product(q.ve, q.ve)) * sqrt(list_dot_product(c.ve, c.ve))), 6) AS cosine
           FROM c, q WHERE c.vec_id != q.vec_id),
         ranked AS (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
           FROM scored)
         SELECT query_id, neighbor_id, cosine, CAST(rnk AS INTEGER) AS rank
         FROM ranked WHERE rnk <= 5""",

    // The oracle computes count(DISTINCT) on the FINAL silver state
    // (v3: every 11th order deleted, every 6th city renamed) — the
    // engine reached the same numbers through HLL-sketch folds
    // (insert-only unions) and pair-loss rescans, and coupon-regime
    // sketches estimate EXACTLY, so hash equality is the distinct-IVM
    // claim itself.
    "q111_gold_distinct_ivm" ->
      """WITH ord AS (
           SELECT o_orderkey AS id,
                  o_custkey AS customer_id,
                  o_custkey % 25 AS address_id,
                  CAST(year(o_orderdate) AS INTEGER) AS year
           FROM orders WHERE o_orderkey % 11 <> 0),
         addr AS (
           SELECT CAST(n_nationkey AS BIGINT) AS address_id,
                  CASE WHEN n_nationkey % 6 = 0 THEN lower(n_name) || '_x'
                       ELSE lower(n_name) END AS city
           FROM nation),
         j AS (
           SELECT o.id, o.customer_id, a.city, o.year
           FROM ord o LEFT JOIN addr a USING (address_id))
         SELECT city, year,
                CAST(count(id) AS BIGINT) AS order_count,
                CAST(count(DISTINCT customer_id) AS BIGINT)
                  AS distinct_customers
         FROM j GROUP BY city, year""",

    "q39_scd2_customer_priority" ->
      """WITH ranked AS (
           SELECT o_custkey, o_orderpriority,
                  o_orderdate >= DATE '1995-01-01' AS era,
                  row_number() OVER (
                    PARTITION BY o_custkey, (o_orderdate >= DATE '1995-01-01')
                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
           FROM orders),
         b1 AS (SELECT o_custkey AS customer_id, o_orderpriority AS priority
                FROM ranked WHERE rn = 1 AND NOT era),
         b2 AS (SELECT o_custkey AS customer_id, o_orderpriority AS priority
                FROM ranked WHERE rn = 1 AND era),
         j AS (
           SELECT coalesce(b1.customer_id, b2.customer_id) AS customer_id,
                  b1.priority AS p1, b2.priority AS p2,
                  b1.customer_id IS NOT NULL AS in1,
                  b2.customer_id IS NOT NULL AS in2
           FROM b1 FULL JOIN b2 ON b1.customer_id = b2.customer_id)
         SELECT customer_id, p1 AS priority,
                DATE '1992-01-01' AS valid_from,
                CASE WHEN in2 AND p1 <> p2 THEN DATE '1995-01-01' END AS valid_to,
                NOT (in2 AND p1 <> p2) AS is_current
         FROM j WHERE in1
         UNION ALL
         SELECT customer_id, p2 AS priority,
                DATE '1995-01-01' AS valid_from,
                CAST(NULL AS DATE) AS valid_to,
                true AS is_current
         FROM j WHERE in2 AND (NOT in1 OR p1 <> p2)""",

    "q40_stratified_sample" ->
      s"""SELECT lang, doc_id FROM (
            SELECT lang, doc_id,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY (doc_id * ${Sampling.Knuth} + 1) % ${Sampling.Modulus},
                              doc_id) AS rn
            FROM documents) WHERE rn <= 50""",

    "q41_train_split" -> trainSplitOracle,

    "q43_priority_pivot" ->
      s"""SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, ${
        Priorities.map { case (v, alias) =>
          s"count(CASE WHEN o_orderpriority = '$v' THEN 1 END) AS $alias"
        }.mkString(", ")}
          FROM orders GROUP BY 1""",

    "q44_vector_quantize" ->
      """WITH v AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
           FROM embeddings),
         s AS (
           SELECT vec_id, ve,
                  CASE WHEN list_max(list_transform(ve, x -> abs(x))) = 0
                       THEN 1.0
                       ELSE 127.0 / list_max(list_transform(ve, x -> abs(x)))
                  END AS scale
           FROM v)
         SELECT vec_id,
                round(sqrt(list_dot_product(ve, ve)), 6) AS l2_norm,
                round(list_max(list_transform(ve,
                  x -> abs(round(x * scale) / scale - x))), 6) AS max_q_err
         FROM s""",

    "q45_csv_roundtrip" ->
      """SELECT n_regionkey, count(*) AS nations,
                CAST(sum(n_nationkey) AS BIGINT) AS key_sum
         FROM nation GROUP BY 1""",

    "q46_jsonl_roundtrip" ->
      """SELECT count(*) AS regions,
                CAST(sum(len(r_name)) AS BIGINT) AS name_chars
         FROM region""",

    "q47_tfidf_terms" ->
      s"""WITH toks AS (
            SELECT doc_id, lang, unnest($tokensSql) AS tok FROM documents),
          df AS (
            SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
            FROM toks GROUP BY tok),
          tf AS (
            SELECT lang, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
          scored AS (
            SELECT lang, tok,
                   round(tf * (SELECT CAST(count(*) AS DOUBLE) FROM documents) / df, 6) AS score
            FROM tf JOIN df USING (tok)),
          ranked AS (
            SELECT *, row_number() OVER
              (PARTITION BY lang ORDER BY score DESC, tok) AS rank
            FROM scored)
          SELECT lang, tok, score, CAST(rank AS INTEGER) AS rank
          FROM ranked WHERE rank <= 5""",

    "q48_containment" ->
      s"""WITH toks AS (
            SELECT doc_id, $tokensSql AS tk FROM documents),
          sets AS (
            SELECT doc_id,
                   list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                        ELSE list_transform(range(len(tk) - 2),
                               i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) END) AS sh
            FROM toks),
          e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sets),
          hot AS (SELECT g FROM e GROUP BY g HAVING count(*) > 64),
          ec AS (SELECT * FROM e WHERE g NOT IN (SELECT g FROM hot)),
          shared AS (
            SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.n AS n_a,
                   count(*) AS inter
            FROM ec x JOIN ec y USING (g)
            WHERE x.doc_id != y.doc_id
            GROUP BY 1, 2, 3)
          SELECT id_a, id_b,
                 round(CAST(inter AS DOUBLE) / n_a, 6) AS containment
          FROM shared
          WHERE CAST(inter AS DOUBLE) / n_a >= 0.9""",

    "q51_rolling_revenue" ->
      """SELECT o_orderkey, o_custkey, o_orderdate,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) OVER (
                  PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
                  RANGE BETWEEN INTERVAL 89 DAY PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cents_90d
         FROM orders""",

    "q52_sales_cube" ->
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS order_year,
                count(*) AS orders,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders
         GROUP BY CUBE (o_orderpriority, order_year)""",

    "q53_price_histogram" ->
      """SELECT CAST(floor(o_totalprice / 25000) AS INTEGER) AS bucket,
                count(*) AS orders,
                CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents
         FROM orders GROUP BY 1""",

    "q54_balance_quartiles" ->
      """WITH q AS (
           SELECT c_mktsegment,
                  ntile(4) OVER (PARTITION BY c_mktsegment
                    ORDER BY c_acctbal, c_custkey) AS quartile,
                  c_acctbal
           FROM customer)
         SELECT c_mktsegment, CAST(quartile AS INTEGER) AS quartile,
                count(*) AS customers,
                CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS balance_cents
         FROM q GROUP BY 1, 2""",

    "q55_fuzzy_suppliers" ->
      """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
                CAST(levenshtein(a.s_name, b.s_name) AS INTEGER) AS edit_dist
         FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
         WHERE levenshtein(a.s_name, b.s_name) <= 2""",

    "q56_pii_redaction" ->
      s"""WITH aug AS (
            SELECT lang, text
              || CASE WHEN doc_id % 5 = 0
                 THEN ' contact user' || doc_id || '@example.com' ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                 THEN ' call 555-000-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS aug
            FROM documents),
          red AS (
            SELECT lang, aug,
              regexp_replace(regexp_replace(aug, '$EmailRe', '<EMAIL>', 'g'),
                '$PhoneRe', '<PHONE>', 'g') AS redacted
            FROM aug)
          SELECT lang, count(*) AS docs,
            CAST(sum(len(regexp_extract_all(aug, '$EmailRe'))) AS BIGINT) AS emails,
            CAST(sum(len(regexp_extract_all(aug, '$PhoneRe'))) AS BIGINT) AS phones,
            CAST(sum(len(aug) - len(redacted)) AS BIGINT) AS chars_removed
          FROM red GROUP BY lang""",

    "q57_repetition_filter" ->
      s"""WITH t AS (
            SELECT doc_id, lang, unnest($tokensSql) AS tok FROM documents),
          per_tok AS (
            SELECT doc_id, lang, tok, count(*) AS c
            FROM t GROUP BY 1, 2, 3),
          per_doc AS (
            SELECT doc_id, lang, sum(c) AS n_tokens,
                   count(*) AS n_distinct, max(c) AS top_cnt
            FROM per_tok GROUP BY 1, 2)
          SELECT lang,
            (n_distinct * 5 < n_tokens * 2 OR top_cnt * 20 > n_tokens * 3)
              AS repetitive,
            count(*) AS docs,
            round(CAST(sum(n_distinct) AS DOUBLE) / sum(n_tokens), 6)
              AS distinct_ratio
          FROM per_doc GROUP BY 1, 2""",

    "q59_doc_chunks" ->
      s"""WITH t AS (
            SELECT doc_id, $tokensSql AS ts FROM documents),
          c AS (
            SELECT doc_id, st,
                   CAST(least(32, len(ts) - st + 1) AS INTEGER) AS n_tokens,
                   array_to_string(ts[st:st+31], ' ') AS chunk
            FROM t, LATERAL (SELECT unnest(generate_series(1, len(ts), 24)) AS st)
            WHERE len(ts) >= 1)
          SELECT doc_id, CAST(st AS INTEGER) AS chunk_start, n_tokens, chunk
          FROM c""",

    "q60_source_mixture" ->
      s"""SELECT source, count(*) AS kept FROM documents
          WHERE (doc_id * ${Sampling.Knuth} + 7) % ${Sampling.Modulus} <
            CASE source
              WHEN 'src0' THEN ${math.round(Sampling.Modulus * 1.0)}
              WHEN 'src1' THEN ${math.round(Sampling.Modulus * 0.2)}
              WHEN 'src2' THEN ${math.round(Sampling.Modulus * 0.5)}
              ELSE ${math.round(Sampling.Modulus * 0.75)} END
          GROUP BY source""",

    "q61_zipf_profile" ->
      s"""WITH t AS (
            SELECT unnest($tokensSql) AS tok FROM documents),
          counts AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
          ranked AS (
            SELECT tok, c,
                   CAST(row_number() OVER (ORDER BY c DESC, tok) AS INTEGER)
                     AS rank
            FROM counts)
          SELECT rank, tok, c AS occurrences,
                 round(CAST(c AS DOUBLE) / (SELECT sum(c) FROM counts), 6)
                   AS share
          FROM ranked WHERE rank <= 20""",

    "q66_embedding_outliers" ->
      """WITH norms AS (
           SELECT vec_id,
                  round(sqrt(list_dot_product(ve, ve)), 6) AS norm
           FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
                 FROM embeddings)
           WHERE sqrt(list_dot_product(ve, ve)) IS NOT NULL),
         b AS (
           SELECT round(quantile_cont(norm, 0.01), 4) AS p01,
                  round(quantile_cont(norm, 0.99), 4) AS p99
           FROM norms)
         SELECT count(*) AS total,
                CAST(sum(CASE WHEN norm < p01 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_low,
                CAST(sum(CASE WHEN norm > p99 THEN 1 ELSE 0 END) AS BIGINT) AS dropped_high,
                CAST(sum(CASE WHEN norm >= p01 AND norm <= p99 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
                min(p01) AS p01, min(p99) AS p99
         FROM norms, b""",

    "q65_deduped_corpus" ->
      s"""WITH RECURSIVE ${ngramPairCtes(None)},
          pairs AS (
            SELECT id_a, id_b FROM shared
            WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5),
          bidir AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT DISTINCT src AS id FROM bidir),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT bidir.dst, reach.r FROM reach JOIN bidir ON reach.id = bidir.src),
          redundant AS (
            SELECT id FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
            WHERE comp != id)
          SELECT lang, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
          FROM documents
          WHERE doc_id NOT IN (SELECT id FROM redundant)
          GROUP BY lang""",

    "q64_dedup_clusters" ->
      s"""WITH RECURSIVE ${ngramPairCtes(None)},
          pairs AS (
            SELECT id_a, id_b FROM shared
            WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5),
          bidir AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT DISTINCT src AS id FROM bidir),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT bidir.dst, reach.r FROM reach JOIN bidir ON reach.id = bidir.src),
          comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
          SELECT comp AS canonical_id, count(*) AS members
          FROM comp GROUP BY 1 HAVING count(*) >= 2""",

    "q63_corpus_prep" ->
      s"""WITH sig AS (
            SELECT doc_id, lang, text,
                   len($tokensSql) AS n,
                   CASE WHEN len($tokensSql) = 0 THEN 0.0
                        ELSE CAST(len(list_filter($tokensSql, t -> lower(t) IN (${
        TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      }))) AS DOUBLE) / len($tokensSql) END AS sw,
                   CASE WHEN len(text) = 0 THEN 0.0
                        ELSE CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text) END AS pr
            FROM documents WHERE doc_id % 10 != 0),
          q AS (SELECT * FROM sig
                WHERE n BETWEEN 20 AND 90 AND pr <= 0.3 AND sw >= 0.02),
          d AS (SELECT *, row_number() OVER (
                  PARTITION BY md5($normTextSql)
                  ORDER BY doc_id) AS rn
                FROM q),
          cleaned AS (SELECT doc_id, lang, $tokensSql AS ts
                      FROM d WHERE rn = 1),
          bench AS (
            SELECT DISTINCT g8 FROM (
              SELECT unnest(CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
                ELSE list_transform(generate_series(1, len(ts) - 7),
                  i -> array_to_string(ts[i:i+7], ' ')) END) AS g8
              FROM (SELECT $tokensSql AS ts FROM documents WHERE doc_id % 10 = 0))),
          bad AS (
            SELECT DISTINCT tg.doc_id FROM (
              SELECT doc_id,
                     unnest(CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
                       ELSE list_transform(generate_series(1, len(ts) - 7),
                         i -> array_to_string(ts[i:i+7], ' ')) END) AS g8
              FROM cleaned) tg JOIN bench USING (g8)),
          keep AS (SELECT * FROM cleaned
                   WHERE doc_id NOT IN (SELECT doc_id FROM bad)),
          chunks AS (
            SELECT doc_id, lang, least(32, len(ts) - st + 1) AS nt
            FROM keep, LATERAL (SELECT unnest(generate_series(1, len(ts), 24)) AS st)
            WHERE len(ts) >= 1)
          SELECT lang, count(*) AS chunks, CAST(sum(nt) AS BIGINT) AS chunk_tokens
          FROM chunks GROUP BY lang""",

    "q62_sequence_packing" ->
      s"""WITH t AS (
            SELECT doc_id, source, CAST(len($tokensSql) AS BIGINT) AS n_tokens
            FROM documents),
          o AS (
            SELECT doc_id, source, n_tokens,
              CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                AS start_offset
            FROM t)
          SELECT doc_id, source, n_tokens, start_offset,
                 CAST(start_offset // 256 AS BIGINT) AS bin
          FROM o""",

    "q58_decontamination" ->
      s"""WITH t AS (
            SELECT doc_id, lang, $tokensSql AS ts FROM documents),
          g AS (
            SELECT doc_id, lang,
                   unnest(CASE WHEN len(ts) < 8 THEN [array_to_string(ts, ' ')]
                     ELSE list_transform(generate_series(1, len(ts) - 7),
                       i -> array_to_string(ts[i:i+7], ' ')) END) AS g8
            FROM t),
          bench AS (SELECT DISTINCT g8 FROM g WHERE doc_id % 10 = 0),
          flagged AS (
            SELECT DISTINCT g.doc_id, g.lang
            FROM g JOIN bench USING (g8) WHERE g.doc_id % 10 != 0)
          SELECT lang, count(*) AS contaminated FROM flagged GROUP BY 1""",

    "q49_priority_unpivot" ->
      s"""WITH wide AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year, ${
        Priorities.map { case (v, alias) =>
          s"count(CASE WHEN o_orderpriority = '$v' THEN 1 END) AS $alias"
        }.mkString(", ")}
            FROM orders GROUP BY 1)
          ${Priorities.map { case (_, alias) =>
        s"SELECT order_year, '$alias' AS priority, $alias AS orders FROM wide"
      }.mkString(" UNION ALL ")}""",

    "q42_corpus_clean" ->
      s"""WITH sig AS (
            SELECT doc_id, lang, text,
                   len($tokensSql) AS n,
                   CASE WHEN len($tokensSql) = 0 THEN 0.0
                        ELSE CAST(len(list_filter($tokensSql, t -> lower(t) IN (${
        TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      }))) AS DOUBLE) / len($tokensSql) END AS sw,
                   CASE WHEN len(text) = 0 THEN 0.0
                        ELSE CAST(len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text) END AS pr
            FROM documents),
          q AS (SELECT * FROM sig
                WHERE n BETWEEN 20 AND 90 AND pr <= 0.3 AND sw >= 0.02),
          d AS (SELECT *, row_number() OVER (
                  PARTITION BY md5($normTextSql)
                  ORDER BY doc_id) AS rn
                FROM q)
          SELECT lang, count(*) AS kept_docs,
                 CAST(sum(n) AS BIGINT) AS kept_tokens
          FROM d WHERE rn = 1 GROUP BY lang""",

    "q67_winnowing_fingerprints" ->
      s"""WITH norm AS (
           SELECT doc_id, $normTextSql AS t
           FROM documents),
         pos AS (
           SELECT doc_id, t, CAST(length(t) AS BIGINT) - 3 AS n_grams,
                  UNNEST(generate_series(1, length(t) - 3)) AS i
           FROM norm),
         grams AS (
           SELECT doc_id, i, n_grams,
                  md5(substr(t, CAST(i AS INTEGER), 4)) AS h
           FROM pos),
         win AS (
           SELECT doc_id, i, n_grams,
                  min(h) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
           FROM grams),
         sel AS (
           SELECT doc_id, n_grams, fp FROM win
           WHERE i <= greatest(n_grams - 3, 1))
         SELECT doc_id, max(n_grams) AS n_grams,
                CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
                min(fp) AS min_fp,
                round(CAST(count(DISTINCT fp) AS DOUBLE) / max(n_grams), 6)
                  AS density
         FROM sel GROUP BY doc_id""",

    "q68_bpe_pretokenize" ->
      s"""WITH pieces AS (
            SELECT event_type,
                   list_filter(
                     regexp_extract_all(lower(props),
                       '${BpePiecePattern.replace("'", "''")}'),
                     p -> NOT regexp_matches(p, '^$wsSql+$$')) AS ps,
                   len(list_filter(string_split_regex(props, '$wsSql+'),
                     t -> len(t) > 0)) AS n_ws
            FROM events)
          SELECT event_type, count(*) AS docs,
                 CAST(sum(len(ps)) AS BIGINT) AS total_pieces,
                 CAST(sum(n_ws) AS BIGINT) AS total_ws_tokens,
                 round(CAST(sum(len(ps)) AS DOUBLE) / sum(n_ws), 6)
                   AS fertility,
                 round(CAST(sum(len(array_to_string(ps, ''))) AS DOUBLE)
                   / sum(len(ps)), 6) AS avg_piece_chars
          FROM pieces GROUP BY event_type""",

    "q70_duplicate_spans" ->
      s"""WITH toks AS (
            SELECT doc_id, $tokensSql AS tk FROM documents),
          idx AS (
            SELECT doc_id, tk,
                   unnest(range(0, CAST(ceil(len(tk) / 20.0) AS BIGINT)))
                     AS span_idx
            FROM toks),
          spans AS (
            SELECT doc_id, CAST(span_idx AS INTEGER) AS span_idx,
                   array_to_string(tk[span_idx*20+1 : span_idx*20+20], ' ')
                     AS span
            FROM idx),
          ranked AS (
            SELECT *, row_number() OVER (
                        PARTITION BY md5(span)
                        ORDER BY doc_id, span_idx) AS rn
            FROM spans)
          SELECT doc_id,
                 coalesce(string_agg(CASE WHEN rn = 1 THEN span END, ' '
                   ORDER BY span_idx), '') AS clean_text,
                 CAST(count(*) - count(*) FILTER (rn = 1) AS INTEGER)
                   AS spans_dropped
          FROM ranked GROUP BY doc_id""",

    "q71_bigram_fluency" ->
      s"""WITH toks AS (
            SELECT doc_id, $tokensSql AS tk FROM documents),
          bg AS (
            SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
            FROM (SELECT doc_id, tk, unnest(range(1, len(tk))) AS i
                  FROM toks)),
          bgc AS (SELECT w1, w2, count(*) AS c_bg FROM bg GROUP BY 1, 2),
          w1c AS (SELECT w1, sum(c_bg) AS c_w1 FROM bgc GROUP BY 1),
          voc AS (SELECT count(DISTINCT w) AS v
                  FROM (SELECT unnest(tk) AS w FROM toks)),
          model AS (
            SELECT w1, w2,
                   CAST(((CAST(c_bg AS HUGEINT) + 1) * 1000000000)
                        // (c_w1 + v) AS BIGINT) AS term
            FROM bgc JOIN w1c USING (w1) CROSS JOIN voc)
          SELECT doc_id, count(*) AS n_bigrams,
                 round(CAST(sum(term) AS DOUBLE)
                   / (count(*) * 1000000000.0), 6) AS fluency
          FROM bg JOIN model USING (w1, w2)
          GROUP BY doc_id""",

    "q73_temperature_mixture" ->
      s"""WITH per AS (
            SELECT source, count(*) AS n_docs,
                   CAST(sum(len($tokensSql)) AS BIGINT) AS n_tokens,
                   sqrt(CAST(sum(len($tokensSql)) AS DOUBLE)) AS w
            FROM documents GROUP BY source),
          tot AS (SELECT sum(w) AS wsum FROM per)
          SELECT source, n_docs, n_tokens,
                 round(w / wsum, 6) AS weight,
                 CAST(floor(50000.0 * w / wsum) AS BIGINT) AS target_tokens,
                 round(least(1.0,
                   CAST(floor(50000.0 * w / wsum) AS DOUBLE) / n_tokens), 6)
                   AS keep_rate
          FROM per CROSS JOIN tot""",

    "q74_collision_diversity" ->
      s"""WITH t AS (
            SELECT doc_id, unnest($tokensSql) AS tok FROM documents),
          c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
          p AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
                       CAST(count(*) AS BIGINT) AS d,
                       CAST(sum(c * c) AS BIGINT) AS s2
                FROM c GROUP BY 1)
          SELECT doc_id, n AS n_tokens, d AS distinct_tokens, s2 AS sum_sq,
                 round(CAST(s2 AS DOUBLE) / (n * n), 6) AS collision_prob,
                 round(CAST(n AS DOUBLE) * n / s2, 4) AS effective_vocab
          FROM p""",
    "q77_funnel_conversion" ->
      """WITH ev AS (
           SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS et
           FROM events),
         v AS (SELECT user_id, min(et) AS t_view
               FROM ev WHERE event_type = 'view' GROUP BY 1),
         c AS (SELECT e.user_id, min(e.et) AS t_click, min(v.t_view) AS t_view
               FROM ev e JOIN v USING (user_id)
               WHERE e.event_type = 'click' AND e.et > v.t_view GROUP BY 1),
         p AS (SELECT e.user_id, min(e.et) AS t_purchase,
                      min(c.t_click) AS t_click
               FROM ev e JOIN c USING (user_id)
               WHERE e.event_type = 'purchase' AND e.et > c.t_click GROUP BY 1)
         SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users,
                CAST(0 AS BIGINT) AS total_lag_us FROM v
         UNION ALL
         SELECT '2_click', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(epoch_us(t_click) - epoch_us(t_view)), 0)
                  AS BIGINT) FROM c
         UNION ALL
         SELECT '3_purchase', CAST(count(*) AS BIGINT),
                CAST(COALESCE(sum(epoch_us(t_purchase) - epoch_us(t_click)), 0)
                  AS BIGINT) FROM p""",
    "q78_retention_cohorts" ->
      """WITH ev AS (
           SELECT user_id,
                  CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
           FROM events),
         f AS (SELECT user_id, min(wk) AS cohort_week FROM ev GROUP BY 1),
         a AS (SELECT DISTINCT user_id, wk AS active_week FROM ev)
         SELECT f.cohort_week, a.active_week,
                CAST(count(DISTINCT f.user_id) AS BIGINT) AS users
         FROM f JOIN a USING (user_id)
         GROUP BY 1, 2""",
    // Closed-form mirror of Multimodal.syntheticMediaFromDocs' parameter
    // derivation + MediaBuilders' byte-length formulas (PNG 57+filler,
    // JPEG 21+filler, WAV 44+filler); the engine side round-trips through
    // real container bytes, the oracle never sees them.
    "q79_multimodal_headers" ->
      """WITH m AS (
           SELECT CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                       ELSE 'wav' END AS kind,
                  2 * (doc_id % 32) AS filler,
                  16 + ((doc_id * 7) % 1200) AS w,
                  16 + ((doc_id * 13) % 900) AS h,
                  CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 ELSE 44100 END AS sr,
                  1 + (doc_id % 2) AS ch
           FROM documents)
         SELECT kind, CAST(count(*) AS BIGINT) AS n_media,
                CAST(sum(CASE kind WHEN 'png' THEN 57 + filler
                         WHEN 'jpeg' THEN 21 + filler
                         ELSE 44 + filler END) AS BIGINT) AS sum_bytes,
                CAST(sum(CASE WHEN kind IN ('png', 'jpeg') THEN w END)
                  AS BIGINT) AS sum_width,
                CAST(sum(CASE WHEN kind IN ('png', 'jpeg') THEN h END)
                  AS BIGINT) AS sum_height,
                CAST(sum(CASE WHEN kind = 'wav' THEN sr END)
                  AS BIGINT) AS sum_sample_rate,
                CAST(sum(CASE WHEN kind = 'wav' THEN ch END)
                  AS BIGINT) AS sum_channels
         FROM m GROUP BY 1""",
    // The oracle reads the ORIGINAL parquet; the engine answers from its
    // own ORC copy — encode/decode loss or filter drift breaks the hash.
    "q80_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS suppliers,
                CAST(sum(CAST(round(s_acctbal * 100, 0) AS BIGINT))
                  AS BIGINT) AS acctbal_cents
         FROM supplier WHERE s_acctbal > 0 GROUP BY 1""",
    // The NAIVE inequality join — the oracle side is allowed the O(n·m)
    // plan the engine's binned range join exists to avoid; identical
    // results prove both the binning and the distributive per-day fold.
    "q83_range_join_shipments" ->
      """SELECT o.o_orderpriority, count(*) AS shipments
         FROM orders o JOIN lineitem l
           ON l.l_shipdate >= o.o_orderdate
          AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
         GROUP BY o.o_orderpriority""",
    // The CDF delta recomputed from the same two version definitions with
    // EXCEPT ALL — the engine's full-outer-count diff must reproduce the
    // multiset exactly, including both halves of every update pair.
    "q87_change_data_feed" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         v1 AS (SELECT * FROM base WHERE o_orderkey % 7 <> 0),
         v2 AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0 THEN cents + 1
                            ELSE cents END AS cents FROM base),
         ins AS (SELECT *, 'insert' AS _change_type
                 FROM (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1)),
         del AS (SELECT *, 'delete' AS _change_type
                 FROM (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)),
         chg AS (SELECT * FROM ins UNION ALL SELECT * FROM del)
         SELECT _change_type, o_orderstatus, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS sum_cents
         FROM chg GROUP BY 1, 2""",
    // Incremental view maintenance must land EXACTLY on the full
    // rebuild: the oracle aggregates the final version's closed-form
    // definition directly, never the change feed.
    "q97_cdf_gold_maintenance" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
                              CAST(round(o_totalprice * 100, 0) AS BIGINT)
                                AS cents FROM orders),
         v3 AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 5 = 0 THEN cents + 1
                            ELSE cents END AS cents
                FROM base WHERE o_orderkey % 11 <> 0)
         SELECT o_orderstatus, count(*) AS n_rows,
                CAST(sum(cents) AS BIGINT) AS value_sum
         FROM v3 GROUP BY 1""",
    // Naive quadratic interval-overlap self-join — the engine's
    // day×priority aggregate collapse must reproduce it exactly.
    "q85_interval_overlap" ->
      """WITH w AS (SELECT o_orderkey, o_orderpriority AS p,
                           o_orderdate AS lo,
                           o_orderdate + INTERVAL 7 DAY AS hi FROM orders)
         SELECT a.p AS p1, b.p AS p2, count(*) AS overlap_pairs
         FROM w a JOIN w b
           ON a.o_orderkey <> b.o_orderkey AND a.lo < b.hi AND b.lo < a.hi
         GROUP BY 1, 2""",
    // Synthesis + extraction both rendered from the single-sourced
    // MarkupExtract patterns — md5 of the extracted text forces
    // byte-identical RE2/Java regex behavior, not just matching shapes.
    "q89_markup_extract" -> {
      val clean = graft.northstar.MarkupExtract.extractTextSql(
        graft.northstar.MarkupExtract
          .synthesizePageSql("doc_id", "source", "text"))
      s"""SELECT doc_id, source,
                 CAST(len($clean) AS BIGINT) AS clean_len,
                 md5($clean) AS clean_md5
          FROM documents"""
    },
    // Every PCM sample recomputed ARITHMETICALLY from the MediaBuilders
    // closed forms (filler byte j = (doc_id + j*131) mod 256, 16-bit LE
    // sign extension) — the engine's chunk walk and decode never get the
    // benefit of the doubt.
    "q90_audio_frames" ->
      """WITH w AS (
           SELECT doc_id,
                  2 * (doc_id % 32) AS filler,
                  CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                       WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
                    AS sample_rate,
                  CAST(1 + doc_id % 2 AS INTEGER) AS channels
           FROM documents WHERE doc_id % 3 = 2),
         ks AS (SELECT doc_id, unnest(range(0, filler // 2)) AS k FROM w),
         sm AS (
           SELECT doc_id, k,
                  CASE WHEN h * 256 + l >= 32768 THEN h * 256 + l - 65536
                       ELSE h * 256 + l END AS sample
           FROM (SELECT doc_id, k,
                        (doc_id + (2 * k) * 131) % 256 AS l,
                        (doc_id + (2 * k + 1) * 131) % 256 AS h
                 FROM ks)),
         fr AS (SELECT doc_id, k // 4 AS f, max(abs(sample)) AS peak
                FROM sm GROUP BY 1, 2),
         agg AS (SELECT doc_id, count(*) AS n_samples,
                        sum(abs(sample)) AS sum_abs,
                        max(abs(sample)) AS max_abs
                 FROM sm GROUP BY 1),
         fagg AS (SELECT doc_id, count(*) AS n_frames,
                         sum(peak) AS sum_frame_peaks
                  FROM fr GROUP BY 1)
         SELECT w.doc_id, w.sample_rate, w.channels,
                CAST(coalesce(agg.n_samples, 0) AS BIGINT) AS n_samples,
                CAST(coalesce(fagg.n_frames, 0) AS BIGINT) AS n_frames,
                CAST(coalesce(agg.sum_abs, 0) AS BIGINT) AS sum_abs,
                CAST(coalesce(agg.max_abs, 0) AS BIGINT) AS max_abs,
                CAST(coalesce(fagg.sum_frame_peaks, 0) AS BIGINT)
                  AS sum_frame_peaks
         FROM w LEFT JOIN agg ON w.doc_id = agg.doc_id
                LEFT JOIN fagg ON w.doc_id = fagg.doc_id""",
    // The evolved union recomputed directly: v1 rows carry NULL priority,
    // so the engine's schema-first null-fill of pre-evolution rows must
    // reproduce this EXACTLY — a dropped or mis-filled column breaks the
    // hash.
    "q95_schema_evolution" ->
      """WITH v1 AS (
           SELECT o_orderkey, o_orderstatus,
                  CAST(NULL AS VARCHAR) AS o_orderpriority
           FROM orders WHERE o_orderkey % 3 = 0),
         d AS (
           SELECT o_orderkey, o_orderstatus, o_orderpriority
           FROM orders WHERE o_orderkey % 3 = 1),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM d)
         SELECT o_orderstatus,
                coalesce(o_orderpriority, '<pre-evolution>') AS priority,
                count(*) AS n_rows,
                CAST(sum(o_orderkey) AS BIGINT) AS key_sum
         FROM u GROUP BY 1, 2""",
    // Full closure (recursive CTE) + the SAME generated split CASE as
    // q41's oracle, keyed on the cluster — clustering, hashing, and
    // rollup hash-checked as one computation.
    "q94_leakage_free_split" -> {
      val keySql = s"(cl * ${Sampling.Knuth} + 7) % ${Sampling.Modulus}"
      val bounds = Sampling.splitBounds(SplitWeights)
      val cases = bounds.init
        .map { case (l, u) => s"WHEN $keySql < $u THEN '$l'" }
        .mkString(" ")
      s"""WITH RECURSIVE ${ngramPairCtes(None)},
          pairs AS (
            SELECT id_a, id_b FROM shared
            WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= 0.5),
          bidir AS (SELECT id_a AS src, id_b AS dst FROM pairs
                    UNION SELECT id_b, id_a FROM pairs),
          nodes AS (SELECT DISTINCT src AS id FROM bidir),
          reach(id, r) AS (
            SELECT id, id FROM nodes
            UNION
            SELECT bidir.dst, reach.r
            FROM reach JOIN bidir ON reach.id = bidir.src),
          comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
          doccl AS (
            SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS cl,
                   len($tokensSql) AS n
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
          labeled AS (
            SELECT CASE $cases ELSE '${bounds.last._1}' END AS split, cl, n
            FROM doccl)
          SELECT split, count(DISTINCT cl) AS n_clusters,
                 count(*) AS docs, CAST(sum(n) AS BIGINT) AS tokens
          FROM labeled GROUP BY 1"""
    },
    // The K PageRank iterations replayed as GENERATED chained CTEs with
    // the same integer multiply/floor-divide/sum the engine runs — exact,
    // so the top-20 must hash-match (floating-point PageRank could never
    // cross-engine-match bit-for-bit).
    "q93_supplier_rank" -> {
      val scale = graft.northstar.GraphRank.DefaultScale
      val damp = graft.northstar.GraphRank.DefaultDamp
      val tele = 100 - damp
      val iters = (1 to PageRankIters).map { k =>
        val prev = s"s${k - 1}"
        s"""s$k AS (
             SELECT e.dst AS node,
                    (($tele * $scale) // (100 * nn.n))
                      + sum(($damp * p.score) // (100 * o.d)) AS score
             FROM edges e
                  JOIN $prev p ON p.node = e.src
                  JOIN outd o ON o.src = e.src, nn
             GROUP BY e.dst, nn.n)"""
      }.mkString(",\n")
      s"""WITH pairs AS (
            SELECT o_custkey AS c, l_suppkey AS sp
            FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
          edges AS (
            SELECT 2 * c AS src, 2 * sp + 1 AS dst FROM pairs
            UNION ALL
            SELECT 2 * sp + 1, 2 * c FROM pairs),
          outd AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
          nn AS (SELECT count(*) AS n FROM outd),
          s0 AS (SELECT src AS node, ($scale // nn.n) AS score
                 FROM outd, nn),
          $iters
          SELECT (node - 1) // 2 AS s_suppkey, CAST(score AS BIGINT) AS score
          FROM s$PageRankIters
          WHERE node % 2 = 1
          ORDER BY score DESC, s_suppkey
          LIMIT 20"""
    },
    // The engine must inflate REAL zlib bytes and unfilter scanlines to
    // reach these pixels; the oracle reaches them by pure arithmetic on
    // the closed form (pixel byte j = (doc_id + j*131) mod 256).
    "q91_png_pixels" ->
      """WITH w AS (
           SELECT doc_id, 4 + doc_id % 13 AS pw, 3 + doc_id % 11 AS ph
           FROM documents WHERE doc_id % 3 = 0),
         js AS (SELECT doc_id, unnest(range(0, 3 * pw * ph)) AS j FROM w),
         b AS (SELECT doc_id, j, (doc_id + j * 131) % 256 AS v FROM js),
         agg AS (
           SELECT doc_id,
                  sum(CASE WHEN j % 3 = 0 THEN v ELSE 0 END) AS sum_r,
                  sum(CASE WHEN j % 3 = 1 THEN v ELSE 0 END) AS sum_g,
                  sum(CASE WHEN j % 3 = 2 THEN v ELSE 0 END) AS sum_b,
                  max(v) AS max_byte
           FROM b GROUP BY 1)
         SELECT w.doc_id,
                CAST(pw AS INTEGER) AS width, CAST(ph AS INTEGER) AS height,
                CAST(pw * ph AS BIGINT) AS n_pixels,
                CAST(sum_r AS BIGINT) AS sum_r,
                CAST(sum_g AS BIGINT) AS sum_g,
                CAST(sum_b AS BIGINT) AS sum_b,
                CAST(max_byte AS BIGINT) AS max_byte
         FROM w JOIN agg ON w.doc_id = agg.doc_id""",
    // The engine must Huffman-decode a REAL baseline entropy stream,
    // dequantize and run the IDCT to reproduce these: each 8x8 block of
    // the synthesized JPEG is flat at dc(id,k) + 128 with Q00 = 8
    // (exact integer arithmetic — see q96JpegPixels), so sums and
    // extrema are closed-form per block.
    "q96_jpeg_pixels" ->
      """WITH imgs AS (
           SELECT doc_id, 8 * (1 + doc_id % 5) AS w, 8 * (1 + doc_id % 4) AS h
           FROM documents WHERE doc_id % 3 = 1),
         blocks AS (
           SELECT doc_id, w, h,
                  unnest(range(0, (w // 8) * (h // 8))) AS k
           FROM imgs),
         vals AS (
           SELECT doc_id, w, h,
                  ((doc_id * 31 + k * 17) % 200) - 100 + 128 AS v
           FROM blocks)
         SELECT doc_id,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(sum(64 * v) AS BIGINT) AS sum_gray,
                CAST(min(v) AS BIGINT) AS min_gray,
                CAST(max(v) AS BIGINT) AS max_gray
         FROM vals GROUP BY doc_id, w, h""",
    // Decode AND integer YCbCr->RGB replayed arithmetically. The
    // decoder's >>16 is FLOOR division by 2^16; DuckDB's // truncates
    // toward zero on negatives, so the oracle spells floor() explicitly
    // (operands stay far under 2^52 — double-exact).
    "q99_jpeg_color_pixels" ->
      """WITH imgs AS (
           SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h
           FROM documents WHERE doc_id % 3 = 2),
         blocks AS (
           SELECT doc_id, w, h,
                  unnest(range(0, (w // 8) * (h // 8))) AS k
           FROM imgs),
         ycc AS (
           SELECT doc_id, w, h,
                  ((doc_id * 31 + k * 17) % 160) - 80 + 128 AS y,
                  ((doc_id * 13 + k * 7) % 120) - 60 AS cb,
                  ((doc_id * 11 + k * 23) % 120) - 60 AS cr
           FROM blocks),
         rgb AS (
           SELECT doc_id, w, h,
                  greatest(0, least(255, y + CAST(floor(
                    (91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
                  greatest(0, least(255, y - CAST(floor(
                    (22554 * cb + 46802 * cr + 32768) / 65536.0)
                    AS BIGINT))) AS g,
                  greatest(0, least(255, y + CAST(floor(
                    (116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
           FROM ycc)
         SELECT doc_id,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(sum(64 * r) AS BIGINT) AS sum_r,
                CAST(sum(64 * g) AS BIGINT) AS sum_g,
                CAST(sum(64 * b) AS BIGINT) AS sum_b
         FROM rgb GROUP BY doc_id, w, h""",
    // The engine must accumulate a real MULTI-SCAN progressive stream
    // (DC point-transform + refinement bit, per-component EOB runs)
    // before the same dequant/IDCT/integer-YCbCr tail as q99: final
    // coefficients are DC-only by construction, so pixels stay
    // closed-form (floor() spelled out — the decoder's >>16 FLOORS,
    // DuckDB's // truncates toward zero on negatives).
    "q102_jpeg_progressive" ->
      """WITH imgs AS (
           SELECT doc_id, doc_id // 3 AS m,
                  8 * (1 + (doc_id // 3) % 4) AS w,
                  8 * (1 + (doc_id // 3) % 3) AS h
           FROM documents WHERE doc_id % 3 = 0),
         blocks AS (
           SELECT doc_id, m, w, h,
                  unnest(range(0, (w // 8) * (h // 8))) AS k
           FROM imgs),
         ycc AS (
           SELECT doc_id, w, h,
                  ((m * 29 + k * 19) % 160) - 80 + 128 AS y,
                  ((m * 17 + k * 5) % 120) - 60 AS cb,
                  ((m * 7 + k * 13) % 120) - 60 AS cr
           FROM blocks),
         rgb AS (
           SELECT doc_id, w, h,
                  greatest(0, least(255, y + CAST(floor(
                    (91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
                  greatest(0, least(255, y - CAST(floor(
                    (22554 * cb + 46802 * cr + 32768) / 65536.0)
                    AS BIGINT))) AS g,
                  greatest(0, least(255, y + CAST(floor(
                    (116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
           FROM ycc)
         SELECT doc_id,
                CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
                CAST(w * h AS BIGINT) AS n_pixels,
                CAST(sum(64 * r) AS BIGINT) AS sum_r,
                CAST(sum(64 * g) AS BIGINT) AS sum_g,
                CAST(sum(64 * b) AS BIGINT) AS sum_b
         FROM rgb GROUP BY doc_id, w, h""",
    // The oracle aggregates the FINAL silver state (v3: every 11th
    // order deleted, every 5th delivery shifted, every 6th city
    // renamed) directly — the engine reached the same table through
    // three incremental CDF advances, so hash equality IS the IVM
    // claim (fold + affected-anchor rescan ≡ batch rebuild), incl. the
    // avg recomputed from maintained sum/count components.
    "q103_gold_incremental_city" ->
      """WITH ord AS (
           SELECT o_orderkey AS id,
                  o_custkey % 25 AS address_id,
                  CAST(o_orderdate AS DATE) AS created_on,
                  CASE WHEN o_orderkey % 4 <> 0 THEN
                    CAST(o_orderdate AS DATE) + CAST((o_orderkey % 30) +
                      (CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 0 END)
                      AS INTEGER)
                  END AS delivered_on,
                  CAST(year(o_orderdate) AS INTEGER) AS year,
                  CAST(month(o_orderdate) AS INTEGER) AS month
           FROM orders WHERE o_orderkey % 11 <> 0),
         addr AS (
           SELECT CAST(n_nationkey AS BIGINT) AS address_id,
                  CASE WHEN n_nationkey % 6 = 0 THEN lower(n_name) || '_x'
                       ELSE lower(n_name) END AS city
           FROM nation),
         j AS (
           SELECT o.id, a.city, o.year, o.month,
                  date_diff('day', o.created_on, o.delivered_on)
                    AS delivery_time
           FROM ord o LEFT JOIN addr a USING (address_id))
         SELECT city, year, month,
                CAST(count(id) AS BIGINT) AS order_count,
                round(CAST(sum(delivery_time) AS DOUBLE) /
                      nullif(count(delivery_time), 0), 4)
                  AS avg_delivery_time
         FROM j GROUP BY city, year, month""",
    // The engine must DECODE real JPEGs and hash the pixels; the oracle
    // replays hash, banding, candidate join AND Hamming verify in
    // integer arithmetic (bit k set iff 64*dc_k > sum(dc) — the
    // pixel-sum comparison with the +128 level shift cancelled).
    "q104_image_near_dups" ->
      s"""WITH ids AS (
           SELECT doc_id, doc_id - doc_id % 7 AS base
           FROM documents WHERE doc_id % 3 = 1),
         kk AS (
           SELECT doc_id, base, unnest(range(0, 64)) AS k FROM ids),
         dcv AS (
           SELECT doc_id, k,
                  ((base * 31 + k * 17) % 200) - 100 +
                    (CASE WHEN doc_id % 7 <> 0 AND k = doc_id % 64
                          THEN 1 ELSE 0 END) AS dck
           FROM kk),
         tot AS (
           SELECT doc_id, sum(dck) AS total FROM dcv GROUP BY doc_id),
         bits AS (
           SELECT d.doc_id, d.k,
                  CASE WHEN 64 * d.dck > t.total THEN 1 ELSE 0 END AS bit
           FROM dcv d JOIN tot t USING (doc_id)),
         bands AS (
           SELECT doc_id, k // 8 AS band,
                  CAST(sum(bit * (1 << (k % 8))) AS BIGINT) AS v
           FROM bits GROUP BY doc_id, k // 8),
         cand AS (
           SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           FROM bands a JOIN bands b
             ON a.band = b.band AND a.v = b.v AND a.doc_id < b.doc_id),
         ham AS (
           SELECT c.doc_a, c.doc_b,
                  CAST(sum(bit_count(xor(a.v, b.v))) AS INTEGER) AS hamming
           FROM cand c
           JOIN bands a ON a.doc_id = c.doc_a
           JOIN bands b ON b.doc_id = c.doc_b AND b.band = a.band
           GROUP BY c.doc_a, c.doc_b)
         SELECT doc_a, doc_b, hamming
         FROM ham WHERE hamming <= $PHashHammingMax""",
    // The oracle aggregates the FINAL commit's closed form directly —
    // the engine reached it through signed folds (count/sum) plus the
    // rescan-affected-groups fallback (min/max after deletes), so hash
    // equality proves the fallback exact, incl. NULL-skip semantics.
    "q105_gold_minmax" ->
      """WITH src AS (
           SELECT o_orderstatus, o_orderpriority,
                  CASE WHEN o_orderkey % 13 = 0 THEN NULL
                       ELSE CAST(round(o_totalprice * 100, 0) AS BIGINT) +
                            (CASE WHEN o_orderkey % 5 = 0 THEN 1000
                                  ELSE 0 END)
                  END AS cents
           FROM orders WHERE o_orderkey % 3 <> 0)
         SELECT o_orderstatus, o_orderpriority,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(sum(coalesce(cents, 0)) AS BIGINT) AS value_sum,
                CAST(min(cents) AS BIGINT) AS value_min,
                CAST(max(cents) AS BIGINT) AS value_max
         FROM src GROUP BY o_orderstatus, o_orderpriority""",
    // Every formula below mirrors Multimodal.VideoParams verbatim; the
    // engine's numbers instead come from PARSING the real container and
    // checksumming payload bytes at the parsed offsets — hash equality
    // proves the whole box walk, stts expansion and stco/stsz offset
    // arithmetic.
    "q106_video_keyframes" ->
      """WITH p AS (
           SELECT CAST(doc_id AS BIGINT) AS id,
                  6 + CAST(doc_id % 7 AS INTEGER) AS n,
                  2 + CAST(doc_id % 3 AS INTEGER) AS kf,
                  CASE CAST(doc_id % 4 AS INTEGER) WHEN 0 THEN 600
                       WHEN 1 THEN 1000 WHEN 2 THEN 12288
                       ELSE 90000 END AS ts,
                  CAST(1 + doc_id % 100 AS BIGINT) AS d1
           FROM documents),
         kfs AS (
           SELECT p.*, n // 2 AS n1, CAST(u.s AS INTEGER) AS s
           FROM p, LATERAL unnest(range(1, n + 1, kf)) AS u(s)),
         calc AS (
           SELECT id, ts, n, s,
                  CASE WHEN s - 1 <= n1 THEN (s - 1) * d1
                       ELSE n1 * d1 + (s - 1 - n1) * 2 * d1
                  END AS pts_units,
                  COALESCE(list_sum(list_transform(
                    range(0, CAST(s AS BIGINT) - 1),
                    i -> 16 + (id * 5 + i * 7) % 48)), 0) AS off0,
                  16 + (id * 5 + (s - 1) * 7) % 48 AS sz
           FROM kfs)
         SELECT id AS doc_id, CAST(ts AS INTEGER) AS timescale,
                CAST(160 + (id % 8) * 80 AS INTEGER) AS width,
                CAST(90 + (id % 8) * 45 AS INTEGER) AS height,
                CAST(n AS BIGINT) AS n_samples, s AS kf_sample,
                CAST(pts_units * 1000 // ts AS BIGINT) AS pts_ms,
                CAST(sz AS BIGINT) AS sample_size,
                CAST(list_sum(list_transform(range(0, CAST(sz AS BIGINT)),
                  j -> (id + (off0 + j) * 131) % 256)) AS BIGINT)
                  AS sample_checksum
         FROM calc""",
    // GENERATED from the same Bm25Queries/Bm25TopK constants the engine
    // runs, with the identical arithmetic text — rational idf, per-term
    // micro-unit rounding, exact BIGINT cross-term sum (see Bm25).
    "q107_bm25_topk" ->
      s"""WITH $bm25RankedCtes
          SELECT CAST(query_id AS INTEGER) AS query_id, doc_id, score_micro,
                 CAST(rank AS INTEGER) AS rank
          FROM ranked WHERE rank <= $Bm25TopK""",
    // Both arms' CTEs are GENERATED from the same Bm25Queries/DenseProbes
    // constants the engine reads; the fusion is pure integer division
    // (DuckDB // truncation == floor on these positive quotients — the
    // HybridRetrieval scaladoc carries the exactness argument).
    "q108_hybrid_rrf" -> {
      val probeRows = DenseProbes
        .map { case (qid, vid) => s"($qid, $vid)" }.mkString(", ")
      s"""WITH $bm25RankedCtes,
          sparse AS (
            SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
                   CAST(rank AS INTEGER) AS sparse_rank
            FROM ranked WHERE rank <= $Bm25TopK),
          v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
            FROM embeddings),
          pv AS (
            SELECT p.query_id, p.pvid, v.ve AS qv
            FROM (VALUES $probeRows) AS p(query_id, pvid)
            JOIN v ON v.vec_id = p.pvid),
          dscored AS (
            SELECT pv.query_id, c.vec_id AS doc_id,
                   round(list_dot_product(pv.qv, c.ve) /
                         (sqrt(list_dot_product(pv.qv, pv.qv)) *
                          sqrt(list_dot_product(c.ve, c.ve))), 6) AS cosine
            FROM v c JOIN pv ON c.vec_id != pv.pvid),
          dense AS (
            SELECT CAST(query_id AS INTEGER) AS query_id, doc_id,
                   CAST(dr AS INTEGER) AS dense_rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, doc_id) AS dr
                  FROM dscored)
            WHERE dr <= $Bm25TopK),
          fused AS (
            SELECT COALESCE(s.query_id, d.query_id) AS query_id,
                   COALESCE(s.doc_id, d.doc_id) AS doc_id,
                   CAST(COALESCE(1000000 // (${HybridRetrieval.RrfK} + s.sparse_rank), 0) +
                        COALESCE(1000000 // (${HybridRetrieval.RrfK} + d.dense_rank), 0)
                     AS BIGINT) AS rrf_micro,
                   s.sparse_rank, d.dense_rank
            FROM sparse s FULL OUTER JOIN dense d
              ON s.query_id = d.query_id AND s.doc_id = d.doc_id)
          SELECT query_id, doc_id, rrf_micro, sparse_rank, dense_rank,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS rank
          FROM fused
          QUALIFY rank <= $Bm25TopK"""
    },
    // Every RESIZED pixel recomputed arithmetically: the q99 corpus is
    // DC-only and 8 % f == 0, so each aligned f×f cell lies inside one
    // constant 8x8 block — its floor-mean IS the block color; the
    // position-weighted checksum pins pixel PLACEMENT and geometry, not
    // just totals (non-constant-cell averaging is MultimodalSpec's job).
    "q109_image_resize" ->
      """WITH imgs AS (
           SELECT doc_id, 8 * (1 + doc_id % 4) AS w, 8 * (1 + doc_id % 3) AS h,
                  CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 4 END AS f
           FROM documents WHERE doc_id % 3 = 2),
         pix AS (
           SELECT doc_id, w, h, f, w // f AS ow, h // f AS oh,
                  CAST(u1.ry AS BIGINT) AS ry, CAST(u2.rx AS BIGINT) AS rx
           FROM imgs,
                LATERAL unnest(range(0, h // f)) AS u1(ry),
                LATERAL unnest(range(0, w // f)) AS u2(rx)),
         ycc AS (
           SELECT doc_id, f, ow, oh, ry, rx,
                  ((doc_id * 31 + k * 17) % 160) - 80 + 128 AS y,
                  ((doc_id * 13 + k * 7) % 120) - 60 AS cb,
                  ((doc_id * 11 + k * 23) % 120) - 60 AS cr
           FROM (SELECT *, ((ry * f) // 8) * (w // 8) + ((rx * f) // 8) AS k
                 FROM pix)),
         rgb AS (
           SELECT doc_id, f, ow, oh, ry, rx,
                  greatest(0, least(255, y + CAST(floor(
                    (91881 * cr + 32768) / 65536.0) AS BIGINT))) AS r,
                  greatest(0, least(255, y - CAST(floor(
                    (22554 * cb + 46802 * cr + 32768) / 65536.0)
                    AS BIGINT))) AS g,
                  greatest(0, least(255, y + CAST(floor(
                    (116130 * cb + 32768) / 65536.0) AS BIGINT))) AS b
           FROM ycc)
         SELECT doc_id, CAST(f AS INTEGER) AS factor,
                CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
                CAST(ow * oh AS BIGINT) AS n_out_pixels,
                CAST(sum(r) AS BIGINT) AS sum_r,
                CAST(sum(g) AS BIGINT) AS sum_g,
                CAST(sum(b) AS BIGINT) AS sum_b,
                CAST(sum((ry * ow + rx) * (r + g + b)) AS BIGINT)
                  AS pos_checksum
         FROM rgb GROUP BY doc_id, f, ow, oh""",
    // The greedy packing recurrence replayed as a recursive CTE (depth =
    // docs per bucket; every bucket advances one row per step) — budget
    // and bucket size interpolated from the SAME constants the engine
    // reads, so they cannot drift.
    "q98_sequence_packing" ->
      s"""WITH RECURSIVE ord AS (
           SELECT doc_id, doc_id // $PackBucket AS bucket,
                  len($tokensSql) AS n,
                  row_number() OVER (PARTITION BY (doc_id // $PackBucket)
                                     ORDER BY doc_id) AS rn
           FROM documents),
         pack AS (
           SELECT bucket, rn, doc_id, n,
                  CAST(0 AS BIGINT) AS seq, n AS fill
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.bucket, o.rn, o.doc_id, o.n,
                  CASE WHEN p.fill + o.n > $PackBudget
                       THEN p.seq + 1 ELSE p.seq END,
                  CASE WHEN p.fill + o.n > $PackBudget
                       THEN o.n ELSE p.fill + o.n END
           FROM pack p JOIN ord o ON o.bucket = p.bucket AND o.rn = p.rn + 1)
         SELECT bucket, seq, count(*) AS n_docs,
                CAST(sum(n) AS BIGINT) AS fill_tokens,
                min(doc_id) AS first_doc, max(doc_id) AS last_doc
         FROM pack GROUP BY 1, 2""",
    // The COMPOSED curation pipeline: quality gate → exact dedup →
    // split → per-(split × bucket) greedy packing, every constant
    // interpolated from the same single-sourced values the stage
    // oracles use.
    "q100_corpus_curation" -> {
      val keySql = s"(doc_id * ${Sampling.Knuth} + 7) % ${Sampling.Modulus}"
      val bounds = Sampling.splitBounds(SplitWeights)
      val cases = bounds.init
        .map { case (l, u) => s"WHEN $keySql < $u THEN '$l'" }.mkString(" ")
      val stops = TextAnalysis.Stopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH RECURSIVE stats AS (
           SELECT doc_id, text, len($tokensSql) AS n,
                  CASE WHEN len(text) = 0 THEN 0.0
                       ELSE CAST(len(text) - len(regexp_replace(text,
                         '[[:punct:]]', '', 'g')) AS DOUBLE) / len(text)
                  END AS pr,
                  CASE WHEN len($tokensSql) = 0 THEN 0.0
                       ELSE CAST(len(list_filter($tokensSql,
                         t -> lower(t) IN ($stops))) AS DOUBLE) /
                         len($tokensSql)
                  END AS sw
           FROM documents),
         q AS (SELECT doc_id, text, n FROM stats
               WHERE n BETWEEN 20 AND 90 AND pr <= 0.3 AND sw >= 0.02),
         d AS (SELECT doc_id, n, row_number() OVER (
                 PARTITION BY md5($normTextSql) ORDER BY doc_id) AS rn
               FROM q),
         sp AS (SELECT doc_id, n,
                       CASE $cases ELSE '${bounds.last._1}' END AS split
                FROM d WHERE rn = 1),
         ord AS (SELECT split, doc_id // $PackBucket AS bucket, doc_id, n,
                        row_number() OVER (
                          PARTITION BY split, (doc_id // $PackBucket)
                          ORDER BY doc_id) AS rn
                 FROM sp),
         pack AS (
           SELECT split, bucket, rn, doc_id, n,
                  CAST(0 AS BIGINT) AS seq, n AS fill
           FROM ord WHERE rn = 1
           UNION ALL
           SELECT o.split, o.bucket, o.rn, o.doc_id, o.n,
                  CASE WHEN p.fill + o.n > $PackBudget
                       THEN p.seq + 1 ELSE p.seq END,
                  CASE WHEN p.fill + o.n > $PackBudget
                       THEN o.n ELSE p.fill + o.n END
           FROM pack p JOIN ord o
             ON o.split = p.split AND o.bucket = p.bucket
                AND o.rn = p.rn + 1),
         census AS (SELECT split, bucket, seq, count(*) AS nd,
                           sum(n) AS fill
                    FROM pack GROUP BY 1, 2, 3)
         SELECT split, count(*) AS n_seqs, CAST(sum(nd) AS BIGINT) AS docs,
                CAST(sum(fill) AS BIGINT) AS tokens,
                CAST(max(fill) AS BIGINT) AS max_fill,
                CAST(min(fill) AS BIGINT) AS min_fill
         FROM census GROUP BY 1"""
    },
  )

  /** The split-label CASE is generated from the SAME rounded bounds
    * [[Sampling.splitBounds]] gives `splitLabel`, so oracle and engine can
    * never disagree on a boundary key.
    */
  private def trainSplitOracle: String = {
    val keySql = s"(doc_id * ${Sampling.Knuth} + 7) % ${Sampling.Modulus}"
    val bounds = Sampling.splitBounds(SplitWeights)
    val cases = bounds.init
      .map { case (label, upper) => s"WHEN $keySql < $upper THEN '$label'" }
      .mkString(" ")
    s"""WITH labeled AS (
          SELECT lang,
                 CASE $cases ELSE '${bounds.last._1}' END AS split,
                 len($tokensSql) AS n
          FROM documents)
        SELECT lang, split, count(*) AS docs, CAST(sum(n) AS BIGINT) AS tokens
        FROM labeled GROUP BY 1, 2"""
  }

  /** Shared CTE block for the exact trigram pair computation (mirrors
    * Dedup's shingle construction; distinct shingles, short-doc whole-text
    * fallback, optional df cap mirroring `sharedShinglePairs`' posting-list
    * size filter — intersections ignore hot shingles, |∪| keeps full set
    * sizes, so the capped oracle stays hash-identical at ANY scale
    * factor). SINGLE-SOURCED so the q24 pair set and the q64 cluster
    * closure can never drift apart.
    */
  private def ngramPairCtes(maxDf: Option[Int]): String = {
    val capCtes = maxDf.fold(
      "ec AS (SELECT * FROM e)") { cap =>
      s"""hot AS (SELECT g FROM e GROUP BY g HAVING count(*) > $cap),
        ec AS (SELECT * FROM e WHERE g NOT IN (SELECT g FROM hot))"""
    }
    s"""toks AS (
          SELECT doc_id, $tokensSql AS tk FROM documents),
        sets AS (
          SELECT doc_id,
                 list_distinct(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                      ELSE list_transform(range(len(tk) - 2),
                             i -> tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]) END) AS sh
          FROM toks),
        e AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM sets),
        $capCtes,
        shared AS (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b, x.n AS n_a, y.n AS n_b,
                 count(*) AS inter
          FROM ec x JOIN ec y USING (g)
          WHERE x.doc_id < y.doc_id
          GROUP BY 1, 2, 3, 4)"""
  }

  /** Exact trigram-Jaccard pair set in DuckDB (exact division, round 6).
    * `pairPredicate` restricts the pair set (e.g. to pairs touching an
    * incremental batch) — prefixed with AND when non-empty.
    */
  private def ngramJaccardOracle(threshold: Double,
      maxDf: Option[Int] = None, pairPredicate: String = ""): String =
    s"""WITH ${ngramPairCtes(maxDf)}
        SELECT id_a, id_b,
               round(CAST(inter AS DOUBLE) / (n_a + n_b - inter), 6) AS jaccard
        FROM shared
        WHERE CAST(inter AS DOUBLE) / (n_a + n_b - inter) >= $threshold
          $pairPredicate"""
}

/** The q103/five-table-IVM silver history and its DECLARED write-side
  * change feeds, single-sourced so the oracle-pinned query
  * ([[NorthStarQueries.q103GoldIncrementalCity]]) and its stage-budget
  * measurements (BASELINE.md) can never drift onto different
  * workloads: v1 misses every 7th order, v2 inserts them AND
  * shifts every 5th delivery date AND renames every 6th city, v3
  * deletes every 11th order.
  */
private[graft] object GoldIncFixture {
  import org.apache.spark.sql.functions._

  def ins(d: DataFrame): DataFrame =
    d.withColumn("_change_type", lit("insert"))
  def del(d: DataFrame): DataFrame =
    d.withColumn("_change_type", lit("delete"))

  def silverOrders(orders: DataFrame, version: Int): DataFrame = {
    val keep = version match {
      case 1 => pmod(col("o_orderkey"), lit(7)) =!= 0
      case 2 => lit(true)
      case _ => pmod(col("o_orderkey"), lit(11)) =!= 0
    }
    val shift = if (version >= 2)
      when(pmod(col("o_orderkey"), lit(5)) === 0, 2).otherwise(0)
    else lit(0)
    orders.filter(keep).select(
      col("o_orderkey").as("id"),
      col("o_custkey").as("customer_id"),
      pmod(col("o_custkey"), lit(25L)).as("address_id"),
      to_date(col("o_orderdate")).as("created_on"),
      when(pmod(col("o_orderkey"), lit(4)) =!= 0,
        date_add(to_date(col("o_orderdate")),
          (pmod(col("o_orderkey"), lit(30)) + shift).cast("int")))
        .as("delivered_on"),
      year(col("o_orderdate")).as("year"),
      month(col("o_orderdate")).as("month"),
      lit("2024-01-01 00:00:00").cast("timestamp")
        .as("silver_ingestion_time"))
  }

  def silverAddresses(nation: DataFrame, version: Int): DataFrame = {
    val base = lower(col("n_name"))
    val city = if (version >= 2)
      when(pmod(col("n_nationkey"), lit(6)) === 0, concat(base, lit("_x")))
        .otherwise(base)
    else base
    nation.select(
      col("n_nationkey").cast("long").as("id"),
      city.as("city"),
      lit("2023-12-01 00:00:00").cast("timestamp").as("created_on"),
      lit("2024-01-01 00:00:00").cast("timestamp")
        .as("silver_ingestion_time"))
  }

  /** The exact declared feed for the orders transition INTO `toVersion`:
    * v1→v2 is the %7 keys returning plus the %5-key delivery shift
    * (non-NULL delivered_on only — %4 ≠ 0) as update pairs; v2→v3
    * deletes the %11 keys.
    */
  def orderFeed(orders: DataFrame, toVersion: Int): DataFrame =
    toVersion match {
      case 2 =>
        ins(silverOrders(orders, 2).filter(pmod(col("id"), lit(7)) === 0))
          .unionByName(del(silverOrders(orders, 1).filter(
            pmod(col("id"), lit(5)) === 0 && pmod(col("id"), lit(4)) =!= 0)))
          .unionByName(ins(silverOrders(orders, 2).filter(
            pmod(col("id"), lit(7)) =!= 0 &&
              pmod(col("id"), lit(5)) === 0 &&
              pmod(col("id"), lit(4)) =!= 0)))
      case 3 =>
        del(silverOrders(orders, 2).filter(pmod(col("id"), lit(11)) === 0))
      case v => throw new IllegalArgumentException(
        s"no orders feed for version $v (transitions are into 2 and 3)")
    }

  /** v1→v2 addresses: every 6th city renamed → update pair. */
  def addressFeed2(nation: DataFrame): DataFrame =
    del(silverAddresses(nation, 1).filter(pmod(col("id"), lit(6)) === 0))
      .unionByName(
        ins(silverAddresses(nation, 2).filter(pmod(col("id"), lit(6)) === 0)))

  /** Silver customers derived from the tpch customer table, versioned
    * like [[silverOrders]]: v1 misses every 9th key, v2 has them all
    * with every 5th key's status flipped — so a customers commit mixes
    * pure inserts with update pairs, exercising every gold table whose
    * grain or joins touch customer type/status
    * ([[graft.gold.GoldIncremental.customerBreakdown]],
    * `customerStatusByCity`, `ordersByCustomerWeek`,
    * `ordersTypeDeliveryTime`). type/status encode the reference's
    * affiliate/individual × regular/VIP domain
    * (Gold-Customer-Breakdown.py:29) from stable key arithmetic.
    */
  def silverCustomers(customer: DataFrame, version: Int): DataFrame = {
    val keep =
      if (version == 1) pmod(col("c_custkey"), lit(9)) =!= 0 else lit(true)
    val baseStatus =
      when(col("c_mktsegment") === "BUILDING", "VIP").otherwise("regular")
    val status = if (version >= 2)
      when(pmod(col("c_custkey"), lit(5)) === 0,
        when(baseStatus === "VIP", "regular").otherwise("VIP"))
        .otherwise(baseStatus)
    else baseStatus
    customer.filter(keep).select(
      col("c_custkey").as("id"),
      when(pmod(col("c_custkey"), lit(2)) === 0, "affiliate")
        .otherwise("individual").as("type"),
      status.as("status"),
      date_add(lit("2023-01-01").cast("date"),
        pmod(col("c_custkey"), lit(365)).cast("int")).as("created_on"),
      lit(2023).as("year"),
      lit(1).as("month"),
      lit("2024-01-01 00:00:00").cast("timestamp")
        .as("silver_ingestion_time"))
  }

  /** The exact declared feed for customers v1→v2: the %9 keys arriving
    * as pure inserts, the %5 status flips (not already covered by the
    * %9 inserts) as delete+insert update pairs.
    */
  def customerFeed2(customer: DataFrame): DataFrame = {
    val nine = pmod(col("id"), lit(9)) === 0
    val five = pmod(col("id"), lit(5)) === 0
    ins(silverCustomers(customer, 2).filter(nine))
      .unionByName(del(silverCustomers(customer, 1)
        .filter(five && !nine)))
      .unionByName(ins(silverCustomers(customer, 2)
        .filter(five && !nine)))
  }
}

/** The q105/q116 cents history (count/sum + extrema/percentile measure
  * kinds share one workload): v1 misses every 7th key, v2 bumps every
  * 5th non-NULL key's cents by 1000, v3 deletes every 3rd key; every
  * 13th key carries NULL cents throughout. Single-sourced with the
  * DECLARED feeds so the two IVM queries cannot drift.
  */
private[graft] object CentsHistory {
  import org.apache.spark.sql.functions._
  import GoldIncFixture.{del, ins}

  final case class H(v1: DataFrame, v2: DataFrame, v3: DataFrame,
      feed2: DataFrame, feed3: DataFrame)

  def apply(orders: DataFrame): H = {
    val base = orders.select(col("o_orderkey"),
      col("o_orderstatus"), col("o_orderpriority"),
      round(col("o_totalprice") * 100, 0).cast("long").as("cents0"))
    def withCents(bumped: Boolean) = {
      val bump = if (bumped)
        when(pmod(col("o_orderkey"), lit(5)) === 0, 1000L).otherwise(0L)
      else lit(0L)
      base.withColumn("cents",
          when(pmod(col("o_orderkey"), lit(13)) === 0, lit(null))
            .otherwise(col("cents0") + bump))
        .drop("cents0")
    }
    val v1 = withCents(bumped = false)
      .filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
    val v2 = withCents(bumped = true)
    val v3 = v2.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
    val k = col("o_orderkey")
    val bumpedKeys = pmod(k, lit(5)) === 0 && pmod(k, lit(13)) =!= 0
    val feed2 = ins(v2.filter(pmod(k, lit(7)) === 0))
      .unionByName(del(v1.filter(bumpedKeys)))
      .unionByName(ins(v2.filter(pmod(k, lit(7)) =!= 0 && bumpedKeys)))
    val feed3 = del(v2.filter(pmod(k, lit(3)) === 0))
    H(v1, v2, v3, feed2, feed3)
  }
}
