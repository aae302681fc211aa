package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.northstar.UnigramLm
import graft.northstar.UnigramLm.{Micro, FloorLogpMicro, Model}

/** Unigram-LM tokenizer training (Kudo 2018 / SentencePiece
  * `--model_type=unigram`) against hand-computed lattices and the
  * algorithm's laws: quantized E-step marginals, coverage floor,
  * loss-ranked pruning, exact-integer Viterbi with the longest-piece
  * tiebreak, and partition-order determinism of the distributed EM.
  */
class UnigramSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def m(pairs: (String, Double)*): Model =
    Model(pairs.map { case (p, prob) =>
      p -> math.floor(Micro.toDouble * StrictMath.log(prob)).toLong
    }.toMap, maxLen = 6)

  test("substrings: one entry per occurrence, capped at maxLen code " +
      "points, supplementary-plane symbols stay whole") {
    assert(UnigramLm.substrings("aba", 2).toSeq.sorted ===
      Seq("a", "a", "ab", "b", "ba").sorted)
    // 😀 (U+1F600) is one code point = one symbol, never a lone surrogate
    val subs = UnigramLm.substrings("a😀", 2).toSeq
    assert(subs.contains("😀"))
    assert(subs.contains("a😀"))
    assert(!subs.exists(s => s.length == 1 && s.charAt(0).isSurrogate))
  }

  test("E-step marginals on a hand lattice: 'ab' under {a, b, ab} — " +
      "path posteriors match the closed form, quantized to micro-units") {
    // paths: a·b with p=0.5·0.3=0.15, ab with p=0.2 → Z=0.35
    // P(use ab) = 0.2/0.35 = 4/7; P(use a) = P(use b) = 0.15/0.35 = 3/7
    val model = m("a" -> 0.5, "b" -> 0.3, "ab" -> 0.2)
    val counts = UnigramLm.expectedCounts("ab", 7L, model)
      .toSeq.filter(_._1.nonEmpty).toMap
    // 7 · 4/7 = 4, 7 · 3/7 = 3 — exact up to the micro quantization of
    // the model's own log probs (allow ±0.001 of a unit)
    def approx(x: Long, want: Double) =
      math.abs(x.toDouble / Micro - want) < 0.001
    assert(approx(counts("ab"), 4.0), s"ab -> ${counts("ab")}")
    assert(approx(counts("a"), 3.0), s"a -> ${counts("a")}")
    assert(approx(counts("b"), 3.0), s"b -> ${counts("b")}")
  }

  test("E-step coverage law: per code-point position, expected counts " +
      "of covering spans sum to the word weight") {
    val model = m("a" -> 0.3, "b" -> 0.2, "ab" -> 0.25, "ba" -> 0.15,
      "aba" -> 0.1)
    val w = 1000L
    val counts = UnigramLm.expectedCounts("aba", w, model)
      .toSeq.filter(_._1.nonEmpty).toMap
    // position 0 is covered by the a(0), ab(0..1), aba spans
    val pos0 = counts.getOrElse("aba", 0L) + counts.getOrElse("ab", 0L) +
      // a at position 0 vs a at position 2 both report under "a" — use
      // the middle position instead, covered by b / ab / ba / aba only
      0L
    val mid = counts.getOrElse("b", 0L) + counts.getOrElse("ab", 0L) +
      counts.getOrElse("ba", 0L) + counts.getOrElse("aba", 0L)
    assert(math.abs(mid - w * Micro) <= 4L,
      s"middle position covered mass $mid != ${w * Micro}")
    assert(pos0 >= 0L) // silence unused warning path
  }

  test("words with unsegmentable symbols contribute nothing (defensive: " +
      "the seed's single floor makes this unreachable in training)") {
    val model = m("a" -> 1.0)
    assert(UnigramLm.expectedCounts("zz", 5L, model).isEmpty)
  }

  test("quantLog: floor quantization, zero count takes the floor") {
    assert(UnigramLm.quantLog(1, 2) ===
      math.floor(Micro.toDouble * StrictMath.log(0.5)).toLong)
    assert(UnigramLm.quantLog(0, 10) === FloorLogpMicro)
    assert(UnigramLm.quantLog(10, 10) === 0L)
  }

  test("Viterbi: picks the max-probability segmentation in exact " +
      "micro-nat integer arithmetic") {
    //  'abc': ab·c = 0.3·0.2 = 0.06 beats a·bc = 0.1·0.25 = 0.025 and
    //  a·b·c = 0.1·0.3·0.2 = 0.006
    val model = m("a" -> 0.1, "b" -> 0.3, "c" -> 0.2, "ab" -> 0.3,
      "bc" -> 0.25)
    val (pieces, score) = UnigramLm.viterbi("abc", model)
    assert(pieces.toSeq === Seq("ab", "c"))
    assert(score === model.logp("ab") + model.logp("c"))
  }

  test("Viterbi tiebreak: equal scores resolve to the LONGER last piece") {
    val lp = Map("a" -> -1000000L, "aa" -> -2000000L)
    // a·a and aa both score -2000000 → aa (start index 0) must win
    val (pieces, score) = UnigramLm.viterbi("aa", Model(lp, 6))
    assert(score === -2000000L)
    assert(pieces.toSeq === Seq("aa"))
  }

  test("Viterbi totality: out-of-model single characters take the floor " +
      "penalty instead of failing") {
    val model = m("a" -> 1.0)
    val (pieces, score) = UnigramLm.viterbi("az", model)
    assert(pieces.toSeq === Seq("a", "z"))
    assert(score === model.logp("a") + FloorLogpMicro)
  }

  test("seedModel: top-S by (weight desc, piece asc) plus EVERY single " +
      "symbol — the coverage floor survives an aggressive cap") {
    val words = Seq(("abab", 10L), ("cd", 1L)).toDF("piece", "weight")
    val seed = UnigramLm.seedModel(words, maxLen = 3, seedSize = 2)
    // cap keeps only the 2 heaviest substrings, but a b c d must all be
    // present regardless
    for (s <- Seq("a", "b", "c", "d"))
      assert(seed.logp.contains(s), s"single '$s' missing from seed")
  }

  test("prune: drops the lowest-loss multi piece, never a single") {
    val model = m("a" -> 0.25, "b" -> 0.25, "ab" -> 0.4, "ba" -> 0.1)
    val counts = Map("a" -> 100L, "b" -> 100L, "ab" -> 900L, "ba" -> 1L)
    val pruned = UnigramLm.prune(model, counts, keep = 1)
    assert(pruned.logp.keySet === Set("a", "b", "ab"),
      s"got ${pruned.logp.keySet}")
  }

  test("prune tiebreak orders by UTF-8 bytes, not UTF-16 chars: a " +
      "supplementary-plane piece sorts AFTER U+FF21 (the Spark order)") {
    // U+10400 is F0 90 90 80 in UTF-8 but D801 DC00 in UTF-16; U+FF21 is
    // EF BC A1 / FF21 — the two orders disagree exactly here
    val supp = new String(Character.toChars(0x10400))
    assert(UnigramLm.utf8Less("Ａ", supp) &&
      !UnigramLm.utf8Less(supp, "Ａ"))
    assert(supp < "Ａ", "precondition: UTF-16 order disagrees")
    // prefix rule: shorter string first on a shared prefix
    assert(UnigramLm.utf8Less("ab", "abc"))
  }

  test("train is partition-order deterministic: a repartitioned word " +
      "table learns the bit-identical model (integer micro-unit sums)") {
    val words = Seq(("lower", 40L), ("low", 30L), ("newest", 25L),
      ("widest", 20L), ("wider", 15L), ("news", 10L))
    val w1 = words.toDF("piece", "weight")
    val w2 = words.reverse.toDF("piece", "weight").repartition(7)
    val m1 = UnigramLm.train(w1, targetVocab = 12, maxLen = 4,
      seedSize = 30)
    val m2 = UnigramLm.train(w2, targetVocab = 12, maxLen = 4,
      seedSize = 30)
    assert(m1.logp === m2.logp)
  }

  test("EM raises (never lowers) the corpus log-likelihood on a fixture " +
      "— the textbook EM law, visible through the quantized loglik " +
      "rider") {
    val words = Seq(("abab", 20L), ("ab", 10L), ("ba", 5L), ("aab", 3L))
      .toDF("piece", "weight").persist()
    try {
      var model = UnigramLm.seedModel(words, maxLen = 3, seedSize = 20)
      var last = Option.empty[Long]
      for (i <- 1 to 4) {
        val (counts, loglik) = UnigramLm.eStep(words, model)
        // loglik is measured under the CURRENT model, i.e. the result of
        // the PREVIOUS M-step — so it must not have decreased (allow the
        // micro-quantization's worst-case slack)
        last.foreach(prev => assert(loglik >= prev - 64L,
          s"iteration $i: loglik $loglik < previous $prev"))
        last = Some(loglik)
        model = UnigramLm.mStep(model, counts)
      }
    } finally { words.unpersist(); () }
  }

  test("persist/load round-trip: the loaded model is bit-identical and " +
      "tokenizes identically (the serving contract q114 loads through)") {
    val words = Seq(("lower", 40L), ("low", 30L), ("newest", 25L))
      .toDF("piece", "weight")
    val trained = UnigramLm.train(words, targetVocab = 10, maxLen = 4,
      seedSize = 25)
    val path = java.nio.file.Files.createTempDirectory("graft_uni")
      .toString + "/model"
    UnigramLm.persist(spark, path, trained)
    val loaded = UnigramLm.load(spark, path).get
    assert(loaded.logp === trained.logp)
    // the derived DP window never exceeds the trained one and spans
    // longer than any model piece cannot match — segmentations agree
    assert(loaded.maxLen <= trained.maxLen)
    for (w <- Seq("lowest", "newlow", "zzz", "lower")) {
      val (pl, sl) = UnigramLm.viterbi(w, loaded)
      val (pt, st) = UnigramLm.viterbi(w, trained)
      assert((pl.toSeq, sl) === ((pt.toSeq, st)))
    }
    assert(UnigramLm.load(spark, path + "_absent").isEmpty)
  }

  test("train hits the target vocabulary exactly when the seed is " +
      "bigger, keeping all singles") {
    val words = Seq(("abcabc", 50L), ("bca", 20L), ("cab", 10L),
      ("abc", 5L)).toDF("piece", "weight")
    val target = 6
    val model = UnigramLm.train(words, targetVocab = target, maxLen = 3,
      seedSize = 40)
    val singles = model.logp.keysIterator.count(_.length == 1)
    assert(singles === 3, "a b c must all survive")
    assert(model.logp.size === target,
      s"got ${model.logp.size} pieces: ${model.logp.keySet}")
  }

  test("train on an EMPTY word table yields the empty model, round-trips " +
      "through every model surface, and EM on an UNCHANGED table is " +
      "bit-identical (the marker-only stream-batch edges)") {
    // the edge unigramStatsStream can reach: a first batch whose fresh
    // docs tokenize to ZERO pieces advances the log with doc markers
    // only, and the retrain branch then trains on an empty piece rollup
    val empty = Seq.empty[(String, Long)].toDF("piece", "weight")
    val model = UnigramLm.train(empty, targetVocab = 12, maxLen = 4,
      seedSize = 40)
    assert(model.logp.isEmpty, "no words -> no pieces, not a crash")
    // every serving surface tolerates the empty model
    assert(UnigramLm.modelToDF(spark, model).collect().isEmpty)
    val back = UnigramLm.modelFromDF(UnigramLm.modelToDF(spark, model))
    assert(back.logp.isEmpty && back.maxLen >= 1)
    // determinism on an UNCHANGED table — the property the stream's
    // replay-skip guard banks on when it re-pins instead of retraining:
    // rerunning the full schedule on the same rollup is bit-identical
    val words = Seq(("abcabc", 50L), ("bca", 20L), ("cab", 10L))
      .toDF("piece", "weight")
    val m1 = UnigramLm.train(words, targetVocab = 6, maxLen = 3,
      seedSize = 40)
    val m2 = UnigramLm.train(words, targetVocab = 6, maxLen = 3,
      seedSize = 40)
    assert(m1.logp === m2.logp)
  }

  test("stream edge: a marker-only FIRST batch trains the empty model " +
      "without churn side effects, and a later real batch recovers the " +
      "exact batch-trained model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("graft_uni_e").toString
    val log = new graft.io.ParquetTable(s"$tmp/log")
    val result = new graft.io.ParquetTable(s"$tmp/result")
    val pat = graft.queries.NorthStarQueries.BpePiecePattern
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.EventAnalyticsStream.unigramStatsStream(
      in.toDF().toDF("doc_id", "text"), "doc_id", "text", pat,
      wordCap = 100, targetVocab = 12, maxLen = 4, seedSize = 40,
      emIters = 2, log, result)
    val real = Seq((2L, "low low low lower"), (3L, "newest newest widest"))
    try {
      // doc 1's text is EMPTY: the piece pattern matches nothing, so the
      // log advances with a doc marker only and training sees an empty
      // word table — must commit an (empty) model, not crash
      in.addData((1L, "")); q.processAllAvailable()
      assert(log.exists, "marker-only batch must still create the log")
      assert(result.exists && result.read(spark).isEmpty,
        "empty corpus -> empty model, committed")
      val rv = result.version
      // replaying the marker-only doc is absorbed with zero churn
      in.addData((1L, "")); q.processAllAvailable()
      assert(result.version === rv, "replay of a marker-only doc must " +
        "not rewrite the model")
      in.addData(real: _*); q.processAllAvailable()
      // a later doc-marker-only batch skips EM: the current model is
      // rewritten unchanged under a marker naming the new log version
      val (rv2, model2) = (result.version, result.read(spark).collect().toSet)
      in.addData((4L, "")); q.processAllAvailable()
      assert(result.version === rv2 + 1 &&
        result.read(spark).collect().toSet === model2)
      assert(result.applied === Map("log" -> log.version))
    } finally q.stop()
    val words = graft.northstar.BpeLearn.topVocabPlan(
      graft.northstar.BpeLearn.pieceCounts(
        real.toDF("doc_id", "text"), "text", pat), 100)
    val mBatch = UnigramLm.train(words, targetVocab = 12, maxLen = 4,
      seedSize = 40)
    val got = result.read(spark).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === mBatch.logp,
      "the empty-model vintage must not poison later real training")
  }
}
