package graft.operators

import graft.kernel.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("t11 scrub is non-vacuous: every row had an email and a URL, and none survive") {
    val out = TextAnalysis.t11PiiScrub.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("n_emails") < 1 || col("n_urls") < 1).count() == 0,
        "fixture rows must actually contain PII to scrub (the c01 vacuity lesson)")
      assert(out.filter(!col("scrubbed").contains("<EMAIL>") ||
        !col("scrubbed").contains("<URL>")).count() == 0)
      // nothing matching the patterns remains after the scrub
      assert(out.filter(col("scrubbed").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")).count() == 0)
      assert(out.filter(col("scrubbed").rlike("https?://")).count() == 0)
    } finally out.unpersist()
  }

  test("t12 returns exactly min(k, stratum size) rows per language, deterministically") {
    val docs = graft.tables.Tables.documents(spark, sf)
    val expected = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> math.min(10L, r.getLong(1))).toMap
    val got = TextAnalysis.t12StratifiedSample.fn(spark, sf)
    val counts = got.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == expected)
    // deterministic: a second run picks the identical doc set
    val ids1 = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = TextAnalysis.t12StratifiedSample.fn(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("t16 fills every non-final sequence exactly and covers each doc contiguously") {
    val out = TextAnalysis.t16PackSequences.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // every sequence except each bucket's LAST is exactly PackSeqLen full
      val fill = out.groupBy("bucket", "seq_id").agg(sum("piece_len").as("fill"))
      val lastSeq = fill.groupBy("bucket").agg(max("seq_id").as("last_seq"))
      val nonFinal = fill.join(lastSeq, "bucket").filter(col("seq_id") =!= col("last_seq")).cache()
      try {
        assert(nonFinal.count() > 0,
          "fixture too small to fill even one sequence — the fill check is vacuous")
        assert(nonFinal.filter(col("fill") =!= TextAnalysis.PackSeqLen).count() == 0,
          "a non-final sequence is not exactly full — packing leaked slack")
      } finally nonFinal.unpersist()
      // per-doc coverage: pieces start at 0 and sum to the doc's token count
      val cover = out.groupBy("doc_id").agg(
        sum("piece_len").as("sum_len"), min("piece_start").as("min_start"),
        max("n_tokens").as("n"))
      assert(cover.filter(col("sum_len") =!= col("n") || col("min_start") =!= 0).count() == 0,
        "doc pieces must cover [0, n_tokens) exactly")
      // the SPLIT actually happens: at least one doc crosses a boundary
      assert(out.groupBy("doc_id").count().filter(col("count") > 1).count() > 0,
        "no doc crosses a sequence boundary — the split path is untested")
    } finally out.unpersist()
  }

  test("t17 audits the SAME corpus d08 dedups — no pair endpoint silently drops") {
    val pairs = Dedup.d08NgramStopList.fn(spark, sf).cache()
    try {
      val nPairs = pairs.count()
      assert(nPairs > 0, "no near-dup pairs at sf0.001 — the audit is vacuous")
      // every pair endpoint must resolve in the corpus the split map covers:
      // an audit built over the RAW documents table would inner-join away
      // every pair touching a twin id (+100000) and under-report the leak
      // (the first draft of t17 did exactly that — both engines agreed on
      // the same wrong 10-pair answer, so only this containment check,
      // not the oracle hash, catches the class)
      val corpusIds = Dedup.corpus(spark, sf).select(col("doc_id"))
      val unresolved = pairs.select(col("id_a").as("doc_id"))
        .union(pairs.select(col("id_b").as("doc_id")))
        .join(corpusIds, Seq("doc_id"), "left_anti").count()
      assert(unresolved == 0, s"$unresolved pair endpoints missing from the split corpus")
      // cross + same partitions the pair set exactly
      val cross = TextAnalysis.t17SplitLeakage.fn(spark, sf)
        .agg(sum("n_pairs")).head.getLong(0)
      val h = graft.operators.TextOps.polyHash(col("doc_id").cast("string"))
      val gate = ((h * h) % graft.operators.TextOps.HashMod) % 1000
      val split = when(gate < 800, "train").when(gate < 900, "valid").otherwise("test")
      val sm = Dedup.corpus(spark, sf).select(col("doc_id"), split.as("split"))
      val same = pairs
        .join(sm.as("sa"), col("id_a") === col("sa.doc_id"))
        .join(sm.as("sb"), col("id_b") === col("sb.doc_id"))
        .filter(col("sa.split") === col("sb.split")).count()
      assert(cross + same == nPairs,
        s"cross ($cross) + same ($same) != pairs ($nPairs) — endpoints dropped")
      assert(cross > 0, "no cross-split pairs — the leak signal is vacuous")
    } finally pairs.unpersist()
  }

  test("t15 scores a predictable doc above a one-off-bigrams doc; scores stay in [0, 1e6]") {
    import spark.implicits._
    // tiny fixture corpus: doc 1 is one bigram repeated (maximally
    // predictable under the corpus-trained model), doc 2 is all singleton
    // bigrams — its every conditional probability is near the smoothing floor
    val dir = java.nio.file.Files.createTempDirectory("graft_t15_fix").toString
    Seq(
      (1L, "x x x x x x x x"),
      (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = TextAnalysis.t15LmScore.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
      // both docs have 7 bigrams
      assert(rows(1L)._1 == 7L && rows(2L)._1 == 7L)
      val (fluent, gibberish) = (rows(1L)._2, rows(2L)._2)
      assert(fluent > gibberish,
        s"repeated-bigram doc must outscore singleton-bigram doc ($fluent vs $gibberish)")
      assert(fluent <= 1000000L && gibberish >= 0L)
      // on the real corpus: every score is a valid quantized probability
      val real = TextAnalysis.t15LmScore.fn(spark, sf)
      assert(real.filter(col("lm_score") < 0 || col("lm_score") > 1000000L).count() == 0)
      assert(real.count() > 0)
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t24 learns exactly the greedy BPE merge table (brute-force equality)") {
    import spark.implicits._
    // corpus chosen to exercise every semantic corner: overlapping runs
    // ("aaaa" counts (a,a) three times but greedy-merges to TWO symbols),
    // frequency weighting (repeated words), ties (broken by lowest (l,r)),
    // and learned symbols winning later rounds
    val docs = Seq(
      (1L, "banana banana bandana aaaa"),
      (2L, "cabana banana aaaa aaaa"),
      (3L, "abab abab dada banana"))
    val dir = java.nio.file.Files.createTempDirectory("graft_t24_fix").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // independent reference implementation: greedy BPE over the weighted
    // word histogram, symbols as vectors (no sentinel-string machinery)
    def bruteBpe(words: Map[String, Long], rounds: Int): Seq[(Int, String, String, String, Long)] = {
      var vocab: Map[Vector[String], Long] =
        words.groupMapReduce { case (w, _) => w.map(_.toString).toVector }(_._2)(_ + _)
      val out = Seq.newBuilder[(Int, String, String, String, Long)]
      var k = 1
      var done = false
      while (k <= rounds && !done) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((syms, f) <- vocab; i <- 0 until syms.length - 1)
          counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + f))
        if (counts.isEmpty) done = true
        else {
          val ((l, r), cnt) = counts.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
          out += ((k, l, r, l + r, cnt))
          vocab = vocab.toSeq.map { case (syms, f) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) { b += l + r; i += 2 }
              else { b += syms(i); i += 1 }
            }
            (b.result(), f)
          }.groupMapReduce(_._1)(_._2)(_ + _)
          k += 1
        }
      }
      out.result()
    }
    try {
      val wordFreq = docs.flatMap(_._2.split("\\s+")).groupBy(identity)
        .map { case (w, ws) => w -> ws.length.toLong }
      val expected = bruteBpe(wordFreq, 8)
      // non-vacuity: the fixture must exercise a multi-char learned symbol
      // in a later round, or the "merged symbols participate" claim is
      // untested
      assert(expected.exists { case (_, l, r, _, _) => l.length > 1 || r.length > 1 },
        s"fixture never merged a learned symbol: $expected")
      val got = TextAnalysis.t24BpeTrain.fn(spark, dir)
        .orderBy("round").collect()
        .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
        .toSeq
      assert(got == expected, s"\nspark: $got\nbrute: $expected")
      // and on the real corpus: full round budget used, counts positive
      // and non-increasing is NOT required (merges create new pairs), but
      // every count is positive and rounds are 1..8
      val real = TextAnalysis.t24BpeTrain.fn(spark, sf).collect()
      assert(real.map(_.getInt(0)).sorted.toSeq == (1 to 8),
        "real corpus must sustain all 8 merge rounds")
      assert(real.forall(_.getLong(4) > 0))
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t25 encodes with exactly the learned merges (brute-force equality)") {
    import spark.implicits._
    // t24's semantic corners plus the encode-specific ones: non-trainable
    // tokens (digits, punctuation — must cost exactly 1) and words the
    // training vocabulary never saw in merged form
    val docs = Seq(
      (1L, "banana banana bandana aaaa 42 x7!"),
      (2L, "cabana banana aaaa aaaa"),
      (3L, "abab abab dada banana unseenword"))
    val dir = java.nio.file.Files.createTempDirectory("graft_t25_fix").toString
    docs.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      // learned merges, via t24 (itself brute-force-pinned above); apply
      // them in an independent vector-based encoder — no sentinel strings
      val merges = TextAnalysis.t24BpeTrain.fn(spark, dir)
        .orderBy("round").collect().map(r => (r.getString(1), r.getString(2)))
      def encode(word: String): Long = {
        var syms = word.map(_.toString).toVector
        for ((l, r) <- merges) {
          val b = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) { b += l + r; i += 2 }
            else { b += syms(i); i += 1 }
          }
          syms = b.result()
        }
        syms.length.toLong
      }
      val expected = docs.map { case (id, text) =>
        val toks = text.trim.toLowerCase.split("\\s+").toSeq
        (id, toks.length.toLong,
          toks.map(t => if (t.matches("[a-z]+")) t.length.toLong else 1L).sum,
          toks.map(t => if (t.matches("[a-z]+")) encode(t) else 1L).sum)
      }
      // non-vacuity: at least one word must actually compress, and the
      // non-trainable fallback must fire
      assert(expected.exists { case (_, _, base, bpe) => bpe < base },
        "no word compressed — the merge-apply path is untested")
      assert(docs.exists(_._2.split("\\s+").exists(t => !t.toLowerCase.matches("[a-z]+"))),
        "no non-trainable token in the fixture — the UNK fallback is untested")
      val got = TextAnalysis.t25BpeEncode.fn(spark, dir)
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      assert(got == expected, s"\nspark: $got\nbrute: $expected")
      // real corpus: encode bounds hold everywhere and merges actually fire
      val real = TextAnalysis.t25BpeEncode.fn(spark, sf).cache()
      try {
        assert(real.count() > 0)
        assert(real.filter(col("n_bpe_tokens") > col("n_base_units") ||
          col("n_bpe_tokens") < col("n_words")).count() == 0,
          "encode must sit between word count and character-unit count")
        assert(real.filter(col("n_bpe_tokens") < col("n_base_units")).count() > 0,
          "no document compressed on the real corpus — merges never applied")
      } finally real.unpersist()
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t20: a verbatim re-crawl scores novelty 0, the original 1, a remix in between") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t20_fix").toString
    Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // original: all shingles first here
      (2L, "alpha beta gamma delta epsilon zeta"), // verbatim re-crawl of doc 1
      (3L, "alpha beta gamma NEW tokens here"))    // shares 1 of 4 shingles with doc 1
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val m = TextAnalysis.t20Novelty.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(m(1L) == ((4L, 4L)), s"original must be fully novel: ${m(1L)}")
      assert(m(2L) == ((4L, 0L)), s"re-crawl must be zero-novel: ${m(2L)}")
      val (n3, novel3) = m(3L)
      assert(n3 == 4L && novel3 == 3L,
        s"remix shares exactly its first shingle with doc 1: ${m(3L)}")
      // real corpus: every novelty in [0, 1], non-empty
      val real = TextAnalysis.t20Novelty.fn(spark, sf)
      assert(real.filter(col("novelty") < 0 || col("novelty") > 1).count() == 0)
      assert(real.count() > 0)
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t21: repetition is penalized and the fixture split is non-vacuous") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t21_fix").toString
    // same token multiset, one degenerate repeater: only the repetition
    // term differs, so the classifier must rank the varied doc higher
    Seq(
      (1L, "the and of to in a varied line with many distinct tokens"),
      (2L, "the the the the the the the the the the the the"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val m = TextAnalysis.t21QualityClassifier.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(m(1L) > m(2L),
        s"repetitive doc must score below the varied one: $m")
      // fixture corpus: both classes occur — a one-sided decision proves
      // only the bias sign, not the boundary
      val real = TextAnalysis.t21QualityClassifier.fn(spark, sf)
        .groupBy("keep").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(real.getOrElse(0L, 0L) > 0 && real.getOrElse(1L, 0L) > 0,
        s"decision must split the corpus: $real")
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t22: weighted blocklist hits sum per-term severities; clean doc passes") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t22_fix").toString
    Seq(
      (1L, "dup dup slow clean words here pad pad pad pad"), // 2×3.0 + 2.0 = 8 over 10 toks
      (2L, "entirely clean words with no flagged terms at all"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val m = TextAnalysis.t22Blocklist.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(m(1L) == ((3L, 0.8, true)), s"weighted hits wrong: ${m(1L)}")
      assert(m(2L) == ((0L, 0.0, false)), s"clean doc flagged: ${m(2L)}")
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t23 DSIR: an all-target corpus gives every doc the identity ratio (10000/token)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_t23_fix").toString
    // every doc is lang='en' ⇒ target count = raw count in EVERY bucket ⇒
    // wt = ((c+1)*10000)//(c+1) = 10000 exactly, independent of hashing
    Seq(
      (1L, "alpha beta gamma", "en"),
      (2L, "delta epsilon zeta eta theta", "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    try {
      val rows = TextAnalysis.t23DsirWeights.fn(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(rows(1L) == ((3L, 30000L, 10000.0)), s"identity ratio broken: ${rows(1L)}")
      assert(rows(2L) == ((5L, 50000L, 10000.0)), s"identity ratio broken: ${rows(2L)}")
      // real corpus: en docs must outscore the average non-en doc per token
      // (the weights are TRAINED on the en slice — that's the operator's point)
      val real = TextAnalysis.t23DsirWeights.fn(spark, sf)
        .join(graft.tables.Tables.documents(spark, sf), "doc_id")
        .groupBy(col("lang") === "en")
        .agg(org.apache.spark.sql.functions.avg("dsir_per_token").as("apt"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      assert(real(true) > real(false),
        s"en slice must score above non-en on en-trained weights: $real")
    } finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("t26 drops every synthesized boilerplate line and keeps body prose") {
    val out = TextAnalysis.t26HtmlExtract.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // every synthesized page carries EXACTLY 4 boilerplate text lines
      // (title, nav, ad, footer — script/style bodies are removed before
      // the line split), so every page must drop at least those 4
      assert(out.filter(col("n_lines") - col("n_kept") < 4).count() == 0,
        "a boilerplate line survived the density prune somewhere")
      assert(out.filter(col("n_kept") > 0).count() > 0,
        "no body text survived anywhere — the prune is over-aggressive")
    } finally out.unpersist()
  }

  test("t26 strips script/style blocks that would otherwise pass the density rule") {
    import spark.implicits._
    // both blocks are long and alnum-dense — if the block regexes failed,
    // these would surface as KEPT lines (the length/density prune would
    // not catch them); only the body paragraph may survive
    val page = "<html><head>" +
      "<script>windowdatalayerpush0 gtagconfig9876 measurement54321 identifier98765 trackingcode11</script>" +
      "<style>abcdefghij0123456789 abcdefghij0123456789 abcdefghij0123456789</style>" +
      "</head><body><p>quick brown foxes jump over lazy dogs near river banks today</p></body></html>"
    val kept = Seq(page).toDF("html")
      .select(TextAnalysis.htmlExtractText(col("html")).as("t")).head.getString(0)
    assert(kept == "quick brown foxes jump over lazy dogs near river banks today",
      s"extraction returned: '$kept'")
  }

  test("t26 strips MULTI-LINE script/style blocks (DOTALL — ADVICE r14)") {
    import spark.implicits._
    // '.' matches no newline in Java or RE2, so without (?s) the block
    // patterns never span real formatted HTML — the dense JS/CSS lines
    // below would survive tag-stripping AND the density prune
    val page = "<html><head><script type=\"text/javascript\">\n" +
      "windowdatalayerpush0 gtagconfig9876 measurement54321\n" +
      "trackingidentifier98765 analyticscode1122334455 beacon77\n" +
      "</script>\n<style>\n" +
      "abcdefghij0123456789 abcdefghij0123456789 abcdefghij0123456789\n" +
      "</style></head><body>\n" +
      "<p>quick brown foxes jump over lazy dogs near river banks today</p></body></html>"
    val kept = Seq(page).toDF("html")
      .select(TextAnalysis.htmlExtractText(col("html")).as("t")).head.getString(0)
    assert(kept == "quick brown foxes jump over lazy dogs near river banks today",
      s"extraction returned: '$kept'")
  }

  test("c03 html pre-stage recovers the clean token stream from synthesized pages") {
    import spark.implicits._
    // all words ≥ 4 chars, so every 10-token paragraph passes the
    // length/density rule — extraction must then be lossless modulo the
    // paragraph newlines, i.e. the whitespace token stream is identical
    val texts = Seq(
      1L -> ("alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 3).trim,
      2L -> "kilogram limousine mountain november oscar papa quebec romeo sierra tango")
    val docs = texts.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
    val pages = docs.select(col("doc_id"),
      TextAnalysis.htmlPage(col("doc_id"), col("text"), col("lang"), col("source")).as("html"),
      col("lang"), col("source"))
    val rec = CorpusPipeline.htmlPreStage(pages)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    texts.foreach { case (id, t) =>
      assert(rec(id) == t.split(" ").toSeq, s"doc $id token stream diverged")
    }
  }
}
