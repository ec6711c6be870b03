package graft.operators

import scala.collection.mutable
import scala.reflect.ClassTag
import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.queries.{QueryDef, Stable}
import graft.tables.{SourceState, Tables}

/** Deduplication operators for a training-data pipeline, over `documents`:
  *
  *  - d01 exact (hash-groupBy) — one shuffle on the content hash;
  *  - d02 exact n-gram Jaccard — shingle-explode + equi-join on shingle, the
  *    scalable inverted-index formulation (never O(n²) row pairs unless two
  *    docs actually share a shingle);
  *  - d03 MinHash+LSH — shingle→minhash→band→bucket-join candidates, then
  *    exact-Jaccard verification of the (tiny) candidate set;
  *  - d04 SimHash — 28-bit shingle-level signature, pigeonhole block-join
  *    candidates (4 blocks; hamming ≤ 3 ⇒ some block equal), hamming verify;
  *  - d05 embedding cosine near-dup — the brute-force BASELINE (all-pairs;
  *    kept for exact-recall comparison);
  *  - d06 embedding near-dup via LSH buckets — the DEFAULT scale path
  *    (bucket equi-join, no cartesian);
  *  - d07 keeper selection — near-dup pairs → connected components →
  *    one keeper per cluster (iterative min-label propagation);
  *  - d08 n-gram Jaccard with a hot-shingle stop-list — d02 hardened for
  *    real web boilerplate (frequency cutoff before the index join);
  *  - d13 semantic dedup (SemDeDup) — centroid-cell assignment, then a
  *    within-cell cosine prune keeping the member furthest from the
  *    centroid (the cluster bound makes the pair join tractable).
  *
  * The synthetic corpus has (almost) no real near-dups, so d02–d04 dedup a
  * corpus of each doc UNION a deterministically mutated twin (prefix cut) —
  * real positives, fully reproducible, oracle-checked exactly.
  *
  * Scale notes (100 TB): every join here is on a derived content key
  * (hash/shingle/band/block), so Spark shuffles by that key — no cartesian
  * anywhere; AQE handles shingle-frequency skew; hot shingles (boilerplate)
  * should be stop-listed by frequency in a real corpus.
  */
object Dedup {

  import TextOps._

  // ---------- d01: exact dedup by content hash ----------

  /** d01 — exact dedup: one shuffle grouping by content hash, keeper = min doc_id. */
  val d01Exact = QueryDef(
    "d01_dedup_exact",
    """SELECT md5(text) AS text_md5, min(doc_id) AS keeper,
      |       count(*) AS n_copies
      |FROM documents GROUP BY md5(text)""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
  }

  // ---------- mutated corpus shared by d02/d03/d04 ----------

  /** cache + EAGER one-pass materialization (optimization round 17): AQE
    * launches independent stages of one query concurrently, and concurrent
    * readers of a COLD cache entry each recompute its subtree — measured
    * as 8–16 parallel jobs re-running the shingle/signature build in
    * d03/d07/m04. A shared frame must be materialized before its fan-out
    * consumers reference it; the count() is one cheap pass over the
    * already-cached frame (all these frames are corpus-bounded metadata,
    * never payload blow-ups). */
  private[operators] def materialized(df: DataFrame): DataFrame = {
    df.cache()
    df.count()
    df
  }

  /** Each doc plus a twin (doc_id+100000) with the first 14 chars cut —
    * high-but-not-perfect shingle overlap. Widened on doc_id
    * ([[SourceState.widen]]) for the per-doc shingle/signature builds
    * downstream (measured: d02's shingle build 3.7 s task time on the
    * sf0.1 scan's 2 tasks). Row-level results are unaffected: every
    * consumer is per-row compute + equi-joins/aggregates on exact values. */
  def corpus(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    val c = docs.unionAll(docs.select(
      (col("doc_id") + 100000).as("doc_id"),
      col("t").substr(lit(15), length(col("t"))).as("t")))
    SourceState.widenRead(d, "documents.parquet", "dedup corpus", c, col("doc_id"))
  }

  val corpusSql: String =
    """SELECT doc_id, lower(trim(text)) AS t FROM documents
      |UNION ALL
      |SELECT doc_id + 100000 AS doc_id, substring(lower(trim(text)), 15) AS t
      |FROM documents""".stripMargin

  private def shingled(s: SparkSession, d: String): DataFrame =
    corpus(s, d).select(col("doc_id"), shingles(col("t")).as("sh"))

  private val shingledSql: String =
    s"""SELECT doc_id, ${shinglesSql(tokensSql("t"))} AS sh
       |FROM (${corpusSql.replace("\n", " ")})""".stripMargin

  /** Each doc's distinct shingle hashes, over [[shingled]]'s `sh`. */
  private def distinctHashes: Column = array_distinct(transform(col("sh"), sg => polyHash(sg)))

  /** (doc_id, hh): each doc's set of distinct shingle hashes. */
  private def hashSets(s: SparkSession, d: String): DataFrame =
    shingled(s, d).select(col("doc_id"), distinctHashes.as("hh"))

  /** (doc_id, s): one row per doc and distinct shingle hash — the
    * postings of the shingle inverted index. */
  private def hashRows(s: SparkSession, d: String): DataFrame =
    shingled(s, d).select(col("doc_id"), explode(distinctHashes).as("s"))

  // ---------- d02: exact n-gram Jaccard via shingle inverted index ----------

  private val JaccardThreshold = 0.5

  /** The inverted-index Jaccard of d02 and d08: the postings `ex`
    * (doc_id, s) self-joined on the shingle hash give each co-occurring
    * pair's intersection size i, and with both docs' set sizes n from
    * `cnt` (doc_id, n) a pair is kept iff i / (n_a + n_b − i) ≥
    * [[JaccardThreshold]]. Returns (id_a < id_b, jaccard r4). */
  private def invertedJaccard(ex: DataFrame, cnt: DataFrame): DataFrame = {
    val a = ex.as("a"); val b = ex.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val j = col("i").cast("double") / (col("ca.n") + col("cb.n") - col("i"))
    inter
      .join(cnt.as("ca"), col("ca.doc_id") === col("id_a"))
      .join(cnt.as("cb"), col("cb.doc_id") === col("id_b"))
      .filter(j >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), Stable.r4(j).as("jaccard"))
  }

  /** Joins on the 64-bit shingle HASH rather than the shingle string —
    * far smaller shuffle keys; hash collisions (~1e-9/pair) shift a Jaccard
    * by one count at worst, and the oracle hashes identically. */
  val d02NgramJaccard = QueryDef(
    "d02_dedup_ngram", {
      s"""WITH sh0 AS (${shingledSql.replace("\n", " ")}),
         |sh AS (SELECT doc_id, list_distinct(list_transform(sh0.sh, sg -> ${polyHashSql("sg")})) AS hh FROM sh0),
         |cnt AS (SELECT doc_id, len(hh) AS n FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) AS s FROM sh),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b,
         |  ${Stable.sqlR4("CAST(i AS DOUBLE) / (ca.n + cb.n - i)")} AS jaccard
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = id_a
         |JOIN cnt cb ON cb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $JaccardThreshold""".stripMargin
    }) { (s, d) =>
    val sh = materialized(hashSets(s, d))
    invertedJaccard(sh.select(col("doc_id"), explode(col("hh")).as("s")),
      sh.select(col("doc_id"), size(col("hh")).cast("long").as("n")))
  }

  // ---------- d03: MinHash + LSH banding ----------

  private val NumHashes = 16
  private val BandSize = 4 // ⇒ 4 bands
  private def permA(j: Int): Long = 2L * j + 1
  private def permB(j: Int): Long = 7L * j + 3

  // ---------- corpus-scaled banding/block parameters (round-10 verdict #2) ----------

  /** MinHash banding parameters: `bandSize` rows per band (r), `nBands`
    * bands (b); signature length = r·b. */
  private[graft] final case class BandParams(bandSize: Int, nBands: Int) {
    def numHashes: Int = bandSize * nBands
  }

  /** Corpus size at or below which every partitioning parameter keeps its
    * fixture value — sf0.001/0.01/0.1 corpora (≤10k docs incl. mutated
    * twins) all sit under it, so the pinned DuckDB oracles stay valid and
    * the bench's sf0.1 base measures the same plan the oracle checked. */
  private val FixtureDocs = 16384L

  /** Dedup-input cardinality (the mutated-twin corpus, 2× documents) —
    * one parquet-metadata count per version of the documents table. */
  private[graft] def corpusDocsFor(s: SparkSession, d: String): Long =
    SourceState.memo(d, "documents.parquet", "dedup corpus rows")(corpus(s, d).count())

  /** Corpus-scaled LSH banding (the third member of the fixed-parameter
    * class, after s02's planes and the IVF family's cells): with FIXED
    * (r=4, b=4) banding, a moderate-similarity pair (j≈0.3 — shared-vocab
    * docs, not near-dups) becomes a candidate with constant probability
    * 1−(1−j⁴)⁴ ≈ 3%, so candidate mass rides the corpus's j≈0.3 pair count
    * — QUADRATIC in n on real corpora (the disjoint-copies gate data hides
    * this by construction; the band-occupancy gauge records it). Scaling:
    *
    *  - r (rows/band) grows with log(n): each extra row multiplies a
    *    j-similar pair's per-band collision odds by j, so
    *    r = 4 + ceil(log(n/fixture) / log(1/0.3)) pins the EXPECTED
    *    j≈0.3 candidate count per doc at its fixture value as n grows;
    *  - b (bands) then re-holds the fixture's recall at the true-dup
    *    operating point (the mutated twins measure j≈0.8):
    *    1−(1−0.8^r)^b ≥ 1−(1−0.8⁴)⁴ = 0.878 ⇒
    *    b = ceil(ln(0.122) / ln(1−0.8^r)).
    *
    * ×10 gate corpus (100k) ⇒ r=6, b=7 (42 perms); ×100 (1M) ⇒ r=8, b=12
    * (96 perms). Signature cost is one compiled pass (MinHashSig), ~100ns
    * per shingle·perm — shingling still dominates; band-join rows grow
    * only ×(b/4). At every oracle fixture this IS (4, 4). */
  private[graft] def bandParamsFor(n: Long): BandParams =
    if (n <= FixtureDocs) BandParams(BandSize, NumHashes / BandSize)
    else {
      val r = BandSize + math.ceil(
        math.log(n.toDouble / FixtureDocs) / math.log(1.0 / 0.3) - 1e-9).toInt
      val fixtureRecall = 1.0 - math.pow(1.0 - math.pow(0.8, BandSize), NumHashes / BandSize)
      val b = math.ceil(
        math.log(1.0 - fixtureRecall) / math.log(1.0 - math.pow(0.8, r)) - 1e-9).toInt
      BandParams(r, b)
    }

  private def minhashSqlCols: Seq[String] =
    (0 until NumHashes).map { j =>
      s"list_min(list_transform(hh, h -> (${permA(j)} * h + ${permB(j)}) % $HashMod)) AS mh$j"
    }

  /** MinHash band rows: one (doc_id, band) row per band of each doc's
    * signature over the hash-set column `hh` of `hashed` (doc_id, hh).
    * The signature ARRAY is materialized once per row (recomputing
    * MinHashSig per band would be b× work), and one `explode` over the b
    * band keys scans it once. Band key k is one xxhash64 of (k, the band's
    * r signature values) — a single LONG join key. The oracle's band key
    * is a `concat_ws` string of the same values; candidate SETS agree
    * unless xxhash64 collides (2⁻⁶⁴ per bucket pair — immaterial), and the
    * hashed key shuffles 8 bytes instead of a 20–80-char string and needs
    * no per-permutation column.
    *
    * A doc with no shingle (fewer than 3 tokens) has a null signature and
    * gets no band row. Otherwise every such doc would share every band
    * key (`xxhash64(k, null)` is `xxhash64(k)`), and the verify's Jaccard
    * of two of them would be 0/0, which ANSI mode raises as an error; the
    * oracle's 0/0 is NULL, so it pairs none of them either. */
  private def minHashBands(hashed: DataFrame, bp: BandParams): DataFrame = {
    val sig = col("sig")
    hashed
      .select(col("doc_id"),
        graft.functions.VectorFunctions.minHashSig(col("hh"), bp.numHashes).as("sig"))
      .select(col("doc_id"), explode(when(sig.isNotNull, array((0 until bp.nBands).map(k =>
        xxhash64(lit(k), slice(sig, k * bp.bandSize + 1, bp.bandSize))): _*))).as("band"))
  }

  private def bandSql(k: Int): String =
    s"concat_ws('-', ${(0 until BandSize).map(r => s"mh${k * BandSize + r}").mkString(", ")})"

  /** One side of a MinHash near-dup join: its set frame (doc_id, set
    * column), its band rows (doc_id, band), and the frames it cached, so
    * DRAIN-style callers (q57 — a long-running loop inside ONE
    * measurement, which the harness-level clearCache between measurements
    * never reaches) can release them the moment the side's output is
    * durably written. d03/d16 return lazy plans that still reference the
    * cache, so they leave release to the harness convention
    * (Bench/ScaleSmoke clearCache + unpersist-all before every
    * measurement). */
  private[graft] final case class NearDupSide(
      sets: DataFrame, bands: DataFrame, cached: Seq[DataFrame]) {
    def release(): Unit = cached.foreach(df =>
      try df.unpersist(blocking = false) catch { case _: Exception => () })
  }

  /** The near-dup side of a (doc_id, t) frame of normalized text: distinct
    * shingles `sh` (cached — referenced by both the signature build and
    * the Jaccard verify) → their hashes → [[minHashBands]]. Shared by d03,
    * d16 (both sides), the d17 index build and q57 (each streaming
    * micro-batch against the persisted history side). */
  private[graft] def nearDupPipeline(src: DataFrame, bp: BandParams): NearDupSide = {
    val sh = src.select(col("doc_id"), shingles(col("t")).as("sh")).cache()
    val bands = minHashBands(
      sh.select(col("doc_id"), transform(col("sh"), sg => polyHash(sg)).as("hh")), bp)
    NearDupSide(sh, bands, Seq(sh))
  }

  /** Band-candidate join plus exact-Jaccard verify: every pair of an `a`
    * doc and a `b` doc sharing a band, kept iff the Jaccard of their
    * `set` columns is ≥ [[JaccardThreshold]]. The self form (d03, d09;
    * `a` and `b` are one side) keeps each pair once, as (id_a < id_b);
    * the cross form (d16/d17/q57; `a` incoming, `b` history) keeps every
    * (in_id, hist_id). Returns the two ids and the jaccard r4. */
  private[graft] def nearDupMatches(
      a: NearDupSide, b: NearDupSide, set: String, self: Boolean): DataFrame = {
    val (ia, ib) = if (self) ("id_a", "id_b") else ("in_id", "hist_id")
    val sameBand = col("a.band") === col("b.band")
    val cand = a.bands.as("a")
      .join(b.bands.as("b"), if (self) sameBand && col("a.doc_id") < col("b.doc_id") else sameBand)
      .select(col("a.doc_id").as(ia), col("b.doc_id").as(ib))
      .distinct()
    val (sa, sb) = (col(s"sa.$set"), col(s"sb.$set"))
    val interSize = size(array_intersect(sa, sb)).cast("double")
    val j = interSize / (size(sa) + size(sb) - interSize)
    cand
      .join(a.sets.as("sa"), col("sa.doc_id") === col(ia))
      .join(b.sets.as("sb"), col("sb.doc_id") === col(ib))
      .filter(j >= JaccardThreshold)
      .select(col(ia), col(ib), Stable.r4(j).as("jaccard"))
  }

  /** d03 — MinHash+LSH near-dup: banded-signature buckets generate candidates via equi-join, exact Jaccard verifies — never all-pairs. */
  val d03MinHashLsh = QueryDef(
    "d03_dedup_minhash", {
      val nBands = NumHashes / BandSize
      val bandRows = (0 until nBands)
        .map(k => s"SELECT doc_id, $k AS band_k, ${bandSql(k)} AS band FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH sh AS (${shingledSql.replace("\n", " ")}),
         |hashed AS (SELECT doc_id, list_transform(sh, sg -> ${polyHashSql("sg")}) AS hh FROM sh),
         |sig AS (SELECT doc_id, ${minhashSqlCols.mkString(",\n  ")} FROM hashed),
         |bands AS (
         |${bandRows.replace("\n", "\n")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_k = b.band_k AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  ${Stable.sqlR4(
          "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))")} AS jaccard
         |FROM cand
         |JOIN sh sa ON sa.doc_id = id_a
         |JOIN sh sb ON sb.doc_id = id_b
         |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         |      / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))
         |      >= $JaccardThreshold""".stripMargin
    }) { (s, d) =>
    val bp = bandParamsFor(corpusDocsFor(s, d))
    val side = nearDupPipeline(corpus(s, d), bp)
    nearDupMatches(side, side, "sh", self = true)
  }

  // ---------- d04: SimHash with pigeonhole block join ----------

  // 28 bits: the polynomial hash is mod 1e9+7 (< 2^30), so bits 0..27 are
  // uniform while 28+ are biased/degenerate. 4 blocks of 7 bits; pigeonhole:
  // hamming ≤ 3 < 4 blocks guarantees a shared block, we keep ≤ 2.
  private val SimBits = 28
  private val NumBlocks = 4
  private val BlockBits = 7
  private val MaxHamming = 2

  /** Empirical per-bit agreement probability of two RANDOM docs' simhash
    * bits. The naive model says 1/2, but simhash bits correlate with the
    * token distribution (common-token sign sums dominate), so agreement
    * runs higher — measured from the committed r11 `band_occupancy`
    * gauge: block candidates/doc grew 175 → 225 → 284 across base → ×10 →
    * ×100 UNDER +log2(scale) bits/decade, i.e. 4·n·p^b with
    * 10·p^3.32 ≈ 1.27 ⇒ p ≈ 0.54. Scaling block width by
    * log_{1/p}(corpus growth) instead of log₂ pins expected
    * block-candidates/doc ~FLAT (10·0.54^3.73 ≈ 1.00). */
  private val BlockBitAgreement = 0.54

  /** Corpus-scaled SimHash block width (the fourth member of the
    * fixed-parameter class): two RANDOM docs agree on a b-bit block with
    * probability ≈[[BlockBitAgreement]]^b, so expected random
    * block-candidates per doc ≈ 4·n·p^b grow LINEARLY with the corpus
    * under fixed b=7. Adding log_{1/p}(growth) bits pins them flat:
    * b = 7 + ceil(log(n/fixture)/log(1/p)) — ~1.12 bits per corpus
    * doubling (the round-11 formula used exactly 1.0, which left the
    * measured ×1.27/decade residual the gauge recorded). Capped at 28: 4
    * blocks × 28 = 112 sign-bits across TWO signature words
    * ([[graft.functions.VectorFunctions.SimHashWide]] word 0 + word 1 —
    * round-11 verdict #1 lifted the old single-word 56-bit ceiling whose
    * cap of 13 went linear past ~1M docs); the new cap binds only past
    * fixture·(1/p)^21 ≈ 6×10⁹ docs. Block COUNT stays 4: the pigeonhole
    * guarantee (hamming ≤ 3 shares a block; d04 keeps ≤ 2) is
    * per-signature and unchanged; a wider signature at the same hamming
    * cutoff is a proportionally stricter match — the same
    * precision-over-recall trade the LSH families make at scale. At every
    * oracle fixture this IS 7 (28-bit single-word signature, bit-identical
    * to SimHash28). ×10 gate corpus (100k) ⇒ 10 (40 bits); ×100 (1M) ⇒ 14
    * (56 bits — still one word; the second word activates past ~2.3M). */
  private[graft] def blockBitsFor(n: Long): Int =
    if (n <= FixtureDocs) BlockBits
    else math.min(28, BlockBits + math.ceil(
      math.log(n.toDouble / FixtureDocs) / math.log(1.0 / BlockBitAgreement) - 1e-9).toInt)

  /** Signature + block rows for a bb-bit-block pigeonhole join over a
    * (doc_id, th: array<bigint>) source: ONE signature word of 4·bb bits
    * while that fits the 56 usable sign-bits (bb ≤ 14 — every fixture and
    * both gate scales; bit-identical to the round-11 layout), TWO words of
    * 2·bb bits each past it (blocks 0-1 from word 0, 2-3 from word 1 —
    * the round-11 verdict-#1 ceiling lift; reachable past ~2.3M docs,
    * pinned by DedupSpec's forced-wide brute-force cross-check). The
    * single-word branch emits `simhash2 = 0`, so the downstream hamming
    * `bit_count(w0⊕w0') + bit_count(w1⊕w1')` degenerates to exactly the
    * old single-word distance. Output: (doc_id, simhash, simhash2,
    * blk_k, blk). `cache` wraps the signature subtree (referenced by all
    * 4 block branches × both join sides). */
  private[operators] def simhashBlocks(
      src: DataFrame, bb: Int, cache: Boolean = true): DataFrame = {
    require(bb >= 1 && bb <= 28, s"simhashBlocks bits out of range: $bb")
    import graft.functions.VectorFunctions.simHashWide
    val sig0 =
      if (NumBlocks * bb <= 56)
        src.select(col("doc_id"),
          simHashWide(col("th"), NumBlocks * bb).as("simhash"),
          lit(0L).as("simhash2"))
      else
        src.select(col("doc_id"),
          simHashWide(col("th"), 2 * bb, 0).as("simhash"),
          simHashWide(col("th"), 2 * bb, 1).as("simhash2"))
    // eager materialization: the NumBlocks block scans below (×2 sides of
    // the candidate self-join) launch as concurrent stages, and concurrent
    // readers of a COLD cache entry each recompute the subtree — measured
    // on m04 at sf0.1 as 8 parallel jobs of 6.8 s task time each (the
    // whole signature build, 8×). One eager count pays the build exactly
    // once; the count job is over the (bounded) signature frame, not the
    // payloads.
    val sig = if (cache) { val c = sig0.cache(); c.count(); c } else sig0
    def blkCol(k: Int): Column = {
      val (w, off) =
        if (NumBlocks * bb <= 56) (col("simhash"), k * bb)
        else if (k < 2) (col("simhash"), k * bb)
        else (col("simhash2"), (k - 2) * bb)
      shiftright(w, off).bitwiseAND(lit((1L << bb) - 1))
    }
    (0 until NumBlocks).map { k =>
      sig.select(col("doc_id"), col("simhash"), col("simhash2"),
        lit(k).as("blk_k"), blkCol(k).as("blk"))
    }.reduce(_ unionAll _)
  }

  /** The pigeonhole candidate join + hamming verify over [[simhashBlocks]]
    * rows: candidates = pairs sharing (blk_k, blk), distance = popcount
    * over BOTH signature words (word 2 is constant 0 in the single-word
    * layout). Shared by d04 / d10 / m04. */
  private[operators] def simhashBlockPairs(
      src: DataFrame, bb: Int, maxHamming: Int): DataFrame = {
    val blocks = simhashBlocks(src, bb)
    val cand = blocks.as("a")
      .join(blocks.as("b"),
        col("a.blk_k") === col("b.blk_k") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.simhash").as("sim_a"), col("b.simhash").as("sim_b"),
        col("a.simhash2").as("sim2_a"), col("b.simhash2").as("sim2_b"))
      .distinct()
    val hamming = bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) +
      bit_count(col("sim2_a").bitwiseXOR(col("sim2_b")))
    cand.filter(hamming <= maxHamming)
      .select(col("id_a"), col("id_b"), hamming.cast("long").as("hamming"))
  }

  /** bit_i(simhash) = sign of Σ_shingles (bit_i(hash(shingle)) ? +1 : -1),
    * over a materialized shingle-hash array (col "th" — 28× cheaper than
    * inlining). Shingles, not tokens: on a narrow-vocab corpus every doc has
    * nearly the same token SET, which makes token-level simhash degenerate
    * (everything within hamming 2 of everything). */
  private[operators] def simhashSql: String = {
    val bitSums = (0 until SimBits).map { i =>
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(th, " +
        s"h -> CASE WHEN (h >> $i) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (acc, x) -> acc + x)"
    }
    bitSums.zipWithIndex
      .map { case (e, i) => s"(CASE WHEN ($e) > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)" }
      .mkString("(", "\n + ", ")")
  }

  /** d04 — SimHash near-dup: pigeonhole block equi-join generates candidates, Hamming distance verifies. */
  val d04SimHash = QueryDef(
    "d04_dedup_simhash", {
      val blockRows = (0 until NumBlocks)
        .map(k => s"SELECT doc_id, simhash, $k AS blk_k, (simhash >> ${k * BlockBits}) & ${(1 << BlockBits) - 1} AS blk FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH sh AS (${shingledSql.replace("\n", " ")}),
         |hashed AS (
         |  SELECT doc_id, list_transform(sh, sg -> ${polyHashSql("sg")}) AS th FROM sh),
         |sig AS (SELECT doc_id, $simhashSql AS simhash FROM hashed),
         |blocks AS (
         |$blockRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM blocks a JOIN blocks b
         |    ON a.blk_k = b.blk_k AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sim_a, sim_b)) <= $MaxHamming""".stripMargin
    }) { (s, d) =>
    val bb = blockBitsFor(corpusDocsFor(s, d))
    simhashBlockPairs(
      shingled(s, d)
        .select(col("doc_id"), transform(col("sh"), sg => polyHash(sg)).as("th")),
      bb, MaxHamming)
  }

  // ---------- d05: embedding cosine near-dup (brute-force baseline) ----------

  /** dot(a,b) in double with identical fold order on both sides
    * (compiled loop — see VectorFunctions.FloatVecDot). */
  def dotCol(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotF(a, b)
  def dotSql(a: String, b: String): String =
    TextOps.sumSql(s"list_transform(list_zip($a, $b), pp -> CAST(pp[1] AS DOUBLE) * CAST(pp[2] AS DOUBLE))")

  def normCol(a: Column): Column =
    sqrt(graft.functions.VectorFunctions.dotF(a, a))
  def normSql(a: String): String =
    s"sqrt(${TextOps.sumSql(s"list_transform($a, xx -> CAST(xx AS DOUBLE) * CAST(xx AS DOUBLE))")})"

  private val CosineThreshold = 0.4

  /** d05 — embedding near-dup BASELINE: sanctioned brute-force all-pairs cosine (d06 is the LSH-bucketed scale path). */
  val d05EmbeddingNearDup = QueryDef(
    "d05_dedup_embedding",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${Stable.sqlR4(s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)")} AS cosine
       |FROM e a JOIN e b ON a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $CosineThreshold""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"), normCol(col("embedding")).as("nrm"))
    val cos = dotCol(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(cos >= CosineThreshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Stable.r4(cos).as("cosine"))
  }

  // ---------- d08: n-gram Jaccard with a hot-shingle stop-list ----------

  /** Max document frequency a shingle may have before it's treated as
    * boilerplate. At web scale, headers/footers/licenses produce shingles
    * shared by millions of docs; every one of them is a join key whose
    * bucket is the square of its frequency — the stop-list is what makes
    * the inverted index hold on real corpora, not just clean test data.
    * (On this synthetic corpus df maxes at 14, so 9 demonstrably fires.) */
  private val MaxShingleDf = 9

  /** d08 — d02's inverted-index Jaccard with a frequency stop-list: compute
    * each shingle's document frequency first, drop shingles with df >
    * [[MaxShingleDf]] from BOTH the index and the per-doc counts (Jaccard
    * stays well-defined over the filtered shingle space), then join as in
    * d02. Two extra shuffles (df count + anti-join), both keyed by the
    * shingle hash — the same keys the index join already shuffles by.
    * The df table is tiny after the HAVING cutoff ⇒ broadcast anti-join. */
  val d08NgramStopList = QueryDef(
    "d08_dedup_stoplist", {
      s"""WITH sh0 AS (${shingledSql.replace("\n", " ")}),
         |sh AS (SELECT doc_id, list_distinct(list_transform(sh0.sh, sg -> ${polyHashSql("sg")})) AS hh FROM sh0),
         |ex AS (SELECT doc_id, unnest(hh) AS s FROM sh),
         |hot AS (SELECT s FROM ex GROUP BY s HAVING count(*) > $MaxShingleDf),
         |kept AS (SELECT ex.doc_id, ex.s FROM ex ANTI JOIN hot USING (s)),
         |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
         |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT id_a, id_b,
         |  ${Stable.sqlR4("CAST(i AS DOUBLE) / (ca.n + cb.n - i)")} AS jaccard
         |FROM inter
         |JOIN cnt ca ON ca.doc_id = id_a
         |JOIN cnt cb ON cb.doc_id = id_b
         |WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $JaccardThreshold""".stripMargin
    }) { (s, d) =>
    val kept = stopListedRows(s, d).cache()
    invertedJaccard(kept, kept.groupBy("doc_id").agg(count(lit(1)).as("n")))
  }

  /** The shingle stop list: [[hashRows]] minus every shingle whose
    * document frequency exceeds [[MaxShingleDf]]. The df table is tiny
    * after the cutoff ⇒ broadcast anti-join. Behind d08 and
    * [[stopListedHashSets]]. */
  private def stopListedRows(s: SparkSession, d: String): DataFrame = {
    // ex feeds the df count AND the anti-join (2 refs) — cache
    val ex = hashRows(s, d).cache()
    val hot = ex.groupBy("s").agg(count(lit(1)).as("dfreq"))
      .filter(col("dfreq") > MaxShingleDf)
      .select("s")
    ex.join(broadcast(hot), Seq("s"), "left_anti")
  }

  // ---------- d09: MinHash + LSH over the stop-listed shingle space ----------

  /** Shared stop-listed shingle-hash sets (doc_id, hh): per-doc DISTINCT
    * shingle hashes with d08's hot shingles removed — the stop list
    * lifted to a reusable pre-step so SIGNATURE schemes (MinHash banding,
    * SimHash) can also exclude boilerplate. On real web data the band/block
    * keys inherit boilerplate skew exactly like the d02 inverted index does;
    * filtering before signing fixes the skew at its source. Opt-in (d03/d04
    * keep the unfiltered space and their oracles unchanged). */
  private def stopListedHashSets(s: SparkSession, d: String): DataFrame =
    stopListedRows(s, d).groupBy("doc_id").agg(collect_list(col("s")).as("hh"))

  private def stopListedHashSetsSql: String =
    s"""SELECT doc_id, list(s) AS hh FROM (
       |  SELECT ex.doc_id, ex.s
       |  FROM (SELECT doc_id, unnest(list_distinct(list_transform(sh, sg -> ${polyHashSql("sg")}))) AS s
       |        FROM (${shingledSql.replace("\n", " ")})) ex
       |  ANTI JOIN (SELECT s FROM (SELECT doc_id, unnest(list_distinct(list_transform(sh, sg -> ${polyHashSql("sg")}))) AS s
       |             FROM (${shingledSql.replace("\n", " ")}))
       |             GROUP BY s HAVING count(*) > $MaxShingleDf) hot USING (s))
       |GROUP BY doc_id""".stripMargin

  /** d09 — d03's MinHash+LSH banding computed over the stop-listed shingle
    * space: signatures, band keys, AND the exact-Jaccard verify all use the
    * filtered per-doc hash sets (Jaccard is well-defined over the filtered
    * space, as in d08). Same join shape as d03 — band-bucket equi-join +
    * candidate verify — but band keys can no longer be dominated by a
    * boilerplate shingle shared by millions of docs. MinHash/Jaccard are
    * order-invariant, so the unordered set aggregation is safe. */
  val d09MinHashStopList = QueryDef(
    "d09_dedup_minhash_stoplist", {
      val nBands = NumHashes / BandSize
      val bandRows = (0 until nBands)
        .map(k => s"SELECT doc_id, $k AS band_k, ${bandSql(k)} AS band FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH sets AS (${stopListedHashSetsSql.replace("\n", "\n  ")}),
         |sig AS (SELECT doc_id, ${minhashSqlCols.mkString(",\n  ")} FROM sets),
         |bands AS (
         |$bandRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band_k = b.band_k AND a.band = b.band AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  ${Stable.sqlR4(
          "CAST(len(list_intersect(sa.hh, sb.hh)) AS DOUBLE) / (len(sa.hh) + len(sb.hh) - len(list_intersect(sa.hh, sb.hh)))")} AS jaccard
         |FROM cand
         |JOIN sets sa ON sa.doc_id = id_a
         |JOIN sets sb ON sb.doc_id = id_b
         |WHERE CAST(len(list_intersect(sa.hh, sb.hh)) AS DOUBLE)
         |      / (len(sa.hh) + len(sb.hh) - len(list_intersect(sa.hh, sb.hh)))
         |      >= $JaccardThreshold""".stripMargin
    }) { (s, d) =>
    val bp = bandParamsFor(corpusDocsFor(s, d))
    // sets feeds the signature AND both verify sides (3 refs) — cache
    val sets = stopListedHashSets(s, d).cache()
    val side = NearDupSide(sets, minHashBands(sets, bp), Seq(sets))
    nearDupMatches(side, side, "hh", self = true)
  }

  /** d10 — d04's SimHash pigeonhole dedup over the stop-listed shingle
    * space (the SimHash sibling of d09): signatures sign only non-boilerplate
    * shingles, so block keys can't collapse onto the boilerplate signature.
    * Same block equi-join + hamming verify as d04. */
  val d10SimHashStopList = QueryDef(
    "d10_dedup_simhash_stoplist", {
      val blockRows = (0 until NumBlocks)
        .map(k => s"SELECT doc_id, simhash, $k AS blk_k, (simhash >> ${k * BlockBits}) & ${(1 << BlockBits) - 1} AS blk FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH sets AS (${stopListedHashSetsSql.replace("\n", "\n  ")}),
         |sig AS (SELECT doc_id, $simhashSql AS simhash
         |        FROM (SELECT doc_id, hh AS th FROM sets)),
         |blocks AS (
         |$blockRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM blocks a JOIN blocks b
         |    ON a.blk_k = b.blk_k AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sim_a, sim_b)) <= $MaxHamming""".stripMargin
    }) { (s, d) =>
    val bb = blockBitsFor(corpusDocsFor(s, d))
    simhashBlockPairs(
      stopListedHashSets(s, d).select(col("doc_id"), col("hh").as("th")),
      bb, MaxHamming)
  }

  /** d11 — INCREMENTAL ingest dedup: drop incoming documents whose exact
    * content already exists in the historical corpus — the shape a daily
    * ingest actually runs (d01 dedups a corpus against itself; this dedups
    * a new batch against history). Fixture: the incoming batch is every
    * existing doc re-ingested (all dropped) plus the mutated twins (all
    * kept), so both outcomes are exercised.
    *
    * 100 TB shape: an anti-join keyed by the content hash — the historical
    * side is corpus-sized, so it shuffles by hash rather than broadcasting.
    * The declared path runs the standard bloom hardening
    * ([[incrementalDedupBloom]]): history's hashes fold into a bounded
    * bloom (built once, amortized over every daily batch); batch rows the
    * bloom REJECTS are definitely-new and bypass the join entirely, rows
    * it accepts (true dupes + ~fpp false positives) go through the exact
    * anti-join backstop — so the bloom can only shrink the join, never
    * change the answer. Semi/anti joins never multiply rows, so skew is
    * bounded by the incoming batch. */
  val d11IncrementalDedup = QueryDef(
    "d11_dedup_incremental",
    """WITH existing AS (SELECT md5(text) AS h FROM documents),
      |incoming AS (
      |  SELECT doc_id + 200000 AS doc_id, md5(text) AS h FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id,
      |         md5(substring(lower(trim(text)), 15)) AS h
      |  FROM documents)
      |SELECT i.doc_id, i.h AS content_md5
      |FROM incoming i ANTI JOIN existing e USING (h)""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val existing = docs.select(md5(col("text").cast("binary")).as("h"))
    val incoming = docs
      .select((col("doc_id") + 200000).as("doc_id"), md5(col("text").cast("binary")).as("h"))
      .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"),
        md5(lower(trim(col("text"))).substr(lit(15), length(lower(trim(col("text"))))).cast("binary")).as("h")))
    incrementalDedupBloom(incoming, existing)
  }

  /** The bloom-hardened incremental dedup behind d11 (round-9 verdict #7):
    * build history's bloom over `xxhash64(h)` with Spark's own
    * `BloomFilterAggregate` (the runtime-filter producer, merged
    * distributed) and probe it with its paired `BloomFilterMightContain`
    * expression — codegen'd, no UDF; route definitely-new rows around the
    * join and bloom-accepted rows through the exact anti-join backstop.
    * Output is EXACTLY the plain anti-join's (the oracle doesn't change):
    * a false positive merely rides the backstop, which DedupSpec proves
    * with a saturated 64-bit bloom. `numBits` sizes the filter —
    * production derives it from the history-cardinality estimate
    * (n·ln fpp / ln²2); the default is ~1.2 MB for 1M hashes at 1%.
    *
    * Empty history: BloomFilterAggregate over zero rows evaluates to NULL,
    * and MightContain(null, x) is null — which would fail BOTH filter
    * branches and silently emit ZERO rows where the right answer is every
    * incoming row (ADVICE r10 medium). A null bloom therefore falls back
    * to the plain anti-join, which on an empty history is the identity. */
  private[graft] def incrementalDedupBloom(
      incoming: DataFrame, existing: DataFrame,
      numBits: Long = 9585059L): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val bytes = existing.select(column(new BloomFilterAggregate(
        expression(xxhash64(col("h"))), Literal(1000000L), Literal(numBits))
      .toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    if (bytes == null)
      return incoming.join(existing, Seq("h"), "left_anti")
        .select(col("doc_id"), col("h").as("content_md5"))
    def might = column(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType),
      expression(xxhash64(col("h")))))
    incoming.filter(!might).select(col("doc_id"), col("h"))
      .unionAll(incoming.filter(might).join(existing, Seq("h"), "left_anti")
        .select(col("doc_id"), col("h")))
      .select(col("doc_id"), col("h").as("content_md5"))
  }

  // ---------- d06: embedding near-dup via LSH buckets (the scale path) ----------

  /** d06 — the DEFAULT embedding near-dup: candidate pairs come from a
    * random-hyperplane bucket equi-join (Similarity.s02's buckets, plane
    * count corpus-scaled via [[Similarity.planesFor]] so per-bucket
    * occupancy stays bounded as the corpus grows), so the shuffle is keyed
    * by bucket and each vector compares only against its own bucket —
    * never the d05 all-pairs cartesian. Exact-cosine verification of
    * candidates only.
    *
    * Recall < 1 by construction (a near-dup pair split across buckets is
    * missed — P[same bucket] = (1 - θ/π)^8 for angle θ); raise it with
    * multi-probe (flip one plane bit) or more tables, same join shape.
    * d05 stays available as the exact brute-force baseline. */
  val d06EmbeddingLsh = QueryDef(
    "d06_dedup_embedding_lsh",
    s"""WITH e AS (
       |  SELECT vec_id, embedding, ${normSql("embedding")} AS nrm,
       |         ${Similarity.bucketSql("embedding")} AS bucket
       |  FROM embeddings)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ${Stable.sqlR4(s"${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm)")} AS cosine
       |FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $CosineThreshold""".stripMargin) { (s, d) =>
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        normCol(col("embedding")).as("nrm"),
        Similarity.bucketCol(col("embedding"), Similarity.planesFor(s, d)).as("bucket"))
    val cos = dotCol(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))
    e.as("a")
      .join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .filter(cos >= CosineThreshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        Stable.r4(cos).as("cosine"))
  }

  // ---------- d07 / d12: keeper selection (pairs → clusters → one keeper) ----------

  /** The one connected-components loop: [[keeperSelection]] and
    * [[keeperSelectionStar]] differ only in the round function.
    *
    * A round's tasks handle a few thousand ids, so what a round costs is
    * the driver submitting its job and Spark's per-record bookkeeping.
    * The loop therefore runs one job a round, and every RDD it builds
    * holds ONE packed record per partition ([[Block]]):
    *  - the symmetric, deduplicated adjacency is built once, one [[Csr]]
    *    per partition of `spark.sql.shuffle.partitions` (a node lives in
    *    the partition its `Long` hash picks, as under a `HashPartitioner`),
    *    and persisted; null ids, self-loops and repeated or reversed pairs
    *    fold away here;
    *  - messages and regrouped edges are routed map-side into one
    *    primitive array per target partition ([[Router]]) and shuffled by
    *    a `reduceByKey` on the partition id ([[shuffled]]), so a map task
    *    writes at most one record per reduce partition;
    *  - the new state is computed in the task that receives the routed
    *    records, zipped with the old state, and counts its own changed
    *    nodes; the round's one action sums those counts and, in the same
    *    pass, materializes the new state's `localCheckpoint`, which cuts
    *    the lineage that otherwise grows by the round's shuffles.
    * Why packed: Spark's `SizeTracker` samples the size of every
    * record-holding collection it builds (the aggregation map of a
    * cogroup, join or `reduceByKey`, the vector of a deserialized block
    * put) about log₁.₁(n) times over n records, and each `SizeEstimator`
    * sample walks every record. With a record per node or message, that
    * walk took 61 % of the task threads' samples in a JFR profile of 35
    * d07 calls over c01's pairs (4,000 nodes, 3,550 pairs, 4 CPUs), and
    * 0.3 % packed: a primitive array is sized without a walk.
    *
    * localCheckpoint blocks are PINNED: Spark can never evict or recompute
    * them, and they free only when driver GC collects their handle. Left
    * alone, every round's blocks (and every invocation's) stay resident,
    * and on a constrained driver memory runs out exactly when a broadcast
    * build needs it (found by the ×10 ScaleSmoke gate at -Xmx4g as an
    * intermittent "Not enough memory to build and broadcast" inside the
    * iteration). So each round releases the previous state through its
    * handle once the next is materialized, and the adjacency is released
    * after the loop: only the final state, bounded by the touched nodes,
    * stays pinned for the caller.
    *
    * A node with no edge never enters the loop: on a real corpus near-dups
    * are a small fraction, and the working set is 2|pairs|, not |corpus|.
    * The tail routes every id of `nodes` the same way and binary-searches
    * the final block in the task that receives them; a node the loop never
    * saw keeps its own id, and a null id comes out as (null, null). The
    * loop stops when no state changes or after `maxIter` rounds, and
    * [[Block]]'s `label` reads any round's state as an id ≤ the node in
    * its component, so a cut-short loop still returns one (node, cluster) row
    * per node. */
  private def components[S <: Block: ClassTag](nodes: DataFrame, pairs: DataFrame, maxIter: Int)(
      init: Csr => S,
      round: (RDD[S], RDD[Csr], Int) => RDD[S]): DataFrame = {
    val spark = nodes.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val adj = csrBlocks(pairs
      .select(col("id_a").cast("long"), col("id_b").cast("long")).na.drop()
      .rdd.mapPartitions { rows =>
        val r = new Router(p)
        rows.foreach(row => r.link(row.getLong(0), row.getLong(1)))
        r.routed
      }, p)
      .persist(StorageLevel.MEMORY_AND_DISK)
    var state = adj.map(init)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val next = round(state, adj, p).localCheckpoint()
      changed = next.map(_.changed).fold(0L)(_ + _)
      state.unpersist(blocking = false)
      state = next
      iter += 1
    }
    adj.unpersist(blocking = false)
    // (id, 1) per id, (0, 0) per null id
    val ids = shuffled(nodes.select(col("doc_id").cast("long")).rdd.mapPartitions { rows =>
      val r = new Router(p)
      rows.foreach(row => if (row.isNullAt(0)) r.add(0L, 0L) else r.add(row.getLong(0), 1L))
      r.routed
    }, p)
    val labeled = state.zipPartitions(ids) { (ss, ms) =>
      val s = ss.next()
      ms.flatMap(m => Iterator.range(0, m.length, 2).map { k =>
        if (m(k + 1) == 0L) (Option.empty[Long], Option.empty[Long])
        else {
          val i = java.util.Arrays.binarySearch(s.ids, m(k))
          (Option(m(k)), Option(if (i >= 0) s.label(i) else m(k)))
        }
      })
    }
    spark.createDataFrame(labeled).toDF("node", "cluster")
  }

  /** One partition's slice of the loop state: its nodes, ascending, and
    * the cluster label each carries. */
  private sealed trait Block extends Serializable {
    def ids: Array[Long]
    def label(i: Int): Long
    /** Nodes whose state the round that built this block changed. */
    def changed: Long
  }

  /** One partition's adjacency in CSR form: node `ids(i)`'s neighbours are
    * `nbr(off(i) until off(i + 1))`, ascending and distinct, at least one.
    * It is also d12's state, labelling a node min(node, neighbours). */
  private final class Csr(val ids: Array[Long], val off: Array[Int], val nbr: Array[Long],
      val changed: Long = 0L) extends Block {
    def label(i: Int): Long = math.min(ids(i), nbr(off(i)))
  }

  /** d07's state: a label per node of the partition's [[Csr]]. */
  private final class Labels(val ids: Array[Long], val labels: Array[Long], val changed: Long)
      extends Block {
    def label(i: Int): Long = labels(i)
  }

  /** One map task's (node, value) pairs, interleaved in one primitive
    * buffer per target partition; a node's partition is its `Long` hash
    * modulo `p`, as a `HashPartitioner` places it. */
  private final class Router(p: Int) {
    private val out = Array.fill(p)(new mutable.ArrayBuilder.ofLong)
    def add(node: Long, v: Long): Unit = {
      val t = java.lang.Long.hashCode(node) % p
      val b = out(if (t < 0) t + p else t)
      b += node
      b += v
    }
    /** Both directions of a link; a self-loop adds nothing. */
    def link(a: Long, b: Long): Unit = if (a != b) { add(a, b); add(b, a) }
    /** One (target partition, pairs) record per non-empty buffer. */
    def routed: Iterator[(Int, Array[Long])] =
      Iterator.range(0, p).filter(out(_).length > 0).map(t => (t, out(t).result()))
  }

  /** Every map task's [[Router]] records, concatenated per target: at
    * most one pair array per partition. A `reduceByKey`, not a
    * `groupByKey` or `partitionBy`: its map-side combine takes the sort
    * writer, one file per map task, where those take the bypass writer,
    * one file per map task AND reduce partition (measured 2× slower for
    * d12 at sf0.1, 32 partitions). */
  private def shuffled(routed: RDD[(Int, Array[Long])], p: Int): RDD[Array[Long]] =
    routed.reduceByKey(new HashPartitioner(p), _ ++ _).values

  /** One [[Csr]] per partition from the routed (node, neighbour) pairs of
    * `links`, which a [[Router]] filled through `link`. */
  private def csrBlocks(links: RDD[(Int, Array[Long])], p: Int): RDD[Csr] =
    shuffled(links, p).mapPartitions { it =>
      val pairs = if (it.hasNext) it.next() else Array.emptyLongArray
      val m = pairs.length / 2
      val ids = Array.tabulate(m)(j => pairs(2 * j))
      java.util.Arrays.sort(ids)
      val n = distinctPrefix(ids, 0, m)
      // bucket the neighbours by node, then sort and dedupe each bucket
      val at = Array.tabulate(m)(j => java.util.Arrays.binarySearch(ids, 0, n, pairs(2 * j)))
      val start = new Array[Int](n + 1)
      at.foreach(i => start(i + 1) += 1)
      for (i <- 0 until n) start(i + 1) += start(i)
      val fill = start.clone()
      val nbr = new Array[Long](m)
      for (j <- 0 until m) { nbr(fill(at(j))) = pairs(2 * j + 1); fill(at(j)) += 1 }
      val off = new Array[Int](n + 1)
      for (i <- 0 until n) {
        java.util.Arrays.sort(nbr, start(i), start(i + 1))
        off(i + 1) = off(i) + distinctPrefix(nbr, start(i), start(i + 1))
        System.arraycopy(nbr, start(i), nbr, off(i), off(i + 1) - off(i))
      }
      Iterator.single(new Csr(java.util.Arrays.copyOf(ids, n), off,
        java.util.Arrays.copyOf(nbr, off(n))))
    }

  /** Moves the distinct values of sorted `a(from until to)` to its front,
    * returning how many there are. */
  private def distinctPrefix(a: Array[Long], from: Int, to: Int): Int = {
    var w = from
    for (k <- from until to) if (k == from || a(k) != a(w - 1)) { a(w) = a(k); w += 1 }
    w - from
  }

  /** Nodes of `a` and `b` with different neighbours, a node in one only
    * counting as changed. */
  private def changedNodes(a: Csr, b: Csr): Long = {
    var i = 0
    var j = 0
    var c = 0L
    while (i < a.ids.length || j < b.ids.length) {
      if (j == b.ids.length || (i < a.ids.length && a.ids(i) < b.ids(j))) { c += 1; i += 1 }
      else if (i == a.ids.length || b.ids(j) < a.ids(i)) { c += 1; j += 1 }
      else {
        if (!java.util.Arrays.equals(a.nbr, a.off(i), a.off(i + 1), b.nbr, b.off(j), b.off(j + 1)))
          c += 1
        i += 1
        j += 1
      }
    }
    c
  }

  /** Connected components by iterative min-label propagation: every
    * edge-touched node starts as its own label; each round a node adopts
    * the smallest label among itself and its neighbors, so at the fixpoint
    * every node carries its component's minimum id (= the keeper). A round
    * moves a label one hop, so rounds ≈ component diameter + 1 (the last
    * confirms no change), at most `maxIter`; near-dup components are
    * shallow in practice. The state is a label array parallel to the
    * adjacency block's nodes; a round routes one (neighbour, label)
    * message per edge end, and the receiving task takes the minimum per
    * node. The loop and its costs are [[components]]'.
    *
    * Returns (node, cluster). For adversarially deep graphs use
    * [[keeperSelectionStar]] (O(log diameter) rounds, same contract). */
  def keeperSelection(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 50): DataFrame =
    components[Labels](nodes, pairs, maxIter)(
      init = a => new Labels(a.ids, a.ids, 0L),
      round = (labels, adj, p) => {
        val sent = shuffled(labels.zipPartitions(adj) { (ls, as) =>
          val (l, a) = (ls.next(), as.next())
          val r = new Router(p)
          for (i <- a.ids.indices; k <- a.off(i) until a.off(i + 1)) r.add(a.nbr(k), l.labels(i))
          r.routed
        }, p)
        labels.zipPartitions(sent) { (ls, ms) =>
          val l = ls.next()
          val next = l.labels.clone()
          ms.foreach(m => for (k <- 0 until m.length by 2) {
            val i = java.util.Arrays.binarySearch(l.ids, m(k))
            next(i) = math.min(next(i), m(k + 1))
          })
          Iterator.single(new Labels(l.ids, next, l.labels.indices.count(i => next(i) != l.labels(i))))
        }
      })

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., SoCC 2014) — O(log diameter) rounds, vs [[keeperSelection]]'s
    * O(diameter). Same contract: returns (node, cluster) with cluster =
    * the component's minimum id. Near-dup components are shallow, so the
    * simple propagation usually wins on constant factors; THIS is the
    * shape for adversarially deep graphs (long mutation chains), where a
    * path of length d needs d propagation rounds but only ~log d star
    * rounds. The state is the edge set itself, as each partition's
    * [[Csr]], and a round is two regroupings of it:
    *
    *  - large-star: every neighbor v > u links to m = min(Γ(u) ∪ u)
    *  - small-star: every smaller neighbor of u (and u) links to
    *    m = min(Γ(u) ∪ u)
    *
    * Both keep each component connected, so every touched node keeps a
    * neighbor. Fixpoint: per-component stars rooted at the minimum, where
    * a node's label is min(Γ(u) ∪ u); singletons keep themselves. The loop
    * is [[components]]'; equivalence with union-find is property-tested
    * (DedupSpec). */
  def keeperSelectionStar(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 50): DataFrame =
    components[Csr](nodes, pairs, maxIter)(
      init = identity,
      round = (edges, _, p) => {
        def regroup(from: RDD[Csr])(emit: (Csr, Router) => Unit): RDD[Csr] =
          csrBlocks(from.mapPartitions { it =>
            val r = new Router(p)
            emit(it.next(), r)
            r.routed
          }, p)
        val large = regroup(edges) { (c, r) =>
          for (i <- c.ids.indices; k <- c.off(i) until c.off(i + 1) if c.nbr(k) > c.ids(i))
            r.link(c.nbr(k), c.label(i))
        }
        val small = regroup(large) { (c, r) =>
          for (i <- c.ids.indices if c.nbr(c.off(i)) < c.ids(i)) {
            val m = c.nbr(c.off(i))
            for (k <- c.off(i) + 1 until c.off(i + 1) if c.nbr(k) < c.ids(i)) r.link(c.nbr(k), m)
            r.link(c.ids(i), m)
          }
        }
        edges.zipPartitions(small) { (es, ss) =>
          val (old, c) = (es.next(), ss.next())
          Iterator.single(new Csr(c.ids, c.off, c.nbr, changedNodes(old, c)))
        }
      })

  /** d07 — what a real corpus dedup ships: d03's verified near-dup PAIRS
    * folded into clusters, one keeper (min doc_id) per cluster, every corpus
    * doc labeled. Singletons keep themselves. The oracle re-derives the
    * closure with a recursive CTE over the identical pair set. */
  val d07DedupKeeper = QueryDef(
    "d07_dedup_keeper",
    s"""WITH RECURSIVE pairs AS (${d03MinHashLsh.oracle.get.replace("\n", "\n  ")}),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION
       |  SELECT id_b AS src, id_a AS dst FROM pairs),
       |nodes AS (SELECT CAST(doc_id AS BIGINT) AS node FROM (${corpusSql.replace("\n", " ")})),
       |reach(node, root) AS (
       |  SELECT node, node FROM nodes
       |  UNION
       |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
       |SELECT node AS doc_id, min(root) AS keeper,
       |       CAST(CASE WHEN node = min(root) THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
       |FROM reach GROUP BY node""".stripMargin) { (s, d) =>
    val pairs = d03MinHashLsh.fn(s, d).select(col("id_a"), col("id_b"))
    val labels = keeperSelection(corpus(s, d).select(col("doc_id")), pairs)
    labels.select(
      col("node").as("doc_id"), col("cluster").as("keeper"),
      when(col("node") === col("cluster"), 1L).otherwise(0L).as("is_keeper"))
  }

  /** Σ C(n,2) over the group sizes n of `groups`: the candidate pairs a
    * self equi-join on the grouping keys would produce, in one aggregate,
    * the join never runs. Returns (the mass of every group, the mass of
    * the groups of at most `maxDf` rows). */
  private[operators] def pairMass(groups: RelationalGroupedDataset, maxDf: Long): (Long, Long) = {
    val pairs = (col("n") * (col("n") - lit(1)) / lit(2)).cast("long")
    val r = groups.agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(pairs), lit(0L)), coalesce(sum(when(col("n") <= maxDf, pairs)), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Naive vs stop-listed span-window pair mass (Σ_wh df·(df−1)/2) — the
    * [[candidatePairStats]] pattern at d14's span granularity (round-11
    * verdict #6): the mass any pair-join consumer of the window index
    * would pay, and the per-key group sizes' second moment for the
    * frequency join itself. "Stopped" applies [[SpanMaxDf]]
    * unconditionally so the adversarial artifact measures the cutoff even
    * on corpora small enough that [[spanDfCutoffFor]] gates it off.
    * Returns (naive, stopped, corpusDocs). */
  private[graft] def spanPairMassStats(s: SparkSession, d: String): (Long, Long, Long) = {
    val th = corpus(s, d).select(col("doc_id"),
      transform(tokens(col("t")), tk => polyHash(tk)).as("hh"))
    val (naive, stopped) = pairMass(
      th.select(col("doc_id"), explode(spanWindows(col("hh"))).as("wh")).groupBy("wh"), SpanMaxDf)
    (naive, stopped, corpusDocsFor(s, d))
  }

  /** Candidate-pair mass of the d02 inverted-index join vs d08's
    * stop-listed variant, computed WITHOUT running either join: a shingle
    * hash with document frequency df contributes C(df,2) candidate pairs
    * to the index self-join, so the totals are one groupBy over the
    * exploded index. This is the number that explodes quadratically on a
    * mutually-duplicated corpus (every copy shares every shingle) and the
    * number [[MaxShingleDf]]'s cutoff bounds — the ScaleSmoke adversarial
    * gate records both and asserts the stop-listed path stays linear in
    * the doc count. Returns (naivePairs, stopListedPairs, corpusDocs). */
  private[graft] def candidatePairStats(s: SparkSession, d: String): (Long, Long, Long) = {
    val (naive, stopped) = pairMass(hashRows(s, d).groupBy("s"), MaxShingleDf)
    (naive, stopped, corpus(s, d).count())
  }

  /** Band-bucket candidate mass of d03's LSH join vs d09's stop-listed
    * variant — the SIGNATURE-scheme analog of [[candidatePairStats]]: a
    * band bucket holding n docs contributes C(n,2) candidate pairs to the
    * band equi-join. On a mutually-duplicated corpus every copy signs
    * identically, so d03's buckets hold whole copy-groups (quadratic
    * candidates); d09 signs only stop-listed shingle sets, which the
    * boilerplate regime empties — bounded by construction. Returns
    * (d03BandPairs, d09BandPairs). */
  private[graft] def bandCandidateStats(s: SparkSession, d: String): (Long, Long) = {
    val bp = bandParamsFor(corpusDocsFor(s, d))
    (bandMass(hashSets(s, d), bp), bandMass(stopListedHashSets(s, d), bp))
  }

  /** The band equi-join's candidate mass over (doc_id, hh) hash sets. */
  private def bandMass(sets: DataFrame, bp: BandParams): Long =
    pairMass(minHashBands(sets, bp).groupBy("band"), Long.MaxValue)._1

  /** d03's band-join candidate mass PER DOC under the directory's own
    * (corpus-scaled) banding — the MinHash analog of the gate's
    * `lsh_occupancy` (round-10 verdict #2): flat base→scale means the
    * banding bounds candidate growth; a fixed-parameter regression grows
    * it with the corpus. */
  private[graft] def bandCandidatesPerDoc(s: SparkSession, d: String): Double = {
    val bp = bandParamsFor(corpusDocsFor(s, d))
    bandMass(hashSets(s, d), bp).toDouble / math.max(1L, corpusDocsFor(s, d))
  }

  /** d04's block-join candidate mass per doc under the directory's own
    * (corpus-scaled) block width — the SimHash gauge twin. */
  private[graft] def blockCandidatesPerDoc(s: SparkSession, d: String): Double = {
    val bb = blockBitsFor(corpusDocsFor(s, d))
    val blocks = simhashBlocks(
      shingled(s, d)
        .select(col("doc_id"), transform(col("sh"), sg => polyHash(sg)).as("th")),
      bb, cache = false)
    pairMass(blocks.groupBy("blk_k", "blk"), Long.MaxValue)._1.toDouble /
      math.max(1L, corpusDocsFor(s, d))
  }

  /** d12 — [[keeperSelectionStar]] as a DECLARED query on an adversarially
    * DEEP graph: documents chained into one path per `lang` (edge = each
    * doc to its doc_id predecessor within the language), so the deepest
    * component's diameter is the largest language's doc count — 218 at
    * sf0.01, ~2200 at sf0.1, unboundedly deep at corpus scale. This is
    * exactly the regime d07's min-label propagation CANNOT handle: a label
    * moves one hop per round, so a depth-218 path needs ~218 rounds (far
    * past the 50-round budget), while large-star/small-star contracts the
    * path in O(log depth) ≈ 8 rounds. Same contract as d07 (keeper = the
    * component's min doc_id), and the oracle is d07's recursive-CTE
    * closure verbatim over the chain edges — a foreign-engine fixpoint
    * computation that knows nothing about stars.
    *
    * Cost model: at test scale the wall-clock is ROUND OVERHEAD, not
    * data: ~log2(diameter) + 1 rounds (9 at sf0.001), each ONE job of
    * three tiny stages (two regroupings of the edge set, then the change
    * count). That is the right trade at 100 TB, where each round is two
    * shuffle passes over an edge set that only shrinks toward the stars,
    * and the round COUNT staying ~log(diameter) is what makes adversarial
    * graphs feasible at all (ScaleSmoke's ×10/×100 ratio bounds gate
    * it). */
  val d12KeeperStarDeep = QueryDef(
    "d12_keeper_star_deep",
    """WITH RECURSIVE nodes AS (SELECT CAST(doc_id AS BIGINT) AS node, lang FROM documents),
      |chain AS (
      |  SELECT lag(node) OVER (PARTITION BY lang ORDER BY node) AS src, node AS dst
      |  FROM nodes),
      |edges AS (
      |  SELECT src, dst FROM chain WHERE src IS NOT NULL
      |  UNION
      |  SELECT dst, src FROM chain WHERE src IS NOT NULL),
      |reach(node, root) AS (
      |  SELECT node, node FROM nodes
      |  UNION
      |  SELECT e.dst, r.root FROM reach r JOIN edges e ON e.src = r.node)
      |SELECT node AS doc_id, min(root) AS keeper,
      |       CAST(CASE WHEN node = min(root) THEN 1 ELSE 0 END AS BIGINT) AS is_keeper
      |FROM reach GROUP BY node""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
      .select(col("doc_id").cast("long").as("doc_id"), col("lang"))
    val byLang = Window.partitionBy("lang").orderBy("doc_id")
    val pairs = docs
      .withColumn("prev", lag(col("doc_id"), 1).over(byLang))
      .filter(col("prev").isNotNull)
      .select(col("prev").as("id_a"), col("doc_id").as("id_b"))
    keeperSelectionStar(docs.select(col("doc_id")), pairs)
      .select(
        col("node").as("doc_id"), col("cluster").as("keeper"),
        when(col("node") === col("cluster"), 1L).otherwise(0L).as("is_keeper"))
  }

  // ---------- d13: semantic dedup (cluster, then within-cell prune) ----------

  /** d13 — SEMANTIC dedup in the SemDeDup shape (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to its nearest centroid cell
    * (s03's trained centroids, inlined as a broadcast literal — a per-row
    * argmax projection, no shuffle), then WITHIN each cell mark a vector
    * as a duplicate if some cell-mate is ≥ [[CosineThreshold]] similar AND
    * is kept over it — the paper keeps the member FURTHEST from the
    * centroid (lowest centroid-cosine; ties to the smaller id). Emits the
    * full per-vector verdict (vec_id, cell, centroid_cos, is_dropped).
    *
    * vs d05/d06: the candidate restriction is the CLUSTERING itself —
    * cross-cell near-dups are invisible by design (the SemDeDup
    * approximation), in exchange for a per-cell pair join whose cost is
    * bounded by the cell size. 100 TB: one shuffle on cell id; the cell
    * count k is the knob — size k ~ n/“rows an executor comfortably
    * pairs” (the paper uses k ≈ √n·c), and the within-cell join stays
    * an equi-join (PlanSpec: no cartesian anywhere in the d-family).
    *
    * The PAIR JOIN keys on the corpus-scaled REFINED cell (round-10
    * verdict #4 — the d13 member of the fixed-parameter class): under the
    * fixed 8-label cell set, per-cell occupancy grows linearly with the
    * corpus and the within-cell pair join quadratically — exactly the
    * defect `Similarity.cellRefineBits` fixed for the IVF family. Each
    * label cell is refined by the same corpus-scaled SplitMix hyperplane
    * signs (0 extra bits at every oracle fixture, so the declared result
    * is untouched; 3 at ×10, 6 at ×100). Semantically this narrows the
    * SemDeDup prune to refined sub-cells — a finer clustering, the same
    * approximation knob the paper's k already is. The emitted `cell`
    * column stays the LABEL cell (the s03-aligned contract).
    *
    * Declared `lazy` (with `all` below): the oracle embeds s03's SQL, so a
    * strict val would read a Similarity val inside Dedup's own `<clinit>` —
    * and Similarity's init triggers Dedup's (its vals call the shared
    * vector defs), so whichever object is touched FIRST would see the
    * other half-built (NPE). Deferring the only cross-object val read past
    * both inits breaks the cycle for every entry order. */
  lazy val d13SemanticDedup = QueryDef(
    "d13_semantic_dedup", {
      val centroidSql = Similarity.s03Centroids.oracle.get
      s"""WITH cents0 AS (${centroidSql.replace("\n", "\n  ")}),
         |cents AS (
         |  SELECT label,
         |         list_transform(list(centroid ORDER BY dim_pos), x -> CAST(x AS REAL)) AS cvec
         |  FROM cents0 GROUP BY label),
         |cn AS (SELECT label, cvec, ${normSql("cvec")} AS cnorm FROM cents),
         |e AS (SELECT vec_id, embedding, ${normSql("embedding")} AS nrm FROM embeddings),
         |assigned AS (
         |  SELECT vec_id, embedding, nrm, cell, ${Stable.sqlR4("c")} AS ccos FROM (
         |    SELECT e.vec_id, e.embedding, e.nrm, cn.label AS cell,
         |           ${dotSql("e.embedding", "cn.cvec")} / (e.nrm * cn.cnorm) AS c,
         |           row_number() OVER (
         |             PARTITION BY e.vec_id
         |             ORDER BY ${dotSql("e.embedding", "cn.cvec")} / (e.nrm * cn.cnorm) DESC,
         |                      cn.label) AS rn
         |    FROM e CROSS JOIN cn) WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT a.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |   AND (b.ccos < a.ccos OR (b.ccos = a.ccos AND b.vec_id < a.vec_id))
         |  WHERE ${dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $CosineThreshold)
         |SELECT v.vec_id, v.cell, v.ccos AS centroid_cos,
         |  CASE WHEN dr.vec_id IS NULL THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS is_dropped
         |FROM assigned v LEFT JOIN dropped dr ON v.vec_id = dr.vec_id""".stripMargin
    }) { (s, d) =>
    val best = array_max(Similarity.centroidScoredCells(s, d))
    val bits = Similarity.cellRefineBits(s, d)
    val assigned = Similarity.vecs(s, d)
      .select(col("vec_id"), col("embedding"), col("nrm"),
        (-best.getField("negCell")).as("cell"),
        Stable.r4(best.getField("c")).as("ccos"))
      .withColumn("cellr",
        Similarity.refinedCellCol(col("cell"), col("embedding"), bits))
    val cos = dotCol(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm"))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cellr") === col("b.cellr") && col("a.vec_id") =!= col("b.vec_id") &&
          (col("b.ccos") < col("a.ccos") ||
            (col("b.ccos") === col("a.ccos") && col("b.vec_id") < col("a.vec_id"))))
      .filter(cos >= CosineThreshold)
      .select(col("a.vec_id").as("vec_id"))
      .distinct()
      .withColumn("__dr", lit(1L))
    assigned
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("ccos").as("centroid_cos"),
        coalesce(col("__dr"), lit(0L)).as("is_dropped"))
  }

  // ---------- d14: duplicated-span detection (substring-level dedup) ----------

  private val SpanW = 8 // tokens per span window
  private val SpanB = 131L // window-hash combine base
  /** Active boilerplate cutoff for span windows: a window appearing in
    * more than this many docs is boilerplate (headers, licence blocks),
    * not a duplication PAIR signal — d08's MaxShingleDf=9 discipline at
    * span granularity. Real copied-paragraph positives have df=2..few. */
  private val SpanMaxDf = 8L

  /** Corpus-gated activation for [[SpanMaxDf]] (round-11 verdict #6 — the
    * docstring promised d08's cutoff for df ≫ 2 spans; now it executes):
    * inert at every oracle fixture (≤ [[FixtureDocs]] corpus rows, so the
    * pinned DuckDB SQL stays valid), active past it. The mutual-duplicate
    * boilerplate regime that motivated d08 gives every boilerplate window
    * df ≥ copies — without the cutoff its pair mass (Σ df·(df−1)/2, the
    * cost any pair-join consumer of this index pays) grows quadratically
    * in the copy count; with it the hot keys vanish from BOTH the shared
    * count and the span total (inner join on the filtered df table). */
  private[graft] def spanDfCutoffFor(n: Long): Long =
    if (n <= FixtureDocs) Long.MaxValue else SpanMaxDf

  /** Rolling w-token window hashes from a per-token hash array: each
    * window is fold((acc·B + hᵢ) mod M) over its w token hashes — overlap
    * between consecutive windows re-uses the SAME per-token hashes, so a
    * doc costs O(tokens·w) multiply-adds, never O(tokens·w) re-hashes of
    * the underlying characters. */
  private[operators] def spanWindows(hs: Column): Column = {
    val n = size(hs)
    val wins = transform(sequence(lit(1), n - (SpanW - 1)), i =>
      (0 until SpanW).foldLeft(lit(0L): Column) { (acc, k) =>
        (acc * SpanB + element_at(hs, (i + k).cast("int"))) % HashMod
      })
    // sequence(1, 0) in Spark DESCENDS to [1, 0] instead of emitting an
    // empty array (step sign is inferred) — guard short docs explicitly.
    when(n >= SpanW, array_distinct(wins)).otherwise(expr("array()").cast("array<bigint>"))
  }

  private def spanWindowsSql(toksE: String): String = {
    val fold = (0 until SpanW).foldLeft("CAST(0 AS BIGINT)") { (acc, k) =>
      s"(($acc) * $SpanB + hh[i + $k]) % $HashMod"
    }
    s"list_distinct(list_transform(generate_series(1, len(hh) - ${SpanW - 1}), i -> $fold))"
  }

  /** d14 — duplicated-SPAN detection (the substring-granularity dedup of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", word-window form): every w-token rolling window is hashed,
    * and a window appearing in ≥2 distinct docs marks BOTH docs' copies as
    * duplicated text — catching copied paragraphs inside otherwise-unique
    * documents, which doc-level d01–d04 structurally cannot see.
    *
    * 100 TB shape: per-doc window building is map-only (token hashes
    * computed once, windows are w multiply-adds each); the only shuffles
    * are the (doc, window)-distinct, the window-frequency count, and the
    * frequency join — all keyed by the 60-bit window hash, whose key space
    * GROWS with the corpus, so per-key group sizes stay flat. Boilerplate
    * spans are the exception: past fixture scale, windows with df >
    * [[SpanMaxDf]] are stop-listed out of the analysis entirely (d08's
    * shingle cutoff at span granularity, [[spanDfCutoffFor]] — inert at
    * every oracle fixture; the adversarial artifact records the pair
    * mass it removes).
    * Collisions at M = 1e9+7 are birthday-bounded (~4 per 3M windows) and
    * deterministic — both engines hash identically, so the oracle still
    * matches bit-for-bit; a 100 TB run would move to a 128-bit hash. */
  val d14SpanDedup = QueryDef(
    "d14_span_dedup",
    s"""WITH c AS (${corpusSql.replace("\n", " ")}),
       |th AS (SELECT doc_id,
       |         list_transform(${tokensSql("t")}, tk -> ${polyHashSql("tk")}) AS hh
       |       FROM c),
       |w AS (SELECT doc_id, unnest(${spanWindowsSql("hh")}) AS wh FROM th),
       |df AS (SELECT wh, count(*) AS df FROM w GROUP BY wh)
       |SELECT w.doc_id, count(*) AS n_spans,
       |  ${Stable.sqlSumBig("CASE WHEN df.df >= 2 THEN 1 ELSE 0 END")} AS n_shared,
       |  ${Stable.sqlR4("CAST(sum(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")} AS shared_frac
       |FROM w JOIN df ON w.wh = df.wh
       |GROUP BY w.doc_id""".stripMargin) { (s, d) =>
    val th = corpus(s, d).select(col("doc_id"),
      transform(tokens(col("t")), tk => polyHash(tk)).as("hh"))
    val w = th.select(col("doc_id"), explode(spanWindows(col("hh"))).as("wh"))
    val cutoff = spanDfCutoffFor(corpusDocsFor(s, d))
    val df0 = w.groupBy("wh").agg(count(lit(1)).as("df"))
    val df = if (cutoff == Long.MaxValue) df0 else df0.filter(col("df") <= cutoff)
    val sharedN = sum(when(col("df") >= 2, 1L).otherwise(0L))
    w.join(df, Seq("wh"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sharedN.as("n_shared"),
        Stable.r4(sharedN.cast("double") / count(lit(1))).as("shared_frac"))
  }

  // ---------- d15: fuzzy entity resolution (q-gram blocking + edit-distance verify) ----------

  private val FuzzyPrefixLen = 64
  private val FuzzyGramLen = 8
  private val FuzzyGramStride = 4
  private val FuzzyMaxGramDf = 50L
  private val FuzzyMaxDist = 28

  /** One (doc_id, g) row per distinct prefix q-gram — the d15 inverted
    * index's posting rows, shared by the query (which caches it) and the
    * occupancy gauge below. `pfx` must carry (doc_id, p). */
  private def fuzzyGramRows(pfx: DataFrame): DataFrame = {
    val grams = transform(
      sequence(lit(1), length(col("p")) - (FuzzyGramLen - 1), lit(FuzzyGramStride)),
      i => polyHash(col("p").substr(i, lit(FuzzyGramLen))))
    pfx.select(col("doc_id"),
      explode(when(length(col("p")) >= FuzzyGramLen, array_distinct(grams))
        .otherwise(expr("array()").cast("array<bigint>"))).as("g"))
  }

  /** Candidate-pair mass per doc of d15's gram index under the
    * [[FuzzyMaxGramDf]] posting-list cap: Σ_kept-grams df·(df−1)/2 over
    * corpus docs — the `bandCandidatesPerDoc` pattern (round-11 verdict
    * #2: the #2 bench query must carry a gauge, not a docstring claim).
    * The cap bounds every posting list, so the per-doc mass is ≤
    * grams-per-doc·(cap−1)/2 ≈ 14·24.5 regardless of corpus size — a
    * growing reading means the cutoff stopped binding. */
  private[graft] def fuzzyCandidatesPerDoc(s: SparkSession, d: String): Double = {
    val pfx = corpus(s, d)
      .select(col("doc_id"), col("t").substr(1, FuzzyPrefixLen).as("p"))
    pairMass(fuzzyGramRows(pfx).groupBy("g"), FuzzyMaxGramDf)._2.toDouble /
      math.max(1L, corpusDocsFor(s, d))
  }

  /** d15 — fuzzy-match join (entity-resolution shape): candidate pairs
    * come from a character-q-gram inverted index over each doc's
    * normalized 64-char prefix, hot q-grams are dropped by document
    * frequency (the d08 stop-list discipline — boilerplate prefixes would
    * otherwise quadratic-blow the gram join), and the survivors are
    * verified with EXACT Levenshtein distance — the approximate-blocking /
    * exact-verify split every production record-linkage pipeline uses.
    *
    * 100 TB shape: the index join shuffles on the gram hash (key space
    * grows with the corpus; df cutoff bounds every posting list at
    * $FuzzyMaxGramDf, so candidate mass is O(docs·grams-per-doc·df)),
    * the Levenshtein verify runs only on candidates, and its O(64²) DP
    * cost is per-pair constant. No all-pairs anywhere. */
  val d15FuzzyJoin = QueryDef(
    "d15_fuzzy_join", {
      val gramFold = polyHashSql(s"substring(p, i, $FuzzyGramLen)")
      s"""WITH c AS (${corpusSql.replace("\n", " ")}),
         |pfx AS (SELECT doc_id, substring(t, 1, $FuzzyPrefixLen) AS p FROM c),
         |ex AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, length(p) - ${FuzzyGramLen - 1}, $FuzzyGramStride),
         |    i -> $gramFold))) AS g
         |  FROM pfx),
         |keep AS (SELECT g FROM (SELECT g, count(*) AS df FROM ex GROUP BY g)
         |         WHERE df <= $FuzzyMaxGramDf),
         |kept AS (SELECT ex.doc_id, ex.g FROM ex JOIN keep ON ex.g = keep.g),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST(levenshtein(pa.p, pb.p) AS BIGINT) AS dist
         |FROM cand
         |JOIN pfx pa ON pa.doc_id = id_a
         |JOIN pfx pb ON pb.doc_id = id_b
         |WHERE levenshtein(pa.p, pb.p) <= $FuzzyMaxDist""".stripMargin
    }) { (s, d) =>
    val pfx = corpus(s, d)
      .select(col("doc_id"), col("t").substr(1, FuzzyPrefixLen).as("p"))
    // cached: the gram explode feeds BOTH the df-cutoff aggregate and the
    // inverted-index join (and the join reads it twice, a/b) — d02's sh
    // convention. The win is modest (10.2 → 9.8 s at sf0.1): the
    // Levenshtein verify over the candidate set dominates d15's cost,
    // which is the intended shape — exact verification IS the expensive
    // honest step, and it is already candidate-bounded.
    val ex = materialized(fuzzyGramRows(pfx))
    val keep = ex.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") <= FuzzyMaxGramDf).select("g")
    val kept = ex.join(keep, Seq("g"))
    // the verify stage is CPU-bound (Levenshtein DP per pair), but AQE's
    // partition coalescing sizes post-shuffle reads by BYTES — measured at
    // sf0.1 it packed the candidate set into 10 tasks of 5.4 s CPU each
    // (54 s task time, 8.5 s wall on 32 idle cores). Candidate rows are a
    // few dozen bytes, so byte-targeting is blind to the per-row DP cost;
    // pin the verify parallelism to the session's shuffle-partition count
    // (scale-adaptive via conf, not a local constant — an explicit
    // numPartitions repartition is exempt from AQE coalescing by design).
    // Guide §2.5/§7.4 "stage fast at small scale, starved at large".
    val cand = kept.as("a")
      .join(kept.as("b"), col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .repartition(
        pfx.sparkSession.sessionState.conf.numShufflePartitions, col("id_a"))
    // bounded edit distance (guide §4 per-task work): the verify only ever
    // consumes distances ≤ FuzzyMaxDist, and levenshtein's threshold form
    // runs a banded O(len·k) DP with early exit instead of the full
    // O(len²) table, returning -1 past the bound — result-identical on
    // every kept row (exact distance ≤ bound), and far cheaper on the
    // rejected majority.
    val dist = levenshtein(col("pa.p"), col("pb.p"), FuzzyMaxDist)
    cand
      .join(pfx.as("pa"), col("pa.doc_id") === col("id_a"))
      .join(pfx.as("pb"), col("pb.doc_id") === col("id_b"))
      .filter(dist >= 0)
      .select(col("id_a"), col("id_b"), dist.cast("long").as("dist"))
  }

  // ---------- d16: incremental NEAR-dup dedup (new batch vs history) ----------

  private val NdidxBuckets = 32
  private val NdidxSpecFile = "_GRAFT_NDIDX_SPEC"

  /** The history index's two tables for `d` under `bp`, with their bucket
    * keys: band rows on the candidate join's key, shingle sets on the
    * Jaccard verify's. */
  private def nearDupTables(d: String, bp: BandParams): Seq[(String, Seq[String])] = {
    val key = graft.pipeline.Bucketing.pathKey(d) + s"_r${bp.bandSize}b${bp.nBands}"
    Seq(s"graft_ndidx_bands_$key" -> Seq("band"), s"graft_ndidx_sh_$key" -> Seq("doc_id"))
  }

  /** Build-once PERSISTED history index for the incremental near-dup
    * family (round-11 verdict #5 — the 100 TB story said the index IS
    * stored, but every d16/q57 run rebuilt history shingles + signatures
    * inline): the history side's band rows land in a bucketed table keyed
    * by `band` (the candidate join's key — the history side of that join
    * pays NO exchange on re-read) and its shingle sets in one keyed by
    * `doc_id` (the Jaccard verify's key), as EXTERNAL tables under the
    * warehouse dir. Their lifecycle is [[graft.pipeline.Bucketing.ensureIndex]]'s,
    * checked against documents.parquet's fingerprint on every call: a
    * catalog hit is free, a fresh catalog over a completed build
    * re-declares the tables over their files (a JVM restart does not turn
    * "build once" into "build per process" — round-12 verdict #2), and a
    * rewritten corpus rebuilds. The stored rows are EXACTLY
    * [[nearDupPipeline]]'s output, so d17/q57 match d16's oracle verbatim. */
  private def nearDupIndex(
      s: SparkSession, d: String, bp: BandParams): graft.pipeline.Bucketing.Ensured =
    graft.pipeline.Bucketing.ensureIndex(s, nearDupTables(d, bp), NdidxBuckets,
        NdidxSpecFile, SourceState.fingerprint(d, "documents.parquet")) {
      val side = nearDupPipeline(Tables.documents(s, d)
        .select(col("doc_id"), lower(trim(col("text"))).as("t")), bp)
      graft.pipeline.Bucketing.IndexBuild(Seq(side.bands, side.sets),
        release = () => side.release())
    }

  /** The persisted history side for `d` (see [[nearDupIndex]]). */
  private[graft] def nearDupStoredIndex(
      s: SparkSession, d: String, bp: BandParams): NearDupSide = {
    val Seq(bands, sets) = nearDupIndex(s, d, bp).frames
    NearDupSide(sets, bands, Nil)
  }

  /** Force-or-ensure the persisted index for `d` exists, returning what
    * happened: ("built"|"reregistered"|"cached", build seconds — 0 unless
    * built). With `force` the index is dropped first, so the returned
    * seconds time a FULL build — the gate's `d17_index_build` entry
    * (round-12 verdict #2: the one-time build cost was warmed untimed,
    * making a build regression invisible). */
  private[graft] def ensureNearDupIndex(
      s: SparkSession, d: String, force: Boolean = false): (String, Double) = {
    val bp = bandParamsFor(corpusDocsFor(s, d))
    if (force) graft.pipeline.Bucketing.dropIndex(s, nearDupTables(d, bp).map(_._1))
    val e = nearDupIndex(s, d, bp)
    (e.mode, e.seconds)
  }

  /** The d16/q57-shared oracle CTE chain, from the raw table through the
    * verified (in_id, hist_id, jaccard) match set `ver` (also exposes
    * `hist` and `inc`). d16 appends its best-match pick; q57's survivor
    * projection anti-joins `ver` away. */
  private[graft] val nearDupVerCtes: String = {
    val nBands = NumHashes / BandSize
    def bandsOf(src: String) = (0 until nBands)
      .map(k => s"SELECT doc_id, $k AS band_k, ${bandSql(k)} AS band FROM ${src}sig")
      .mkString("\nUNION ALL\n")
    val jac = "CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / " +
      "(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    s"""hist AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
       |inc AS (SELECT doc_id + 100000 AS doc_id, substring(lower(trim(text)), 15) AS t FROM documents),
       |hsh AS (SELECT doc_id, ${shinglesSql(tokensSql("t"))} AS sh FROM hist),
       |ish AS (SELECT doc_id, ${shinglesSql(tokensSql("t"))} AS sh FROM inc),
       |hhash AS (SELECT doc_id, list_transform(sh, sg -> ${polyHashSql("sg")}) AS hh FROM hsh),
       |ihash AS (SELECT doc_id, list_transform(sh, sg -> ${polyHashSql("sg")}) AS hh FROM ish),
       |hsig AS (SELECT doc_id, ${minhashSqlCols.mkString(",\n  ")} FROM hhash),
       |isig AS (SELECT doc_id, ${minhashSqlCols.mkString(",\n  ")} FROM ihash),
       |hbands AS (
       |${bandsOf("h")}),
       |ibands AS (
       |${bandsOf("i")}),
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS in_id, h.doc_id AS hist_id
       |  FROM ibands i JOIN hbands h ON i.band_k = h.band_k AND i.band = h.band),
       |ver AS (
       |  SELECT in_id, hist_id, ${Stable.sqlR4(jac)} AS jaccard
       |  FROM cand
       |  JOIN ish sa ON sa.doc_id = in_id
       |  JOIN hsh sb ON sb.doc_id = hist_id
       |  WHERE $jac >= $JaccardThreshold)""".stripMargin
  }

  /** d16 — incremental near-duplicate dedup: the daily-ingest twin of d11
    * (which is exact-hash only) — each INCOMING document is checked for
    * near-duplicates against the HISTORICAL corpus via MinHash band keys,
    * with exact-Jaccard verification and a deterministic best-match pick
    * (highest rounded Jaccard, ties to the lowest history id). History =
    * the base documents; incoming = the deterministically mutated twins
    * (j≈0.8 against their origins — real positives, reproducible), so
    * every incoming row reports `n_matches`, its best match, and the
    * verified similarity, dup or not.
    *
    * 100 TB shape: the history side's shingles/signatures/bands are
    * computed once and in production PERSISTED as the dedup index — the
    * daily cost is the incoming batch's signature build plus a band
    * equi-join of batch-bands against the index (delta × ≤bucket-size
    * work, never history × history), then Jaccard verification of the
    * candidates only. Band parameters corpus-scale via [[bandParamsFor]]
    * exactly like d03 — at the oracle fixtures they ARE (4, 4). */
  val d16IncrementalNearDup = QueryDef(
    "d16_incremental_neardup", {
      s"""WITH $nearDupVerCtes,
         |best AS (
         |  SELECT in_id, hist_id, jaccard,
         |         count(*) OVER (PARTITION BY in_id) AS nm,
         |         row_number() OVER (PARTITION BY in_id
         |                            ORDER BY jaccard DESC, hist_id) AS rn
         |  FROM ver)
         |SELECT i.doc_id AS in_id,
         |       CAST(coalesce(b.nm, 0) AS BIGINT) AS n_matches,
         |       b.hist_id AS best_hist,
         |       b.jaccard AS best_jaccard
         |FROM inc i LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON i.doc_id = b.in_id""".stripMargin
    }) { (s, d) => incrementalNearDupPlan(s, d, storedIndex = false) }

  /** The shared d16/d17 plan: batch pipelines + candidate/verify joins +
    * deterministic best-match pick, with the HISTORY side either built
    * inline (d16 — self-contained, no storage dependency) or reloaded
    * from the persisted bucketed index (d17 — the production daily-ingest
    * shape: history cost paid once at index build, per-run cost is the
    * batch signature build plus the delta-sized band join). */
  private def incrementalNearDupPlan(
      s: SparkSession, d: String, storedIndex: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val hist = docs.select(col("doc_id"), lower(trim(col("text"))).as("t"))
    val inc = docs.select((col("doc_id") + 100000).as("doc_id"),
      lower(trim(col("text"))).substr(lit(15), length(lower(trim(col("text"))))).as("t"))
    val bp = bandParamsFor(corpusDocsFor(s, d))
    val h = if (storedIndex) nearDupStoredIndex(s, d, bp) else nearDupPipeline(hist, bp)
    val i = nearDupPipeline(inc, bp)
    val ver = nearDupMatches(i, h, "sh", self = false)
    val wAll = Window.partitionBy("in_id")
    val wRank = Window.partitionBy("in_id").orderBy(col("jaccard").desc, col("hist_id"))
    val best = ver
      .withColumn("nm", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") === 1)
    inc.select(col("doc_id").as("in_id"))
      .join(best, Seq("in_id"), "left")
      .select(col("in_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"),
        col("hist_id").as("best_hist"),
        col("jaccard").as("best_jaccard"))
  }

  /** d17 — d16 against the PERSISTED history index (round-11 verdict #5):
    * identical semantics and oracle (the stored rows ARE
    * [[nearDupPipeline]]'s output, written once through
    * [[graft.pipeline.Bucketing]]), but the history side READS the
    * band-bucketed + doc_id-bucketed tables instead of recomputing
    * shingles, signatures and band keys over the whole corpus — the shape
    * a daily ingest actually runs at 100 TB, where history is thousands
    * of times the batch. The band-keyed bucketing also drops the history
    * side's exchange in the candidate join. PlanSpec pins the
    * no-history-recompute claim; the ×10 gate times it next to d16. */
  val d17NearDupIndexed = QueryDef(
    "d17_neardup_indexed", d16IncrementalNearDup.oracle.get) { (s, d) =>
    incrementalNearDupPlan(s, d, storedIndex = true)
  }

  lazy val all: Seq[QueryDef] =
    Seq(d01Exact, d02NgramJaccard, d03MinHashLsh, d04SimHash, d05EmbeddingNearDup,
      d06EmbeddingLsh, d07DedupKeeper, d08NgramStopList, d09MinHashStopList,
      d10SimHashStopList, d11IncrementalDedup, d12KeeperStarDeep, d13SemanticDedup,
      d14SpanDedup, d15FuzzyJoin, d16IncrementalNearDup, d17NearDupIndexed)
}
