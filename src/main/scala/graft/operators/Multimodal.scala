package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{QueryDef, Stable}
import graft.tables.{SourceState, Tables}

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode/feature-extract as
  * distributed per-partition batch work.
  *
  * The container has no image/audio codecs, so the DECODE STEP IS STUBBED
  * (deterministic fake features, clearly marked) — what's real and tested is
  * the Spark-side plumbing: binary column handling, schema, chunking,
  * partition-batched execution, and the exchange-free plan shape (all
  * per-row map work).
  *
  * The testdata has no binary column, so the demo payload is the document
  * text encoded as bytes; the oracle chunks the ASCII-equivalent string
  * (byte-identical for this corpus), while the Spark side keeps true
  * BinaryType intermediates.
  */
object Multimodal {

  import TextOps.polyHashSql

  private val blob = col("text").cast("binary")

  /** m01 — typed metadata for an opaque binary payload: byte length, leading
    * magic bytes, 64-byte chunk count, and a STUB content feature. */
  val m01BinaryMeta = QueryDef(
    "m01_multimodal_meta",
    s"""SELECT doc_id,
       |  octet_length(encode(text)) AS n_bytes,
       |  lower(hex(encode(substring(text, 1, 4)))) AS magic_hex,
       |  CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT) AS n_chunks,
       |  ${polyHashSql("substring(text, 1, 32)")} AS stub_feature
       |FROM documents""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      length(blob).cast("long").as("n_bytes"),
      lower(hex(substring(blob, 1, 4))).as("magic_hex"),
      ceil(length(blob) / 64.0).cast("long").as("n_chunks"),
      // STUB: stands in for a real image/audio feature extractor
      TextOps.polyHash(substring(col("text"), 1, 32)).as("stub_feature"))
  }

  private val FrameBytes = 32
  private val SampleEvery = 4

  /** m02 — frame sampling: split the payload into fixed 32-byte frames, keep
    * every 4th, fingerprint each. Pure per-row array work → explode; no
    * shuffle, embarrassingly parallel at any scale. */
  val m02FrameSample = QueryDef(
    "m02_frame_sample",
    s"""WITH f AS (
       |  SELECT doc_id, text,
       |         CAST(ceil(octet_length(encode(text)) / $FrameBytes.0) AS BIGINT) AS n_frames
       |  FROM documents)
       |SELECT doc_id, n_frames, unnest(generate_series(0, n_frames - 1, $SampleEvery)) AS frame_idx,
       |       md5(substring(text, CAST(unnest(generate_series(0, n_frames - 1, $SampleEvery)) * $FrameBytes + 1 AS INTEGER), $FrameBytes)) AS frame_md5
       |FROM f""".stripMargin) { (s, d) =>
    val nFrames = ceil(length(blob) / lit(FrameBytes.toDouble)).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), blob.as("payload"), nFrames.as("n_frames"))
      // zero-length payloads: Spark's sequence(0, -1, 4) throws "Illegal
      // sequence boundaries" while the oracle's generate_series just yields
      // no rows — filter to match (a 0-frame doc contributes nothing).
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(SampleEvery.toLong)))
          .as("frame_idx"),
        col("payload"))
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        md5(col("payload").substr(
          (col("frame_idx") * FrameBytes + 1).cast("int"), lit(FrameBytes)))
          .as("frame_md5"))
  }

  /** The library API for real decoders: batch the binary column through a
    * per-partition featurizer (the Scala analog of `mapInPandas` — one
    * call per batch of rows, so model/codec init amortizes across the
    * partition). `decode` is pluggable; [[stubDecoder]] is the deterministic
    * fake used where codecs are unavailable.
    */
  def featurize(
      df: DataFrame, payloadCol: String, idCol: String,
      decode: Array[Byte] => Array[Double] = stubDecoder): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] = df
      .select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
    ds.mapPartitions { it =>
      // per-partition init happens here (codec / model load in real use)
      it.map { case (id, bytes) => (id, decode(bytes)) }
    }.toDF(idCol, "features")
  }

  /** STUB decoder: 4 deterministic byte-statistics standing in for a real
    * image/audio feature vector. */
  def stubDecoder(bytes: Array[Byte]): Array[Double] = {
    if (bytes == null || bytes.isEmpty) Array(0.0, 0.0, 0.0, 0.0)
    else {
      val n = bytes.length.toDouble
      var sum = 0L; var min = 255; var max = 0
      bytes.foreach { b => val v = b & 0xff; sum += v; if (v < min) min = v; if (v > max) max = v }
      Array(n, sum / n, min.toDouble, max.toDouble)
    }
  }

  /** m03 — the [[featurize]] mapPartitions path as an oracle-checked query:
    * runs the stub decoder (byte count / mean / min / max) over every
    * payload. The corpus is ASCII, so bytes == codepoints and DuckDB can
    * reproduce the stub's arithmetic exactly — which makes the
    * per-partition-batch execution path itself oracle-checked, not just
    * unit-tested. At scale this is the plan shape real decoders run in:
    * one partition = one decoder init + a tight per-row loop, no shuffle. */
  val m03Featurize = QueryDef(
    "m03_featurize", {
      val cps = "list_transform(split(text, ''), ch -> CAST(unicode(ch) AS BIGINT))"
      s"""SELECT doc_id,
         |  octet_length(encode(text)) AS n_bytes,
         |  ${Stable.sqlR4(s"CAST(list_sum($cps) AS DOUBLE) / octet_length(encode(text))")} AS byte_mean,
         |  CAST(list_min($cps) AS BIGINT) AS byte_min,
         |  CAST(list_max($cps) AS BIGINT) AS byte_max
         |FROM documents""".stripMargin
    }) { (s, d) =>
    featurize(Tables.documents(s, d), payloadCol = "text", idCol = "doc_id")
      .select(
        col("doc_id"),
        element_at(col("features"), 1).cast("long").as("n_bytes"),
        Stable.r4(element_at(col("features"), 2)).as("byte_mean"),
        element_at(col("features"), 3).cast("long").as("byte_min"),
        element_at(col("features"), 4).cast("long").as("byte_max"))
  }

  // ---------- m04: perceptual-hash near-dup over binary payloads ----------

  private val GramBytes = 8 // rolling byte-gram width (stride 1 — shift-invariant)
  private val PHashBlocks = 4 // pigeonhole blocks (hamming ≤ 3 shares one)
  private val PHashBlockBits = 7 // per-block bits at fixture scale (28-bit sig)
  // full pigeonhole guarantee: 4 blocks ⇒ hamming ≤ 3 always shares a
  // block, so keeping ≤ 3 loses nothing (d04 keeps ≤ 2 by choice; byte
  // grams flip more signature bits per edit than word shingles, so m04
  // uses the whole guaranteed radius)
  private val PHashMaxHamming = 3
  private val PayloadCutBytes = 14 // twin mutation: first 14 bytes dropped

  /** m04 — perceptual-hash near-duplicate detection for OPAQUE BINARY
    * payloads: the image/audio dedup story (pHash-style) with the feature
    * extractor pluggable. Features here are rolling [[GramBytes]]-byte
    * grams at stride 1 (computed over the hex transport of the payload, so
    * nothing assumes valid UTF-8 — a real deployment swaps in decoded
    * perceptual features via [[featurize]]); each gram hashes to 64 bits,
    * the per-payload gram-hash multiset SimHash-combines into a signature
    * (corpus-scaled width — d04's `blockBitsFor`, 28-bit at every oracle
    * fixture), and near-dups surface exactly like d04: pigeonhole block
    * equi-join for candidates, Hamming ≤ [[PHashMaxHamming]] verify.
    *
    * Byte grams at stride 1 are shift-invariant, so the deterministic
    * twin (payload with its first [[PayloadCutBytes]] bytes cut,
    * id+100000) keeps ≈all of its origin's grams — real positives,
    * reproducible, oracle-checked exactly. Payloads shorter than one gram
    * sign to 0 (d04's sub-shingle convention).
    *
    * 100 TB shape: signature build is map-only (one compiled-hash pass
    * per payload), the only shuffle is the 4-block equi-join whose key
    * space widens with the corpus (blockBitsFor), keeping random block
    * collisions per payload flat — never all-pairs. Cites the reference's
    * absence: billing-etl-v1 has no binary-payload handling; this is the
    * §LLM-extension multimodal family. */
  val m04BinaryNearDup = QueryDef(
    "m04_binary_neardup", {
      val gram = s"substring(hx, 2*i - 1, ${GramBytes * 2})"
      val blockRows = (0 until PHashBlocks)
        .map(k => s"SELECT doc_id, simhash, $k AS blk_k, " +
          s"(simhash >> ${k * PHashBlockBits}) & ${(1 << PHashBlockBits) - 1} AS blk FROM sig")
        .mkString("\nUNION ALL\n")
      s"""WITH c AS (
         |  SELECT doc_id, lower(hex(encode(text))) AS hx FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000 AS doc_id,
         |         substring(lower(hex(encode(text))), ${2 * PayloadCutBytes + 1}) AS hx
         |  FROM documents),
         |g AS (
         |  SELECT doc_id,
         |         list_transform(generate_series(1, len(hx)//2 - ${GramBytes - 1}),
         |                        i -> ${polyHashSql(gram)}) AS th
         |  FROM c),
         |sig AS (SELECT doc_id, ${Dedup.simhashSql} AS simhash FROM g),
         |blocks AS (
         |$blockRows),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS sim_a, b.simhash AS sim_b
         |  FROM blocks a JOIN blocks b
         |    ON a.blk_k = b.blk_k AND a.blk = b.blk AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(sim_a, sim_b)) AS hamming
         |FROM cand
         |WHERE bit_count(xor(sim_a, sim_b)) <= $PHashMaxHamming""".stripMargin
    }) { (s, d) =>
    val docs = Tables.documents(s, d)
    val hx0 = lower(hex(col("text").cast("binary")))
    val c = docs.select(col("doc_id"), hx0.as("hx"))
      .unionAll(docs.select((col("doc_id") + 100000).as("doc_id"),
        hx0.substr(lit(2 * PayloadCutBytes + 1), length(hx0)).as("hx")))
    val octets = (length(col("hx")) / 2).cast("long")
    val nGrams = octets - (GramBytes - 1)
    // sequence(1, 0) DESCENDS in Spark (d14's short-doc trap) — guard
    // payloads shorter than one gram to an explicit empty array.
    val th = when(nGrams >= 1,
      transform(sequence(lit(1L), nGrams), i =>
        TextOps.polyHash(col("hx").substr((i * 2 - 1).cast("int"), lit(GramBytes * 2)))))
      .otherwise(expr("array()").cast("array<bigint>"))
    val bb = Dedup.blockBitsFor(Dedup.corpusDocsFor(s, d))
    // widened for the signature build, the heavy per-row step (one rolling
    // gram hash per payload byte; measured 3.4 s/task on the sf0.1 scan's
    // 2 tasks)
    val cw = SourceState.widenRead(d, "documents.parquet", "m04 payloads", c)
    // the shared d04 machinery: signature (corpus-scaled width, two words
    // past 56 bits), 4-block pigeonhole join, hamming verify
    Dedup.simhashBlockPairs(cw.select(col("doc_id"), th.as("th")), bb, PHashMaxHamming)
  }

  val all: Seq[QueryDef] = Seq(m01BinaryMeta, m02FrameSample, m03Featurize,
    m04BinaryNearDup)
}
