package graft.operators

import graft.kernel.SparkSpec
import org.apache.spark.sql.functions._

/** Quality and structure pins for s09 IVF-PQ that the oracle hash can't
  * isolate: the hash proves Spark and DuckDB agree, not that the
  * quantizer is any good — recall against the exact-in-cell ranking is
  * the quality statement (the s07 lesson, applied to PQ), and it only
  * holds because the codebooks quantize RESIDUALS (the label-mean
  * codebook variant measured 0.19 here before the residual rewrite). */
class SimilaritySpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Drop the catalog entries (not the files) of tables whose name starts
    * with `prefix` — all that a JVM restart loses. */
  private def dropCatalogTables(prefix: String): Unit =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(prefix)).foreach(t => spark.sql(s"DROP TABLE $t"))

  /** Deterministic nonzero 64-dim float vectors under `dir`; the seed
    * varies the data so a rewrite genuinely changes file content. */
  private def writeVecs(dir: String, seed: Int): Unit =
    spark.range(0, 60).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => sin((col("id") + 1) * (i + lit(seed + 1))).cast("float")).as("embedding"),
      (col("id") % 2).cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  /** Drop every layer of `dir`'s vector index and then `dir` itself. */
  private def cleanUp(dir: String): Unit = {
    graft.pipeline.Bucketing.dropIndex(spark, Similarity.pqTables(dir))
    graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  test("s09 ADC top-k recalls the exact-in-cell ranking well above the naive-PQ floor") {
    val adc = Similarity.s09IvfPqAdc.fn(spark, sf)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("__hit"))
    // s05 ranks the SAME candidate set (the probe's cell) by exact cosine —
    // the ground truth ADC approximates; recall@5 against it isolates the
    // quantization error from the cell-pruning error (s07 owns the latter)
    val exact = Similarity.s05IvfSearch.fn(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
    val n = exact.count()
    assert(n > 0, "no exact-in-cell neighbors — recall is vacuous")
    val hits = exact.join(adc, Seq("probe_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("__hit"), lit(0L)))).head.getLong(0)
    val recall = hits.toDouble / n
    // measured 0.46 at sf0.001 with M=8, k=16 residual codebooks (vs 0.19
    // for label-mean codebooks); the margin absorbs codebook retuning, not
    // a quantizer regression
    assert(recall >= 0.35, f"s09 recall@5 vs exact-in-cell fell to $recall%.3f (< 0.35)")
  }

  test("s13 SQ8 integer ranking recalls the exact-in-cell cosine ranking") {
    val sq = Similarity.s13Sq8Search.fn(spark, sf)
      .select(col("probe_id"), col("neighbor_id"), lit(1L).as("__hit"))
    // s05 ranks the SAME candidate set (the probe's cell) by exact cosine —
    // recall against it isolates the 8-bit quantization error from the
    // cell-pruning error (s14/s07 own the latter)
    val exact = Similarity.s05IvfSearch.fn(spark, sf)
      .select(col("probe_id"), col("neighbor_id"))
    val n = exact.count()
    assert(n > 0, "no exact-in-cell neighbors — recall is vacuous")
    val hits = exact.join(sq, Seq("probe_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("__hit"), lit(0L)))).head.getLong(0)
    val recall = hits.toDouble / n
    // 8 bits/dim on normalized vectors loses far less than PQ's 4-bit
    // subspaces (s09 pins 0.35 here; the per-dim AFFINE quantizer this
    // replaced measured 0.20 — offsets don't cancel in a dot product);
    // s14 confirms end-to-end: SQ8 recall vs global truth ≈ the exact
    // in-cell families' (0.23 vs s10's 0.21 at sf0.01)
    assert(recall >= 0.75, f"s13 recall@5 vs exact-in-cell fell to $recall%.3f (< 0.75)")
  }

  test("s13 SQ8 scores stay in the integer envelope and are deterministic") {
    val out = Similarity.s13Sq8Search.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // symmetric 8-bit dot: |qdot| ≤ dims·127² — a violation means the
      // quantizer left the int8 range (both engines would agree on garbage)
      val mm = out.agg(min(col("qdot")), max(col("qdot"))).head
      assert(mm.getLong(0) >= -64L * 127 * 127 && mm.getLong(1) <= 64L * 127 * 127,
        s"qdot out of the int8 envelope: $mm")
      val again = Similarity.s13Sq8Search.fn(spark, sf)
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty,
        "s13 is not deterministic across invocations")
    } finally out.unpersist()
  }

  test("s09 releases its pinned training checkpoint") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    Similarity.s09IvfPqAdc.fn(spark, sf) // trains the codebooks eagerly
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    assert(added.isEmpty, s"s09 left ${added.size} persistent RDDs")
  }

  test("s09 quantization is non-vacuous and deterministic") {
    val out = Similarity.s09IvfPqAdc.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // every subspace actually uses MULTIPLE codes (a collapsed codebook
      // would still hash-match the oracle — both engines would agree on
      // garbage)
      (0 until 8).foreach { m =>
        val used = out.select(col(s"c$m")).distinct().count()
        assert(used > 1, s"subspace $m uses $used code(s) — codebook collapsed")
      }
      // run-twice determinism: codebook training passes through driver-side
      // collects (the s08 hazard) — a second invocation must pick the
      // identical neighbors and codes
      val again = Similarity.s09IvfPqAdc.fn(spark, sf)
      assert(out.exceptAll(again).isEmpty && again.exceptAll(out).isEmpty,
        "s09 is not deterministic across invocations")
    } finally out.unpersist()
  }

  test("s15 fuses exactly the brute-recomputed lexical and vector rank lists") {
    // sf0.01, not sf0.001: with only 50 vectors the top-100 vector list
    // covers every non-probe doc, so the "lexical-only" outer-join arm
    // could never occur and its assertion below would be meaningless
    val sf = "/root/testdata/sf0.01"
    // --- brute vector list: exact cosine vs probe 0, FloatVecDot's fold order
    val embs = graft.tables.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def nrm(a: Array[Float]): Double = math.sqrt(dot(a, a))
    val p = embs.find(_._1 == 0L).get._2
    val vtop = embs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, dot(p, v) / (nrm(p) * nrm(v))) }
      .sortBy { case (id, c) => (-c, id) }.take(100).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // --- brute lexical list: t18's integer BM25 surrogate, recomputed flat
    val docs = graft.tables.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.toLowerCase.split("\\s+").toSeq)
    val n = docs.length.toLong
    val tt = docs.map(_._2.length.toLong).sum
    val terms = Seq("vector", "stream", "hash", "window")
    val tf = for {
      (id, tk) <- docs.toSeq; t <- terms
      c = tk.count(_ == t) if c > 0
    } yield (id, t, c.toLong)
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.length.toLong }
    val dl = docs.map { case (id, tk) => id -> tk.length.toLong }.toMap
    val scores = tf.groupBy(_._1).map { case (id, xs) =>
      id -> xs.map { case (_, t, f) =>
        val idf = ((2 * n - 2 * df(t) + 1) * 1000000L) / (2 * df(t) + 1)
        val tfn = (44 * tt * f * 1000L) / (20 * tt * f + 6 * tt + 18 * dl(id) * n)
        idf * tfn
      }.sum
    }
    val ltop = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(100).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    // --- brute fusion
    def rrf(r: Option[Long]): Long = r.map(x => 1000000L / (60L + x)).getOrElse(0L)
    val expected = (vtop.keySet ++ ltop.keySet).toSeq.map { id =>
      (id, ltop.get(id), vtop.get(id), rrf(ltop.get(id)) + rrf(vtop.get(id)))
    }.sortBy { case (id, _, _, rr) => (-rr, id) }.take(20)
    // non-vacuity: the fused list must mix pure-lexical, pure-vector, and
    // both-list docs, or the outer-join/absent-rank semantics are untested
    assert(expected.exists(e => e._2.isEmpty && e._3.nonEmpty), "no vector-only doc in top-20")
    assert(expected.exists(e => e._2.nonEmpty && e._3.isEmpty), "no lexical-only doc in top-20")
    assert(expected.exists(e => e._2.nonEmpty && e._3.nonEmpty), "no both-lists doc in top-20")
    val got = Similarity.s15HybridRrf.fn(spark, sf).collect().toSeq.map { r =>
      (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Long]),
        Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getLong(3))
    }
    assert(got == expected, s"\nspark: $got\nbrute: $expected")
  }

  test("s16 stored-index variant returns exactly s09's rows") {
    // the persisted index holds s09's own encode output and the spec file
    // round-trips the trained literals bit-exactly, so the indexed plan
    // must be result-indistinguishable from the inline one
    def rows(q: graft.queries.QueryDef) =
      q.fn(spark, sf).collect().map(_.toSeq).toSet
    assert(rows(Similarity.s16IvfPqIndexed) == rows(Similarity.s09IvfPqAdc))
  }

  test("s16 index survives a catalog restart: re-registered from warehouse files, not rebuilt") {
    val s09 = Similarity.s09IvfPqAdc.fn(spark, sf).collect().map(_.toSeq).toSet
    // first build (or reuse of an earlier suite's)
    Similarity.ensurePqIndex(spark, sf)
    // simulate a fresh JVM: the in-memory catalog loses the table, but
    // the EXTERNAL table's warehouse files (and spec file) remain — DROP
    // TABLE on external deletes metadata only
    val pqidx = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_pqidx_"))
    assert(pqidx.nonEmpty, "expected the codes index table in the catalog")
    pqidx.foreach(t => spark.sql(s"DROP TABLE $t"))
    val (mode, sec) = Similarity.ensurePqIndex(spark, sf)
    // "reregistered" is the claim: catalog metadata re-declared over the
    // existing files and the spec literals re-parsed — the 16 Lloyd jobs
    // and the corpus-wide encode NEVER re-run (mode proves which branch)
    assert(mode == "reregistered",
      s"restart must reuse the persisted build, not retrain (got $mode)")
    assert(sec == 0.0, "re-registration must not report a build cost")
    assert(Similarity.s16IvfPqIndexed.fn(spark, sf).collect().map(_.toSeq).toSet == s09)
  }

  test("the IVF family reads training from the persisted spec: a fresh JVM runs s05 with ZERO centroid jobs") {
    // a completed build leaves the spec file in the warehouse
    Similarity.ensurePqIndex(spark, sf)
    val expected = Similarity.s05IvfSearch.fn(spark, sf).collect().map(_.toSeq).toSet
    // simulate a fresh JVM: the catalog tables are gone (the warehouse
    // files survive a restart)
    dropCatalogTables("graft_pqidx_")
    val cents0 = Similarity.centroidJobCalls.get()
    val lloyd0 = Similarity.pqTrainCalls.get()
    val got = Similarity.s05IvfSearch.fn(spark, sf).collect().map(_.toSeq).toSet
    assert(Similarity.centroidJobCalls.get() == cents0,
      "s05 ran the s03 centroid jobs although a valid persisted spec exists")
    assert(Similarity.pqTrainCalls.get() == lloyd0,
      "s05 ran Lloyd jobs — it should never train sub-codebooks at all")
    // the spec literals are raw-IEEE-bit round-trips of the trained
    // values, so the plans are literal-identical and results cannot move
    assert(got == expected, "spec-served s05 diverged from trained s05")
  }

  test("s17 delta append runs ZERO training jobs (frozen-spec encode only)") {
    // base index in place (built or reused from an earlier test)
    Similarity.ensurePqIndex(spark, sf)
    val lloyd0 = Similarity.pqTrainCalls.get()
    val cents0 = Similarity.centroidJobCalls.get()
    val (mode, sec) = Similarity.ensurePqDelta(spark, sf, force = true)
    assert(mode == "appended", s"forced delta append must append, got $mode")
    assert(sec > 0.0, "an appended segment must report its append seconds")
    assert(Similarity.pqTrainCalls.get() == lloyd0,
      "the append path ran trainSubCodebooks — codebooks must stay FROZEN")
    assert(Similarity.centroidJobCalls.get() == cents0,
      "the append path ran the s03 centroid jobs — centroids must come from the spec")
  }

  test("s17 append agrees with a one-shot frozen-spec encode of the union") {
    Similarity.ensurePqDelta(spark, sf)
    val stored = Similarity.storedUnionCodesForTest(spark, sf)
      .collect().map(_.toSeq).toSeq
    val oneShot = Similarity.oneShotUnionCodesForTest(spark, sf)
      .collect().map(_.toSeq).toSeq
    // multiset equality: same codes for every vector, no duplicate rows
    // smuggled in by a double-append, nothing missing
    assert(stored.size == oneShot.size,
      s"row counts diverge: stored ${stored.size} vs one-shot ${oneShot.size}")
    assert(stored.sortBy(_.toString()) == oneShot.sortBy(_.toString()))
    // and the delta genuinely participates: appended rows exist
    assert(stored.exists(r => r.head.asInstanceOf[Long] >= 1000000L),
      "no delta rows in the stored union — the segment is empty")
  }

  test("s17 output includes DELTA probes and delta neighbors") {
    val out = Similarity.s17IvfPqAppend.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("probe_id") >= 1000000L).count() > 0,
        "no appended vector acts as a probe — the union probe side is broken")
      assert(out.filter(col("neighbor_id") >= 1000000L).count() > 0,
        "no appended vector surfaces as a neighbor — the delta segment is unread")
    } finally out.unpersist()
  }

  test("s17 delta segment survives a catalog restart: re-registered, not re-encoded") {
    val before = Similarity.s17IvfPqAppend.fn(spark, sf).collect().map(_.toSeq).toSet
    // simulate a fresh JVM: drop the catalog tables (external — files
    // survive)
    dropCatalogTables("graft_pqidx_")
    val (mode, sec) = Similarity.ensurePqDelta(spark, sf)
    assert(mode == "reregistered",
      s"restart must reuse the persisted delta segment, got $mode")
    assert(sec == 0.0, "re-registration must not report an append cost")
    assert(Similarity.s17IvfPqAppend.fn(spark, sf).collect().map(_.toSeq).toSet == before)
  }

  test("s17 delta segment invalidates with the base corpus: stale fingerprint re-encodes") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s17_fp").toString
    try {
      writeVecs(dir, 0)
      assert(Similarity.ensurePqDelta(spark, dir)._1 == "appended")
      assert(Similarity.ensurePqDelta(spark, dir)._1 == "cached")
      // corpus regenerated "between JVMs": the delta's recorded fingerprint
      // (base fp + delta tag) no longer matches — serving old delta codes
      // against REBUILT codebooks would rank garbage; it must re-encode
      writeVecs(dir, 7)
      dropCatalogTables("graft_pqidx_")
      val (m2, _) = Similarity.ensurePqDelta(spark, dir)
      assert(m2 == "appended",
        s"a changed base corpus must force a delta re-encode, got $m2")
    } finally cleanUp(dir)
  }

  test("s16 index invalidates on corpus change: stale fingerprint forces a rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_s16_fp").toString
    def rows() = Similarity.s16IvfPqIndexed.fn(spark, dir).collect().map(_.toSeq).toSet
    try {
      writeVecs(dir, 0)
      val (m1, _) = Similarity.ensurePqIndex(spark, dir)
      assert(m1 == "built")
      // same JVM, same catalog: a second call is free
      assert(Similarity.ensurePqIndex(spark, dir)._1 == "cached")
      // corpus rewritten IN THIS JVM with the catalog table still
      // registered and no hook called: the recorded fingerprint no longer
      // matches, so it must REBUILD and serve what a forced build serves
      writeVecs(dir, 7)
      val (mJvm, _) = Similarity.ensurePqIndex(spark, dir)
      assert(mJvm == "built", s"an in-JVM corpus rewrite must force a rebuild, got $mJvm")
      val served = rows()
      assert(served.nonEmpty, "s16 returned no rows — the comparison is vacuous")
      assert(Similarity.ensurePqIndex(spark, dir, force = true)._1 == "built")
      assert(served == rows(), "s16 after an in-JVM rewrite differs from a forced build")
      // corpus regenerated BETWEEN "JVMs": rewrite the parquet and drop the
      // catalog entry (files + spec survive) — the source fingerprint no
      // longer matches, so serving the old codes would be the stale-index
      // bug; it must REBUILD
      writeVecs(dir, 14)
      dropCatalogTables("graft_pqidx_")
      val (m2, _) = Similarity.ensurePqIndex(spark, dir)
      assert(m2 == "built",
        s"a changed corpus fingerprint must force a rebuild, got $m2")
    } finally cleanUp(dir)
  }

  test("s18 compaction folds with ZERO training/encode jobs and equals s17 exactly") {
    Similarity.ensurePqDelta(spark, sf)
    val lloyd0 = Similarity.pqTrainCalls.get()
    val cents0 = Similarity.centroidJobCalls.get()
    val (mode, sec) = Similarity.ensurePqCompact(spark, sf, force = true)
    assert(mode == "compacted", s"forced compaction must compact, got $mode")
    assert(sec > 0.0, "a fold must report its seconds")
    assert(Similarity.pqTrainCalls.get() == lloyd0 &&
      Similarity.centroidJobCalls.get() == cents0,
      "compaction ran a training job — it must be a pure bucketed rewrite of frozen codes")
    // the folded table is ROW-IDENTICAL to the union it replaces (multiset)
    val folded = Similarity.pqCompactedIndex(spark, sf)._1
      .collect().map(_.toSeq).toSeq.sortBy(_.toString())
    val union = Similarity.storedUnionCodesForTest(spark, sf)
      .collect().map(_.toSeq).toSeq.sortBy(_.toString())
    assert(folded == union, "compacted generation diverges from base ∪ segment")
    // ...so the search over it equals s17's output exactly
    val s18 = Similarity.s18IvfPqCompact.fn(spark, sf).collect().map(_.toSeq).toSet
    val s17 = Similarity.s17IvfPqAppend.fn(spark, sf).collect().map(_.toSeq).toSet
    assert(s18 == s17, "s18 (compacted) ranks differently from s17 (union) — fold corrupted codes")
    // and the generation is reused, not re-folded
    assert(Similarity.ensurePqCompact(spark, sf)._1 == "cached")
  }

  test("a SECOND segment appends and folds: compact == one-shot frozen-spec union encode") {
    val (_, meta) = Similarity.pqStoredIndex(spark, sf)
    // day 2's ingest (rotation permutation, ids past 2M) — frozen-spec
    // encode, no training (covered for seg 1 above; the counters pin it
    // here for the generalized path too)
    val lloyd0 = Similarity.pqTrainCalls.get()
    Similarity.pqDeltaSegment(spark, sf, meta, Similarity.PqDelta2)
    assert(Similarity.pqTrainCalls.get() == lloyd0)
    // fold base + BOTH segments into a new generation (the fp records the
    // ordered tags, so the seg1-only generation from the previous test is
    // correctly treated as stale and replaced)
    val (codes, _) = Similarity.pqCompactedIndex(
      spark, sf, Seq(Similarity.PqDelta1, Similarity.PqDelta2))
    val folded = codes.collect().map(_.toSeq).toSeq.sortBy(_.toString())
    val oneShot = Similarity.oneShotUnionCodesForTest(
      spark, sf, Seq(Similarity.PqDelta1, Similarity.PqDelta2))
      .collect().map(_.toSeq).toSeq.sortBy(_.toString())
    assert(folded.size == oneShot.size,
      s"row counts diverge: folded ${folded.size} vs one-shot ${oneShot.size}")
    assert(folded == oneShot,
      "multi-segment fold diverges from a from-scratch frozen-spec encode of the union")
    // both segments' id ranges are present and disjoint by construction
    val ids = folded.map(_.head.asInstanceOf[Long])
    assert(ids.exists(i => i >= 1000000L && i < 2000000L), "segment 1 missing from the fold")
    assert(ids.exists(_ >= 2000000L), "segment 2 missing from the fold")
    assert(ids.distinct.size == ids.size, "delta id collision — the offset discipline failed")
    // restore the declared seg1-only generation for any later reader
    Similarity.ensurePqCompact(spark, sf, force = true)
  }

  test("a base REBUILD invalidates delta segments and the compacted generation") {
    // ADVICE r15 (medium): with a persistent metastore, a corpus change
    // self-heals the BASE index but — before round 15 — kept serving
    // delta/compact codes encoded against the dropped codebooks. The
    // persistent-catalog scenario: tables stay registered while the base
    // fingerprint goes stale.
    val dir = java.nio.file.Files.createTempDirectory("graft_s18_fp").toString
    try {
      writeVecs(dir, 0)
      assert(Similarity.ensurePqDelta(spark, dir)._1 == "appended")
      assert(Similarity.ensurePqCompact(spark, dir)._1 == "compacted")
      // corpus regenerated; catalog tables deliberately NOT dropped
      writeVecs(dir, 7)
      val (bm, _) = Similarity.ensurePqIndex(spark, dir)
      assert(bm == "built", s"stale base must rebuild, got $bm")
      // the derived layers must re-derive against the NEW codebooks —
      // serving the old segment would rank stale ADC silently
      val (dm, _) = Similarity.ensurePqDelta(spark, dir)
      assert(dm == "appended",
        s"delta must re-encode after a base rebuild, got $dm")
      val (cm, _) = Similarity.ensurePqCompact(spark, dir)
      assert(cm == "compacted",
        s"compacted generation must re-fold after a base rebuild, got $cm")
    } finally cleanUp(dir)
  }

  test("q58 serving: base∪delta visible, candidate read cell-pruned, occupancy bounded") {
    Similarity.ensurePqDelta(spark, sf)
    val batch = Similarity.unionProbeVecs(spark, sf)
    val out = Similarity.annEnrichBatch(spark, sf, batch).cache()
    try {
      assert(out.count() > 0)
      // appended vectors are probes AND neighbors — the online path sees
      // what s17 appended (the round-15 verdict's "serve a stale index")
      assert(out.filter(col("probe_id") >= 1000000L).count() > 0,
        "no appended vector probes the online path")
      assert(out.filter(col("neighbor_id") >= 1000000L).count() > 0,
        "appended vectors invisible to the online path — it serves the stale base")
      // and the batch path agrees with s17's batch query row-for-row
      // (same probes, same index, same ranking)
      val s17 = Similarity.s17IvfPqAppend.fn(spark, sf)
      assert(out.exceptAll(s17).isEmpty && s17.exceptAll(out).isEmpty,
        "online serving diverges from the declared s17 ranking")
    } finally out.unpersist()
    // serving occupancy (the gate's gauge, exercised here so a fixture
    // regression is caught before a scale run): candidates/probe is
    // bounded — a corpus-scale blowup here is the full-scan regression
    val (occProbe, occRing) = Similarity.annServeCandPerProbe(spark, sf, batch.limit(5))
    assert(occProbe > 0.0 && occProbe < 10000.0,
      f"serving occupancy $occProbe%.1f/probe out of range")
    // at fixture scale bits = 0, so the ring is 1 row/probe and the two
    // gauges coincide — the per-ring-row number is the one the gate's 3×
    // flatness bound rides (the probe ring is a deliberate log factor)
    assert(occRing > 0.0 && occRing <= occProbe + 1e-9,
      f"per-ring-row occupancy $occRing%.1f inconsistent with $occProbe%.1f/probe")
  }

  test("serving parity across index layouts: append → serve → compact → serve is result-identical") {
    // the LSM lifecycle's user-facing guarantee (round-15 verdict #7):
    // an operator may compact mid-stream and the online path's output
    // must not move — union (base + delta segment), the compacted
    // generation, and a from-scratch frozen-spec encode of the unioned
    // corpus are three PHYSICAL layouts of one logical index
    Similarity.ensurePqDelta(spark, sf)
    val batch = Similarity.unionProbeVecs(spark, sf).limit(8)
    val (mode, _) = Similarity.ensurePqCompact(spark, sf, force = true)
    assert(mode == "compacted", s"forced compaction did not fold (mode=$mode)")
    val served = Similarity.annServeAllLayoutsForTest(spark, sf, batch)
    assert(served("union").nonEmpty, "parity is vacuous: served batch is empty")
    assert(served("union") == served("compacted"),
      "compaction changed the served ranking — the fold is not a pure rewrite")
    assert(served("union") == served("oneshot"),
      "segmented serving diverges from the one-shot union encode")
  }

  test("s19 filtered ANN: every neighbor qualifies, and pre-filter semantics beat post-filtering") {
    import org.apache.spark.sql.functions.{col => c}
    val out = Similarity.s19AnnFiltered.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // every served neighbor passes the predicate — the filter is
      // enforced, not advisory
      val docs = graft.tables.Tables.documents(spark, sf)
        .select(c("doc_id"), c("lang"))
      val offLang = out.join(docs, out("neighbor_id") === docs("doc_id"))
        .filter(c("lang") =!= "en").count()
      assert(offLang == 0, s"$offLang neighbors violate the lang='en' predicate")
      // non-vacuous pre-filter: some served neighbor is NOT in the
      // unfiltered s05 top-k for its probe — post-filtering an unfiltered
      // top-k would have missed it (the classic filtered-ANN failure)
      val unfiltered = Similarity.s05IvfSearch.fn(spark, sf)
        .select(c("probe_id"), c("neighbor_id"))
      val beyond = out.select(c("probe_id"), c("neighbor_id"))
        .exceptAll(unfiltered).count()
      assert(beyond > 0,
        "filter never reached past the unfiltered top-k — pre-filter semantics unexercised")
    } finally out.unpersist()
  }

  test("s20 stored-index filtered search: qualifying-only, pre-filter past the unfiltered top-k") {
    val out = Similarity.s20AnnFilteredIndexed.fn(spark, sf).cache()
    try {
      assert(out.count() > 0)
      // the PERSISTED lang column must agree with the source of truth:
      // every served neighbor passes the predicate per documents.parquet
      val docs = graft.tables.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"))
      val offLang = out.join(docs, out("neighbor_id") === docs("doc_id"))
        .filter(col("lang") =!= Similarity.FilterLang).count()
      assert(offLang == 0, s"$offLang neighbors violate the persisted-lang predicate")
      // true pre-filter on the stored index: some qualifying neighbor sits
      // past the UNFILTERED s16 top-k — post-filtering would miss it
      val unfiltered = Similarity.s16IvfPqIndexed.fn(spark, sf)
        .select(col("probe_id"), col("neighbor_id"))
      val beyond = out.select(col("probe_id"), col("neighbor_id"))
        .exceptAll(unfiltered).count()
      assert(beyond > 0,
        "s20 never reached past s16's unfiltered top-k — pre-filter semantics unexercised")
    } finally out.unpersist()
  }

  test("q59 filtered serving: layout parity, source-of-truth qualify (delta included), pre-filter") {
    Similarity.ensurePqDelta(spark, sf)
    Similarity.ensurePqCompact(spark, sf)
    val batch = Similarity.unionProbeVecs(spark, sf).limit(8)
    // the three physical layouts must serve the FILTERED batch identically
    // (the q58 parity contract composed with the predicate — an operator
    // may compact mid-stream under filtered serving too)
    val served = Similarity.annServeAllLayoutsForTest(
      spark, sf, batch, Some(Similarity.FilterLang))
    assert(served("union").nonEmpty, "filtered parity is vacuous: served batch is empty")
    assert(served("union") == served("compacted"),
      "compaction changed the FILTERED served ranking")
    assert(served("union") == served("oneshot"),
      "filtered segmented serving diverges from the one-shot union encode")
    val out = Similarity.annEnrichBatch(
      spark, sf, batch, langFilter = Some(Similarity.FilterLang)).cache()
    try {
      // every neighbor — appended delta vectors included — qualifies by
      // its SOURCE document's lang (the offset-stripped id, the invariant
      // withSourceLang persists and q59's oracle checks cross-engine)
      val srcId = (col("neighbor_id") -
        lit(1000000L) * ((col("neighbor_id") % 10000000L) / 1000000L).cast("long"))
      val docs = graft.tables.Tables.documents(spark, sf)
        .select(col("doc_id"), col("lang"))
      val offLang = out.withColumn("__src", srcId)
        .join(docs, col("__src") === col("doc_id"))
        .filter(col("lang") =!= Similarity.FilterLang).count()
      assert(offLang == 0, s"$offLang served neighbors violate the predicate at the source")
      // delta candidates participate in filtered serving (non-vacuous
      // union: the predicate must not silently exclude the segment)
      assert(out.filter(col("neighbor_id") >= 1000000L).count() > 0,
        "no appended vector qualifies — filtered serving excludes the delta segment")
      // pre-filter on the serving path: some qualifying neighbor is absent
      // from the UNFILTERED serve of the same batch
      val unfiltered = Similarity.annEnrichBatch(spark, sf, batch)
        .select(col("probe_id"), col("neighbor_id"))
      val beyond = out.select(col("probe_id"), col("neighbor_id"))
        .exceptAll(unfiltered).count()
      assert(beyond > 0,
        "filtered serving never reached past the unfiltered top-k — post-filter in disguise")
    } finally out.unpersist()
  }
}
