package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.kernel.{Fixtures, SparkSpec}

class StreamingSpec extends SparkSpec {

  test("windowedEventCounts matches the batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      (Timestamp.valueOf("2026-01-01 01:00:00"), "click", 1.0),
      (Timestamp.valueOf("2026-01-01 02:00:00"), "click", 2.0),
      (Timestamp.valueOf("2026-01-01 03:00:00"), "view", 5.0),
      (Timestamp.valueOf("2026-01-02 01:00:00"), "click", 7.0))

    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(events: _*)
    val q = StreamJobs
      .windowedEventCounts(stream.toDF().toDF("ts", "event_type", "value"))
      .writeStream.format("memory").queryName("wincounts")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("wincounts")
      .select($"window_start".cast("string"), $"event_type", $"n_events", $"sum_value")
      .as[(String, String, Long, Double)].collect().toSet
    assert(got == Set(
      ("2026-01-01 00:00:00", "click", 2L, 3.0),
      ("2026-01-01 00:00:00", "view", 1L, 5.0),
      ("2026-01-02 00:00:00", "click", 1L, 7.0)))
  }

  test("sessionizeStream: in-batch gap closes a session with q15 semantics") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[StreamJobs.SessionEvent]
    // user 7: two events 30min apart, then a 2.5h gap → first session closes
    // in-batch; the open tail (1 event) stays in state
    stream.addData(
      StreamJobs.SessionEvent(7L, Timestamp.valueOf("2026-01-01 01:00:00"), 1.0),
      StreamJobs.SessionEvent(7L, Timestamp.valueOf("2026-01-01 01:30:00"), 2.0),
      StreamJobs.SessionEvent(7L, Timestamp.valueOf("2026-01-01 04:00:00"), 4.0))
    val q = StreamJobs.sessionizeStream(stream.toDS())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    q.processAllAvailable()

    val got = spark.table("sessions")
      .as[StreamJobs.ClosedSession].collect().toSet
    val us = (s: String) => Timestamp.valueOf(s).getTime * 1000L
    assert(got == Set(StreamJobs.ClosedSession(
      7L, us("2026-01-01 01:00:00"), us("2026-01-01 01:30:00"), 2L, 3.0)))

    // a much later event advances the watermark past the tail's timeout —
    // the open session closes via EventTimeTimeout, not an observed gap
    stream.addData(
      StreamJobs.SessionEvent(8L, Timestamp.valueOf("2026-01-01 12:00:00"), 0.0))
    q.processAllAvailable()
    // timeouts fire on the NEXT batch after the watermark moves
    stream.addData(
      StreamJobs.SessionEvent(8L, Timestamp.valueOf("2026-01-01 12:00:01"), 0.0))
    q.processAllAvailable()
    q.stop()
    val after = spark.table("sessions").as[StreamJobs.ClosedSession].collect().toSet
    assert(after.contains(StreamJobs.ClosedSession(
      7L, us("2026-01-01 04:00:00"), us("2026-01-01 04:00:00"), 1L, 4.0)))
  }

  test("epochMicros keeps the sub-ms part getTime-millis arithmetic truncates") {
    val ts = Timestamp.valueOf("2026-01-01 01:02:03")
    ts.setNanos(778549000) // .778549s — the events table really has micros
    assert(StreamJobs.epochMicros(ts) == ts.getTime / 1000 * 1000000L + 778549L)
    assert(StreamJobs.epochMicros(ts) % 1000 == 549L,
      "getTime*1000 would have dropped these micros and broken q48's oracle parity")
  }

  test("dedupStream keeps the first copy per content hash within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    stream.addData(
      (Timestamp.valueOf("2026-01-01 01:00:00"), 1L, "alpha"),
      (Timestamp.valueOf("2026-01-01 01:05:00"), 2L, "alpha"), // dup content
      (Timestamp.valueOf("2026-01-01 01:10:00"), 3L, "beta"))
    val q = StreamJobs
      .dedupStream(stream.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    q.processAllAvailable()

    val got = spark.table("dedup").select($"doc_id", $"text")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "alpha"), (3L, "beta")))

    // another duplicate arriving later in the same watermark window drops too
    stream.addData((Timestamp.valueOf("2026-01-01 01:20:00"), 4L, "beta"))
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").count() == 2)
  }

  test("dedupStream re-admits content once the watermark evicts its state (bounded-state tradeoff)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, Long, String)]
    stream.addData((Timestamp.valueOf("2026-01-01 01:00:00"), 1L, "alpha"))
    val q = StreamJobs
      .dedupStream(stream.toDF().toDF("ts", "doc_id", "text"), watermark = "10 minutes")
      .writeStream.format("memory").queryName("dedup_evict")
      .outputMode("append").start()
    q.processAllAvailable()

    // push the watermark far past alpha's ts + 10min, evicting its state…
    stream.addData((Timestamp.valueOf("2026-01-01 05:00:00"), 2L, "beta"))
    q.processAllAvailable()
    // …so a re-arrival of the same content is ADMITTED, not deduped: the
    // state is bounded by (ingest rate × watermark), and the price is
    // exactly this — duplicates further apart than the watermark survive
    // (a downstream batch d01 pass catches them)
    stream.addData((Timestamp.valueOf("2026-01-01 05:01:00"), 3L, "alpha"))
    q.processAllAvailable(); q.stop()

    val ids = spark.table("dedup_evict").select($"doc_id")
      .as[Long].collect().toSet
    assert(ids == Set(1L, 2L, 3L))
  }

  test("intervalJoinStream pairs events within the bound and matches the batch join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // left: incidents; right: observations on the same key — within 1 hour
    val lData = Seq(
      (Timestamp.valueOf("2026-01-01 01:00:00"), 1L, "inc1"),
      (Timestamp.valueOf("2026-01-01 05:00:00"), 1L, "inc2"),
      (Timestamp.valueOf("2026-01-01 01:00:00"), 2L, "inc3"))
    val rData = Seq(
      (Timestamp.valueOf("2026-01-01 01:00:00"), 1L, 10.0), // at-instant: in
      (Timestamp.valueOf("2026-01-01 01:59:00"), 1L, 11.0), // within: in
      (Timestamp.valueOf("2026-01-01 02:01:00"), 1L, 12.0), // past bound: out
      (Timestamp.valueOf("2026-01-01 00:59:00"), 1L, 13.0), // before left: out
      (Timestamp.valueOf("2026-01-01 01:30:00"), 2L, 14.0)) // other key: in for inc3

    val ls = MemoryStream[(Timestamp, Long, String)]
    val rs = MemoryStream[(Timestamp, Long, Double)]
    ls.addData(lData: _*); rs.addData(rData: _*)
    val joined = StreamJobs.intervalJoinStream(
      ls.toDF().toDF("l_ts", "k", "name"),
      rs.toDF().toDF("r_ts", "k", "obs"),
      key = "k", leftTs = "l_ts", rightTs = "r_ts", within = "1 hour")
    val q = joined.writeStream.format("memory").queryName("ivjoin")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()

    val got = spark.table("ivjoin").select($"name", $"r_obs")
      .as[(String, Double)].collect().toSet
    assert(got == Set(("inc1", 10.0), ("inc1", 11.0), ("inc3", 14.0)))

    // semantics equal the batch interval join on the same data
    val batch = lData.toDF("l_ts", "k", "name").as("l")
      .join(rData.toDF("r_ts", "k", "obs").as("r"),
        $"l.k" === $"r.k" && $"r_ts" >= $"l_ts" &&
          $"r_ts" <= $"l_ts" + org.apache.spark.sql.functions.expr("INTERVAL 1 hour"))
      .select($"name", $"obs").as[(String, Double)].collect().toSet
    assert(got == batch)
  }

  test("heavy-hitters sketch aggregates incrementally across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the sketch's mergeable state is exactly what streaming aggregation
    // needs: each micro-batch folds into the same bounded buffer
    val stream = MemoryStream[Long]
    val sketch = udaf(new graft.functions.HeavyHitters(64))
    val q = stream.toDF().toDF("k")
      .agg(sketch(col("k")).as("hh"))
      .select(explode(col("hh")).as(Seq("k", "cnt")))
      .writeStream.format("memory").queryName("hh_stream")
      .outputMode("complete").start()
    stream.addData(Seq.fill(5)(7L) :+ 1L: _*)
    q.processAllAvailable()
    stream.addData(Seq.fill(3)(7L) :+ 2L: _*)
    q.processAllAvailable(); q.stop()

    val got = spark.table("hh_stream").as[(Long, Long)].collect().toMap
    // capacity 64 > 3 distinct keys: exact counts across both batches
    assert(got == Map(7L -> 8L, 1L -> 1L, 2L -> 1L))
  }

  test("streamingKernel on the staged sf0.001 fact is byte-identical to the batch kernel") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.queries.BillingDemo
    import graft.kernel.{Calculate, Conform}
    // the E1-as-streaming guarantee (SURVEY §2.8): the nightly batch and a
    // file-drop stream of the SAME fact must produce the SAME table —
    // kernel parity end-to-end, not per-formula
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-stream-parity").toString
    val fact = BillingDemo.fact(spark, sf)
    val dim = BillingDemo.dim(spark, sf)
    val etl = lit("2026-02-01 00:00:00").cast("timestamp")
    // stage as ONE file: AvailableNow then processes the whole drop as one
    // micro-batch, so the dynamic-overwrite sink can't drop earlier batches
    fact.coalesce(1).write.parquet(s"$dir/staged")

    val stream = spark.readStream.schema(fact.schema).parquet(s"$dir/staged")
    val q = StreamJobs.streamingKernel(
      stream, dim, s"$dir/out", s"$dir/ckpt",
      BillingDemo.demoExtraDiscount, etlTime = etl).start()
    assert(q.awaitTermination(120000), "stream did not finish within 120s")

    val batch = Conform.conformToTarget(
      Calculate.calculateWithCredits(fact, dim, BillingDemo.demoExtraDiscount), etl)
    // partition columns come back from the directory layout — align their
    // types to the batch schema before the exact (bitwise-double) compare
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try {
      val streamed = spark.read.parquet(s"$dir/out")
        .select(batch.columns.map(c => col(c).cast(batch.schema(c).dataType)): _*)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "streaming kernel output diverged from the batch kernel on the same fact")
    } finally spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")
  }

  test("streamingKernel resumes from its checkpoint across a restart and converges to the batch kernel") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.queries.BillingDemo
    import graft.kernel.{Calculate, Conform}
    // the operational guarantee the reference's delete-then-insert existed
    // for (main.py:177-192): a job killed partway and restarted must
    // converge to the SAME table as one uninterrupted run. Deterministic
    // mid-stream stop: stage only the first half of the months, run the
    // AvailableNow query to completion (it STOPS with the source
    // half-consumed), drop the remaining months into the source dir, then
    // restart against the SAME checkpoint — the restarted query must pick
    // up exactly the unseen files, and the final table must equal the batch
    // kernel over the whole fact. (Phases split by invoice_month, so the
    // dynamic-overwrite sink writes disjoint partitions per phase.)
    val sf = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("graft-stream-recovery").toString
    val fact = BillingDemo.fact(spark, sf)
    val dim = BillingDemo.dim(spark, sf)
    val etl = lit("2026-02-01 00:00:00").cast("timestamp")
    val months = fact.select("invoice_month").distinct()
      .collect().map(_.getString(0)).sorted
    assert(months.length >= 2, "fixture needs >=2 months for a mid-stream restart")
    val (first, rest) = months.splitAt(months.length / 2)

    def stage(ms: Seq[String]): Unit =
      fact.filter(col("invoice_month").isin(ms: _*)).coalesce(1)
        .write.mode("append").parquet(s"$dir/staged")
    def runToCompletion(): Unit = {
      val stream = spark.readStream.schema(fact.schema).parquet(s"$dir/staged")
      val q = StreamJobs.streamingKernel(
        stream, dim, s"$dir/out", s"$dir/ckpt",
        BillingDemo.demoExtraDiscount, etlTime = etl).start()
      assert(q.awaitTermination(120000), "stream did not finish within 120s")
    }

    stage(first)
    runToCompletion() // phase 1: first half only, then the query exits
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    try {
      val phase1Rows = spark.read.parquet(s"$dir/out").count()
      val batch = Conform.conformToTarget(
        Calculate.calculateWithCredits(fact, dim, BillingDemo.demoExtraDiscount), etl)
      assert(phase1Rows > 0 && phase1Rows < batch.count(),
        "phase 1 should leave the job genuinely half-done")

      stage(rest)
      runToCompletion() // restart from the same checkpoint: only new files run

      val streamed = spark.read.parquet(s"$dir/out")
        .select(batch.columns.map(c => col(c).cast(batch.schema(c).dataType)): _*)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "restarted streaming kernel diverged from the uninterrupted batch kernel")
    } finally spark.conf.unset("spark.sql.sources.partitionColumnTypeInference.enabled")
  }

  test("a drain whose batch fails stops its query and removes its checkpoint") {
    val staged = Files.createTempDirectory("graft-failing-drain").toString + "/src"
    spark.range(3).coalesce(1).write.parquet(staged)
    var run = ""
    try {
      val e = intercept[Exception] {
        StreamQueries.drain(spark, "failing", staged) { (r, source) =>
          run = r
          source().writeStream.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) =>
            throw new IllegalStateException("injected batch failure")
          }
        }
      }
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.isInstanceOf[IllegalStateException]), s"unexpected failure: $e")
      assert(spark.streams.active.isEmpty, "the failed drain left its query running")
      assert(run.nonEmpty && !Files.exists(java.nio.file.Paths.get(run, "ckpt")),
        s"the failed drain left its checkpoint at $run/ckpt")
    } finally graft.pipeline.Bucketing.deleteRecursively(new java.io.File(staged).getParent)
  }

  test("q39 (the DECLARED streaming-kernel query) equals q22 row-for-row") {
    import graft.queries.KernelQueries
    // the oracle-checked entry (round-7 verdict #4): its fn stages, drains
    // with AvailableNow, reads back and conforms — the result must be
    // exactly the batch kernel's declared query, because they share one
    // kernel and one oracle SQL string (verbatim)
    val sf = "/root/testdata/sf0.001"
    val streamed = KernelQueries.q39KernelStreaming.fn(spark, sf)
    val batch = KernelQueries.q22KernelFull.fn(spark, sf)
    assert(KernelQueries.q39KernelStreaming.oracle == KernelQueries.q22KernelFull.oracle)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "declared streaming kernel diverged from the declared batch kernel")
  }

  test("q50 (the DECLARED stream-stream interval join) equals the batch join") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val streamed = StreamQueries.q50IntervalJoinStream.fn(spark, sf).cache()
    try {
      val e = graft.tables.Tables.events(spark, sf)
      val v = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("v_ts"), col("event_id").as("view_id"))
      val p = e.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("purchase_id"), col("value"))
      val batch = v.join(p,
          v("user_id") === p("p_user") && col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 6 hours"))
        .select(col("user_id"), col("view_id"), col("purchase_id"),
          unix_micros(col("v_ts")).as("view_us"), unix_micros(col("p_ts")).as("purchase_us"),
          graft.queries.Stable.r4(col("value")).as("purchase_value"))
      assert(streamed.count() > 0, "no view→purchase pairs at sf0.001 — the check is vacuous")
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        "declared streaming interval join diverged from the batch join")
    } finally streamed.unpersist()
  }

  test("q51 (the DECLARED streaming dedup) emits exactly the distinct content hashes, once each") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = StreamQueries.q51DedupStream.fn(spark, sf)
      .collect().map(_.getString(0)).toSeq
    val want = graft.tables.Tables.documents(spark, sf)
      .select(md5(col("text").cast("binary"))).distinct()
      .collect().map(_.getString(0)).toSeq
    assert(got.size == got.distinct.size, "a content hash was emitted twice")
    assert(got.sorted == want.sorted,
      "streamed dedup set diverged from the batch distinct-hash set")
  }

  test("q57 (the DECLARED streaming near-dup gate) equals the batch survivor set") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val got = StreamQueries.q57NearDupStreamGate.fn(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    // batch truth: d16's incoming rows with no verified history match
    val want = graft.operators.Dedup.d16IncrementalNearDup.fn(spark, sf)
      .filter(col("n_matches") === 0).select(col("in_id"))
      .collect().map(_.getLong(0)).toSeq
    assert(got.nonEmpty, "every twin matched history — the gate is vacuous here")
    assert(got.size == got.distinct.size, "a survivor was emitted twice")
    assert(got.sorted == want.sorted,
      "streamed near-dup survivor set diverged from the batch (d16) survivor set")
    // and the machinery probe's disjoint-vocab 1-row batch survives
    val probe = StreamQueries.q57MachineryProbe(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(probe == Seq(100001L), s"probe survivor set: $probe")
  }

  test("streamingKernel per-batch output equals the batch kernel") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val f = Fixtures.fact("A")
    val dim = Seq(Fixtures.Rule("2026-01", "A", mode = Some(2), price = Some(2.0))).toDF()
    val dir = Files.createTempDirectory("graft-stream").toString

    val stream = MemoryStream[Fixtures.Fact]
    stream.addData(f)
    val q = StreamJobs.streamingKernel(
      stream.toDF(), dim, s"$dir/out", s"$dir/ckpt", Map.empty).start()
    assert(q.awaitTermination(60000), "stream did not finish within 60s")

    val streamed = spark.read.parquet(s"$dir/out")
    assert(streamed.count() == 1)
    val r = streamed.collect().head
    assert(r.getAs[Double]("external_consumption") == 20.0) // usage 10 × price 2
    assert(r.getAs[Int]("mode") == 2)
    // all 37 target columns present (partition cols come back on read)
    assert(streamed.columns.toSet == graft.kernel.BillingSchema.TargetColumns.toSet)
  }
}
