package graft.pipeline

import java.nio.file.Files

import graft.kernel.SparkSpec

class BucketingSpec extends SparkSpec {

  test("join of two co-bucketed tables plans with zero Exchange; groupBy on the bucket key too") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bucketing").toString
    val a = (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "av")
    val b = (1 to 1000).map(i => (i.toLong % 97, i.toDouble)).toDF("k", "bv")
    Bucketing.writeBucketed(a, "bk_a", Seq("k"), 8, Some(s"$dir/a"))
    Bucketing.writeBucketed(b, "bk_b", Seq("k"), 8, Some(s"$dir/b"))
    try {
      val ta = Bucketing.readBucketed(spark, "bk_a")
      val tb = Bucketing.readBucketed(spark, "bk_b")
      // force the shuffle-join path — broadcast would hide the bucket win
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try {
        val joined = ta.join(tb, Seq("k"))
        val jplan = joined.queryExecution.executedPlan.toString
        assert(!jplan.contains("Exchange"),
          s"co-bucketed join still shuffles:\n$jplan")
        // correctness unaffected by the bucketed layout
        assert(joined.count() ==
          a.join(b, Seq("k")).count())

        val agg = ta.groupBy("k").count()
        val aplan = agg.queryExecution.executedPlan.toString
        assert(!aplan.contains("Exchange"),
          s"bucket-key aggregation still shuffles:\n$aplan")
        assert(agg.count() == 97)
      } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_a")
      spark.sql("DROP TABLE IF EXISTS bk_b")
    }
  }

  test("bucket pruning: an equality filter on the bucket key reads a subset of bucket files") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bucketing-prune").toString
    val a = (1 to 2000).map(i => (i.toLong % 97, i.toLong)).toDF("k", "av")
    Bucketing.writeBucketed(a, "bk_p", Seq("k"), 8, Some(s"$dir/a"))
    // DisableUnnecessaryBucketedScan turns the bucketed scan off for a
    // plan with no interesting distribution requirement, which also drops
    // bucket PRUNING — pin the pruning path with the auto-disable off
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", false)
    try {
      val filtered = Bucketing.readBucketed(spark, "bk_p").filter($"k" === 5L)
      val plan = filtered.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
        s"no bucket pruning in plan:\n$plan")
      assert(filtered.count() == a.filter($"k" === 5L).count())
    } finally {
      spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
      spark.sql("DROP TABLE IF EXISTS bk_p")
    }
  }

  test("ensureIndex decides from disk: built, cached, reregistered, rebuilt on a new fingerprint or a torn spec") {
    import spark.implicits._
    val tables = Seq("bk_idx_a" -> Seq("k"), "bk_idx_b" -> Seq("v"))
    var builds = 0
    def ensure(fp: String) = Bucketing.ensureIndex(spark, tables, 4, "_SPEC", fp) {
      builds += 1
      val df = (1 to 50).map(i => (i.toLong % 7, i.toLong)).toDF("k", "v")
      Bucketing.IndexBuild(Seq(df, df), spec = "extra line 1\nextra line 2")
    }
    try {
      val built = ensure("fp1")
      assert((built.mode, builds) == ("built", 1) && built.seconds > 0.0)
      assert(built.frames.map(_.count()) == Seq(50L, 50L))
      assert(ensure("fp1").mode == "cached" && builds == 1)
      // a fresh catalog over completed files: re-declared, bucket spec intact
      spark.sql("DROP TABLE bk_idx_b")
      val rereg = ensure("fp1")
      assert((rereg.mode, rereg.seconds, builds) == ("reregistered", 0.0, 1))
      assert(rereg.spec == "extra line 1\nextra line 2")
      assert(spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier("bk_idx_b")).bucketSpec.map(_.numBuckets)
        .contains(4))
      assert(rereg.frames(1).count() == 50L)
      // other sources: rebuilt although every table is registered
      assert(ensure("fp2").mode == "built" && builds == 2)
      // a spec file cut short of its fingerprint line never validates
      val spec = java.nio.file.Paths.get(Bucketing.indexLocation(spark, "bk_idx_a"), "_SPEC")
      Files.writeString(spec, "fp")
      assert(ensure("fp2").mode == "built" && builds == 3)
    } finally Bucketing.dropIndex(spark, tables.map(_._1))
  }

  test("what a query stages follows a source rewritten in place: q36, q39, q41, q51") {
    import graft.operators.Reconcile
    import graft.queries.KernelQueries
    import graft.streaming.StreamQueries
    val dir = Files.createTempDirectory("graft-restaged").toString
    def same(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    // replace table `t` (one parquet file) with the rows of `keep`
    def halve(t: String, keep: org.apache.spark.sql.DataFrame): Unit = {
      val tmp = s"$dir/_rewrite"
      keep.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-")).head
      Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Bucketing.deleteRecursively(tmp)
    }
    // the q22 row count, after checking every staged entry against its twin
    def check(): Long = {
      assert(same(Reconcile.q36BucketedReconcile.fn(spark, dir),
        Reconcile.q33SnapshotDiff.fn(spark, dir)), "q36 diverged from q33")
      val q22 = KernelQueries.q22KernelFull.fn(spark, dir)
      assert(same(KernelQueries.q39KernelStreaming.fn(spark, dir), q22), "q39 diverged from q22")
      assert(same(KernelQueries.q41KernelBucketed.fn(spark, dir), q22), "q41 diverged from q22")
      val md5s = spark.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.col("text").cast("binary")).as("text_md5"))
        .distinct()
      assert(same(StreamQueries.q51DedupStream.fn(spark, dir), md5s),
        "q51 diverged from DISTINCT md5 of the documents")
      q22.count()
    }
    try {
      Seq("documents", "events", "lineitem").foreach { t =>
        Files.copy(java.nio.file.Paths.get(s"/root/testdata/sf0.001/$t.parquet"),
          java.nio.file.Paths.get(dir, s"$t.parquet"))
      }
      val before = check()
      // the raw read keeps events' stored ts (nanos as a plain long), which
      // Tables.events converts on the next read
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      halve("events", spark.read.parquet(s"$dir/events.parquet").filter("event_id % 2 = 0"))
      halve("documents", spark.read.parquet(s"$dir/documents.parquet").filter("doc_id % 2 = 0"))
      halve("lineitem", spark.read.parquet(s"$dir/lineitem.parquet").filter("l_orderkey % 2 = 0"))
      assert(check() < before, "the rewrite did not shrink the fact")
    } finally {
      val key = Bucketing.pathKey(dir)
      Bucketing.dropIndex(spark, Option(new java.io.File(Bucketing.indexLocation(spark, "")).list())
        .getOrElse(Array.empty[String]).filter(_.contains(key)).toSeq)
      Bucketing.deleteRecursively(dir)
    }
  }
}
