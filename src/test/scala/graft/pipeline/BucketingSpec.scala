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
}
