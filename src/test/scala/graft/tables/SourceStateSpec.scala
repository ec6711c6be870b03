package graft.tables

import org.apache.spark.sql.functions._
import graft.kernel.SparkSpec
import graft.operators.{Dedup, Similarity}
import graft.queries.BillingDemo

/** Derived per-path state follows the data under the path: a table
  * rewritten in the same JVM is re-read without any invalidate call, and a
  * widen decision is made per shuffle width, not once per directory. */
class SourceStateSpec extends SparkSpec {

  private def withDir(body: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_source_state").toString
    try body(dir) finally graft.pipeline.Bucketing.deleteRecursively(dir)
  }

  private def writeDocs(dir: String, n: Int): Unit =
    spark.range(0, n).select(col("id").as("doc_id"),
        concat(lit("alpha beta gamma doc "), col("id").cast("string")).as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def writeEmbeddings(dir: String, n: Int): Unit =
    spark.range(0, n).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => sin((col("id") + 1) * (i + 1)).cast("float")).as("embedding"),
        (col("id") % 2).cast("int").as("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

  private def writeLineitem(dir: String, days: Seq[String]): Unit = {
    import spark.implicits._
    days.toDF("d").select(to_date(col("d")).as("l_shipdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  private def months(dir: String): Set[String] =
    BillingDemo.dim(spark, dir).select("month").distinct()
      .collect().map(_.getString(0)).toSet

  test("rewritten tables re-derive corpus size, plane count and months with no invalidate call") {
    withDir { dir =>
      writeDocs(dir, 3)
      writeEmbeddings(dir, 40)
      writeLineitem(dir, Seq("2024-01-05", "2024-02-10"))
      assert(Dedup.corpusDocsFor(spark, dir) == 6L)
      assert(Similarity.planesFor(spark, dir) == 8)
      assert(months(dir) == Set("2024-01", "2024-02"))

      writeDocs(dir, 5)
      writeEmbeddings(dir, 5000)
      writeLineitem(dir, Seq("2024-03-01", "2024-04-02", "2024-05-03"))
      assert(Dedup.corpusDocsFor(spark, dir) == 10L)
      // ceil(log2(5000 / 8)) = 10 planes
      assert(Similarity.planesFor(spark, dir) == 10)
      assert(months(dir) == Set("2024-03", "2024-04", "2024-05"))
    }
  }

  test("the corpus widen decision follows spark.sql.shuffle.partitions for one dir") {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(key)
    withDir { dir =>
      def plan(): String =
        Dedup.corpus(spark, dir).queryExecution.executedPlan.toString
      writeDocs(dir, 4)
      try {
        // one file per copy of the corpus: 2 splits, narrow against 64
        spark.conf.set(key, "64")
        assert(plan().contains("Exchange hashpartitioning(doc_id"),
          "2 splits under 64 shuffle partitions must widen")
        // and wide against 1: the scans' union, no exchange of any kind
        spark.conf.set(key, "1")
        assert(!plan().contains("Exchange"),
          "2 splits under 1 shuffle partition must not widen")
        spark.conf.set(key, "64")
        assert(plan().contains("Exchange hashpartitioning(doc_id"),
          "the decision at 64 partitions must hold again")
      } finally spark.conf.set(key, prior)
    }
  }
}
