package graft.pipeline

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}

/** Bucketed-table tooling — the shuffle-elimination story for REPEATED
  * joins/aggregations on the same key (SURVEY.md §4 scale notes).
  *
  * A fact written with `bucketBy(n, keys)` is hash-partitioned on disk;
  * Spark records the bucket spec in the catalog and plans joins between
  * two tables bucketed on the same keys with the SAME bucket count — and
  * aggregations on the bucket keys — WITHOUT an Exchange. At 100 TB the
  * payoff is paying the fact's shuffle once at ingest instead of on every
  * downstream join (the billing kernel avoids this differently — its dim
  * broadcasts — but corpus-scale doc_id joins, d07/c01, are exactly this
  * shape).
  *
  * Bucket pruning: equality filters on the first bucket key scan only the
  * matching bucket files (1/n of the data) — the partition-pruning analog
  * for high-cardinality keys that would explode a directory-partition
  * scheme.
  *
  * Spark-specific caveats encoded here rather than in every call site:
  * bucketed writes MUST go through `saveAsTable` (the bucket spec lives in
  * the catalog, not the parquet footers); both join sides need the
  * same bucket count (or a multiple, with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`); and
  * `DisableUnnecessaryBucketedScan` silently turns the bucketed scan —
  * including bucket pruning — OFF for plans with no distribution
  * requirement (set `spark.sql.sources.bucketing.autoBucketedScan.enabled`
  * to false to force it, as the pruning spec does).
  */
object Bucketing {

  /** Write `df` as a bucketed, bucket-sorted table. `path` makes it an
    * external table (data at the given location, spec in the catalog).
    * Sorting by the bucket keys lets a sort-merge join skip its sort. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int, path: Option[String] = None,
                    format: String = "parquet"): Unit = {
    require(keys.nonEmpty && numBuckets > 0)
    val w0: DataFrameWriter[Row] = df.write.format(format)
      .mode("overwrite")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
    path.fold(w0)(p => w0.option("path", p)).saveAsTable(table)
  }

  /** Read a bucketed table back (plain catalog read — the bucket spec rides
    * along automatically; exists so call sites don't scatter `spark.table`
    * vs `read.parquet(path)`, which would silently DROP the bucket info). */
  def readBucketed(spark: SparkSession, table: String): DataFrame =
    spark.table(table)

  /** What an index build hands [[ensureIndex]]: one frame per table (in the
    * table order given there), extra text recorded in every table's spec
    * file after its schema line, and a release for whatever the build
    * cached, run once the frames are written. */
  final case class IndexBuild(frames: Seq[DataFrame], spec: String = "",
      release: () => Unit = () => ())

  /** [[ensureIndex]]'s result: the tables read back, the recorded extra
    * spec text, what the call did — "cached", "reregistered" or the build's
    * label — and the build seconds (0 unless it built). */
  final case class Ensured(frames: Seq[DataFrame], spec: String, mode: String,
      seconds: Double)

  /** Where index table `t` keeps its files: under the warehouse dir, so the
    * files (and their spec) outlive the catalog entry. */
  def indexLocation(s: SparkSession, t: String): String =
    s"${s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")}/$t"

  /** (schema DDL, extra spec text) of index table `t` when its spec file
    * exists and records `fingerprint`; None when the table was never
    * completed here or was built from other sources. The spec file is
    * `fingerprint`, the DDL and the extra text, newline-separated (the
    * extra line only when non-empty). */
  def validSpec(s: SparkSession, t: String, specFile: String,
      fingerprint: String): Option[(String, String)] = {
    val p = java.nio.file.Paths.get(indexLocation(s, t), specFile)
    if (!java.nio.file.Files.isRegularFile(p)) None
    else java.nio.file.Files.readString(p).split("\n", 3) match {
      case Array(`fingerprint`, ddl) => Some((ddl, ""))
      case Array(`fingerprint`, ddl, extra) => Some((ddl, extra))
      case _ => None
    }
  }

  /** Drop index tables: their catalog entries and their files. */
  def dropIndex(s: SparkSession, tables: Seq[String]): Unit = tables.foreach { t =>
    s.sql(s"DROP TABLE IF EXISTS $t")
    deleteRecursively(indexLocation(s, t))
  }

  /** Delete `path` and everything under it; a missing path is a no-op. */
  def deleteRecursively(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val it = java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      try it.forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally it.close()
    }
  }

  /** The name key of data dir `d` in its persisted artifacts' table names. */
  def pathKey(d: String): String =
    d.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_")

  /** The spec check of every persisted artifact, decided from disk: the
    * recorded (schema DDL, extra text) of each of `tables` when every spec
    * file records `fingerprint`; otherwise None, after dropping every
    * table, so the caller rebuilds them and records each with [[writeSpec]]
    * once its files are written. */
  private def checkSpecs(s: SparkSession, tables: Seq[String], specFile: String,
      fingerprint: String): Option[Seq[(String, String)]] = {
    val specs = tables.map(validSpec(s, _, specFile, fingerprint))
    if (specs.forall(_.isDefined)) Some(specs.flatten)
    else { dropIndex(s, tables); None }
  }

  /** Record table `t` as built from `fingerprint`: written whole or not at
    * all, so a torn spec never validates. */
  private def writeSpec(s: SparkSession, t: String, specFile: String,
      fingerprint: String, ddl: String, extra: String): Unit = {
    val p = java.nio.file.Paths.get(indexLocation(s, t), specFile)
    val tmp = p.resolveSibling(specFile + ".tmp")
    java.nio.file.Files.writeString(tmp,
      fingerprint + "\n" + ddl + (if (extra.isEmpty) "" else "\n" + extra))
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The one lifecycle of a persisted bucketed index: external tables
    * (name, bucket keys) under [[indexLocation]], each with a spec file
    * recording the `fingerprint` of the sources it was built from. Decided
    * from disk on every call, so there is no in-memory state to forget:
    *  - every spec records `fingerprint` and the catalog holds every
    *    table: "cached";
    *  - every spec records it but the catalog lacks a table (a fresh
    *    metastore): the missing tables are re-declared over their files
    *    (CREATE TABLE … CLUSTERED BY … LOCATION, catalog metadata only):
    *    "reregistered";
    *  - otherwise (no build, a build from other sources, deleted files, a
    *    crashed build): drop and delete every table, then write each of
    *    `build`'s frames followed by its table's spec file, so a crash
    *    leaves at least one table without a valid spec and the next call
    *    rebuilds: `builtAs`. */
  def ensureIndex(s: SparkSession, tables: Seq[(String, Seq[String])],
      numBuckets: Int, specFile: String, fingerprint: String,
      builtAs: String = "built")(build: => IndexBuild): Ensured = {
    def read(spec: String, mode: String, seconds: Double) =
      Ensured(tables.map { case (t, _) => readBucketed(s, t) }, spec, mode, seconds)
    val t0 = System.nanoTime()
    checkSpecs(s, tables.map(_._1), specFile, fingerprint) match {
      case Some(specs) =>
        val missing = tables.zip(specs)
          .filterNot { case ((t, _), _) => s.catalog.tableExists(t) }
        missing.foreach { case ((t, keys), (ddl, _)) =>
          val cluster = keys.mkString(", ")
          s.sql(s"""CREATE TABLE $t ($ddl) USING parquet
                   |CLUSTERED BY ($cluster) SORTED BY ($cluster)
                   |INTO $numBuckets BUCKETS
                   |LOCATION '${indexLocation(s, t)}'""".stripMargin)
        }
        read(specs.head._2, if (missing.isEmpty) "cached" else "reregistered", 0.0)
      case None =>
        val b = build
        try tables.zip(b.frames).foreach { case ((t, keys), df) =>
          writeBucketed(df, t, keys, numBuckets, Some(indexLocation(s, t)))
          writeSpec(s, t, specFile, fingerprint, df.schema.toDDL, b.spec)
        } finally b.release()
        read(b.spec, builtAs, (System.nanoTime() - t0) / 1e9)
    }
  }

  /** A one-file parquet source `t` under [[indexLocation]], written from
    * `df` through [[ensureIndex]]'s spec check: rewritten when its spec
    * does not record `fingerprint` (a first call, a rewritten source),
    * reused otherwise. One file, so an `AvailableNow` drain reads it as
    * one micro-batch. Returns its path. */
  def stageFile(s: SparkSession, t: String, fingerprint: String)(
      df: => DataFrame): String = {
    val specFile = "_GRAFT_STAGE_SPEC"
    if (checkSpecs(s, Seq(t), specFile, fingerprint).isEmpty) {
      val frame = df
      frame.coalesce(1).write.mode("overwrite").parquet(indexLocation(s, t))
      writeSpec(s, t, specFile, fingerprint, frame.schema.toDDL, "")
    }
    indexLocation(s, t)
  }
}
