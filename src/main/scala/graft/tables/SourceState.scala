package graft.tables

import org.apache.spark.sql.{Column, DataFrame}

/** State derived from the tables under a data directory — corpus sizes,
  * month lists, corpus-scaled parameters, scan-widen decisions — memoized
  * against the VERSION of the table it was derived from. Each entry stores
  * its source table's [[fingerprint]] next to the value and is recomputed
  * when the fingerprint differs, so a table rewritten under the same path
  * misses by construction: no writer has to call an invalidate hook, and
  * rewrites do not grow the map (one entry per (dir, table, name)).
  */
object SourceState {

  /** Fingerprint of `d`/`table`: sorted (name, size, mtime) of its parquet
    * files, hashed. Pure filesystem metadata — no data scan. Besides keying
    * [[memo]], it is recorded in the persisted indexes' spec files and
    * re-checked on every use ([[graft.pipeline.Bucketing.ensureIndex]]),
    * so a regenerated table forces a rebuild instead of serving stale
    * rows. */
  def fingerprint(d: String, table: String): String = {
    val root = java.nio.file.Paths.get(d, table)
    // a table may be a Spark-written DIRECTORY of part files or a single
    // parquet FILE (the generated testdata) — both must fingerprint, else
    // a single-file table change never reads as a new version
    if (java.nio.file.Files.isRegularFile(root))
      return java.lang.Long.toHexString(
        (s"${root.getFileName}:${java.nio.file.Files.size(root)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(root).toMillis}")
          .hashCode.toLong & 0xffffffffL)
    if (!java.nio.file.Files.isDirectory(root)) return "absent"
    val ls = java.nio.file.Files.list(root)
    val entries = try {
      val b = Seq.newBuilder[String]
      val it = ls.iterator()
      while (it.hasNext) {
        val p = it.next()
        b += s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
          s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      }
      b.result().sorted
    } finally ls.close()
    java.lang.Long.toHexString(entries.mkString("\n").hashCode.toLong & 0xffffffffL)
  }

  private final case class Entry(fp: String, value: Any)
  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), Entry]()

  /** `compute`'s value for `name` over `d`/`table`, recomputed whenever the
    * table's [[fingerprint]] differs from the one stored with it. `compute`
    * runs outside the map's lock because it may read other memoized values
    * (a corpus count plans the corpus, whose widen decision is memoized);
    * two racing callers at worst compute the same value twice. */
  def memo[T](d: String, table: String, name: String)(compute: => T): T = {
    val fp = fingerprint(d, table)
    val key = (d, table, name)
    entries.get(key) match {
      case Entry(`fp`, v) => v.asInstanceOf[T]
      case _ =>
        val v = compute
        entries.put(key, Entry(fp, v))
        v
    }
  }

  /** Spread `df` over `spark.sql.shuffle.partitions` when its source is
    * NARROW — fewer than half as many splits as shuffle partitions — by a
    * hash exchange on `keys`, or round-robin when there are none.
    *
    * The per-row work above a scan inherits the scan's split count: the
    * sf0.1 documents table scans as 2 splits and lineitem as 3, so heavy
    * per-row stages (shingling, signatures, tokenizing, the credit fold)
    * ran on 2–3 of 32 cores. One narrow exchange restores full width, and
    * hashing on the consumer's grouping or join keys lets that consumer
    * reuse the exchange instead of adding one. A wide source — a 100 TB
    * table arrives as thousands of splits — is left as is; there the
    * exchange would only cost. The rule counts Spark's splits, not files
    * or row groups: one-row-group sf0.1 documents still scans as 2 splits.
    * Row-level results never change, only the plan. */
  def widen(df: DataFrame, keys: Column*): DataFrame = widen(df, keys, None)

  /** [[widen]] for a frame read from `d`/`table`. The split count needs a
    * physical plan, so the decision is [[memo]]ized per table version and
    * shuffle width; `name` tells apart frames whose split counts differ. */
  def widenRead(d: String, table: String, name: String, df: DataFrame,
      keys: Column*): DataFrame =
    widen(df, keys, Some((d, table, name)))

  private def widen(df: DataFrame, keys: Seq[Column],
      read: Option[(String, String, String)]): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    def splitsNarrow = df.rdd.getNumPartitions * 2 < parts
    val narrow = read.fold(splitsNarrow) { case (d, t, n) =>
      memo(d, t, s"$n widen/$parts")(splitsNarrow)
    }
    if (!narrow) df
    else if (keys.isEmpty) df.repartition(parts)
    else df.repartition(parts, keys: _*)
  }
}
