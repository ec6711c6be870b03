package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hot-key skew tooling (SURVEY.md §4: the reference's 15-day/1-day window
  * split for 14 hot accounts, main.py:86-104, is hand-rolled skew
  * accommodation — here it's a general salted join).
  *
  * AQE's skew-join handles most cases at runtime; explicit salting is for
  * the shuffle AQE can't split — a hot key in a shuffle-hash/sort-merge
  * join against a non-broadcastable side, or a groupBy where one key
  * dominates. `saltedJoin` replicates the (smaller) right side `salt` ways
  * and scatters the left side uniformly, so a hot key's rows spread over
  * `salt` reducers instead of one.
  */
object Skew {

  /** Row-content salt: deterministic for a given row regardless of partition
    * layout — `monotonically_increasing_id`/`rand` are seeded per partition,
    * so a repartitioned retry could re-salt rows mid-stage (non-deterministic
    * shuffle keys are a known double-count/loss hazard under partial stage
    * retry). Known boundary: rows that are byte-identical in EVERY column
    * share one salt, so a hot key made of exact duplicate rows is not spread.
    * For [[saltedSum]] that is harmless — map-side partial aggregation
    * combines identical rows within each map task before the shuffle, so the
    * salt only needs to spread DISTINCT rows, which content hashing does.
    * A join shuffle has no map-side combine, so [[saltedJoin]] exposes
    * `collapseDuplicates` to restore the same property (see there). */
  private[pipeline] def contentSalt(df: DataFrame, salt: Int): Column =
    pmod(hash(df.columns.toIndexedSeq.map(col): _*), lit(salt))

  /** Two-phase aggregation for a skewed groupBy: group on (keys + salt)
    * first — hot keys spread across `salt` partial groups — then merge.
    * Both phases sum each of `sumCols`; the merge is exact because a sum
    * is algebraic. */
  def saltedSum(df: DataFrame, keys: Seq[String], salt: Int,
                sumCols: Seq[String]): DataFrame = {
    require(salt > 0, "salt must be positive")
    require(!df.columns.exists(_.startsWith("__")),
      "column names starting with __ collide with Skew internals")
    val salted = df.withColumn("__salt", contentSalt(df, salt))
    salted
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
  }

  /** Equi-join with the left side salted and the right side replicated
    * `salt` ways. Semantics equal `left.join(right, keys, joinType)` for
    * row-preserving join types (inner/left). Use when the right side is too
    * big to broadcast and the left's key distribution is skewed.
    *
    * Residual limitation (unlike [[saltedSum]], where map-side partial
    * aggregation absorbs duplicates before the shuffle): byte-identical
    * duplicate left ROWS share one content salt, so a hot key whose volume
    * is exact duplicates still lands on a single reducer. When that shape is
    * expected, set `collapseDuplicates = true`: the left side is collapsed
    * to distinct rows + a multiplicity count before the join (the map-side
    * combine the join shuffle lacks), and each joined row is re-expanded
    * `count` times afterwards — multiset semantics are preserved exactly,
    * and the shuffle only ever carries distinct rows, which content salting
    * does spread. */
  def saltedJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                 salt: Int, joinType: String = "inner",
                 collapseDuplicates: Boolean = false): DataFrame = {
    require(joinType == "inner" || joinType == "left",
      s"salted join is row-preserving only for inner/left, got $joinType")
    require(salt > 0, "salt must be positive")
    require(!(left.columns ++ right.columns).exists(_.startsWith("__")),
      "column names starting with __ collide with saltedJoin internals")
    val leftIn =
      if (collapseDuplicates)
        left.groupBy(left.columns.toIndexedSeq.map(col): _*)
          .agg(count(lit(1)).as("__dup"))
      else left
    val saltedLeft = leftIn.withColumn("__salt", contentSalt(left, salt))
    val replicatedRight = right
      .withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    val joined = saltedLeft
      .join(replicatedRight, keys :+ "__salt", joinType)
      .drop("__salt")
    if (collapseDuplicates)
      reExpand(joined, "__dup")
    else joined
  }

  /** Max elements per generated `sequence` array in [[reExpand]]. One
    * re-expanded row is a few hundred bytes, so 64k rows per chunk keeps
    * each exploded array comfortably in task memory; a single-level
    * `sequence(1, count)` would instead materialize ONE array with the full
    * multiplicity — a row duplicated 100M× builds a 100M-element array in a
    * single task (and past ~2.1B Spark's array cap errors the job). */
  private val ReExpandChunk = 1L << 16

  /** Restore multiset semantics after a distinct+count collapse: emit each
    * row `countCol` times, in ≤[[ReExpandChunk]]-element batches so no
    * single generated array scales with the multiplicity. Two nested
    * explodes: chunk index 0..ceil(n/B)-1, then 1..min(B, remaining) within
    * the chunk — unbounded total output (that's the job), bounded PER-ROW
    * memory. */
  private def reExpand(df: DataFrame, countCol: String): DataFrame = {
    val b = lit(ReExpandChunk)
    df
      .withColumn("__chunk",
        // Column `/` is double division; the cast truncates = floor (counts ≥ 1)
        explode(sequence(lit(0L), ((col(countCol) - 1L) / b).cast("long"))))
      .withColumn("__i",
        explode(sequence(lit(1L), least(col(countCol) - col("__chunk") * b, b))))
      .drop(countCol, "__chunk", "__i")
  }
}
