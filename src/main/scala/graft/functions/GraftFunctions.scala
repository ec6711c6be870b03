package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration for graft's custom expressions, so `spark.sql` users
  * get them too:
  *
  * {{{
  *   GraftFunctions.register(spark)
  *   spark.sql("SELECT graft_polyhash(text) FROM docs")
  * }}}
  */
object GraftFunctions {

  import VectorFunctions._

  /** Every custom SQL function as (name, usage, builder) — the one list
    * [[register]] and [[GraftExtensions]] both install. */
  private[functions] val Table: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_polyhash", "rolling 31-base codepoint hash mod 1e9+7", e => PolyHash(e.head)),
    ("graft_dot", "double dot product of two float arrays", e => FloatVecDot(e(0), e(1))),
    ("graft_shingles", "distinct word 3-shingles of a string", e => WordShingles(e.head, 3)),
    ("graft_simhash", "28-bit simhash of an array of feature hashes", e => SimHash28(e.head)),
    ("graft_minhash_sig", "16-permutation minhash signature", e => MinHashSig(e.head, 16)),
    ("graft_credits_pivot", "billing credits pivot over parallel arrays",
      e => CreditsPivot(e(0), e(1))))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Table.foreach { case (name, _, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
