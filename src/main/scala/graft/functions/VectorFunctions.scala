package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, LeafExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the numeric hot paths.
  *
  * Spark's higher-order functions (`aggregate`/`transform`/`zip_with`)
  * evaluate their lambda ONCE PER ELEMENT through the interpreted expression
  * tree — a 64-dim dot product costs ~64 tree walks per row, which dominated
  * the similarity/dedup benchmarks (e.g. the pairwise-cosine query spent
  * 300s at sf0.1). These expressions do the same folds in one compiled JVM
  * loop per row — 10-40× faster — while preserving BIT-IDENTICAL results:
  * same left-to-right fold order, same int64 modular arithmetic, so the
  * DuckDB oracles keep hash-matching.
  *
  * They are row-local scalar expressions (null-safe, no state), so they
  * compose with pushdown/partitioning exactly like built-ins; CodegenFallback
  * costs one virtual call per row, not per element.
  */
object VectorFunctions {

  val HashMod: Long = 1000000007L

  /** dot(a, b) over array<float> in double precision, left-to-right
    * (== aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0.0, +)).
    * Full `doGenCode` (not CodegenFallback): the loop inlines into the
    * surrounding whole-stage codegen span — no per-row virtual call, and
    * the span stays unbroken through the similarity/dedup hot paths. */
  case class FloatVecDot(left: Expression, right: Expression)
      extends BinaryExpression with GraftExpectsInputTypes {
    // strict array<float> — these are registered session-wide as SQL
    // functions, so misuse (e.g. array<double>, which would silently read
    // wrong bytes via getFloat) must fail analysis, not produce garbage
    override def graftInputTypes: Seq[DataType] =
      Seq(ArrayType(FloatType), ArrayType(FloatType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
        i += 1
      }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        // same fold order as nullSafeEval — results stay bit-identical
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Squared L2 distance over array<double>, left-to-right
    * (== aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0.0, +) — the
    * identical IEEE op sequence, so results are bit-identical to the
    * higher-order-function form it replaces).
    *
    * PRECONDITION (ADVICE r14): both arrays must be equal-length with no
    * null elements. On a length mismatch the HOF form returns NULL
    * (zip_with null-pads, the lambda nulls out, aggregate propagates);
    * this kernel instead folds over min(n) and returns a number — and a
    * null element is read as garbage via getDouble. Every caller (s08
    * Lloyd, s09/s13/s16 sub-vectors and codebook rows) constructs both
    * sides from fixed-dimension slices, so the divergence is unreachable
    * today; a future variable-length caller must guard lengths itself.
    *
    * Full `doGenCode`: this is
    * the PQ/k-means family's per-pair kernel (s08 Lloyd assignment, s09
    * encode + ADC, s16 ADC) — at ×100 the ADC join evaluates it 62M
    * times, and the interpreted HOF fold measured ~1 µs/pair there (57 s
    * of a 64 s query); the compiled loop removes the per-pair lambda/
    * boxing machinery the same way FloatVecDot does for cosine. */
  case class DoubleVecSqDist(left: Expression, right: Expression)
      extends BinaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] =
      Seq(ArrayType(DoubleType), ArrayType(DoubleType))
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]
      val b = r.asInstanceOf[ArrayData]
      val n = math.min(a.numElements(), b.numElements())
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = a.getDouble(i) - b.getDouble(i)
        acc += d * d
        i += 1
      }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        // same fold order as nullSafeEval — results stay bit-identical
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $acc = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $d = $a.getDouble($i) - $b.getDouble($i);
           |  $acc += $d * $d;
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 31-base polynomial rolling hash over codepoints mod 1e9+7
    * (== the TextOps.polyHash fold; == DuckDB
    * list_reduce over unicode(split(s,''))). Full `doGenCode`: the fold
    * inlines into the whole-stage span (this runs once per shingle in the
    * dedup paths — the hottest scalar in the engine). */
  case class PolyHash(child: Expression)
      extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      var acc = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        acc = (acc * 31 + cp) % HashMod
        i += Character.charCount(cp)
      }
      acc
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => {
        val s = ctx.freshName("s")
        val i = ctx.freshName("i")
        val cp = ctx.freshName("cp")
        val acc = ctx.freshName("acc")
        // same codepoint walk as nullSafeEval — bit-identical results
        s"""
           |String $s = $c.toString();
           |long $acc = 0L;
           |int $i = 0;
           |while ($i < $s.length()) {
           |  int $cp = $s.codePointAt($i);
           |  $acc = ($acc * 31L + $cp) % ${HashMod}L;
           |  $i += java.lang.Character.charCount($cp);
           |}
           |${ev.value} = $acc;
         """.stripMargin
      })
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 28-bit SimHash over an array<long> of feature hashes: bit i is set when
    * Σ (bit_i(h) ? +1 : -1) > 0. One pass over the array; scalar result, so
    * it codegens inline like FloatVecDot/PolyHash. */
  case class SimHash28(child: Expression)
      extends UnaryExpression with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val h = ctx.freshName("h")
        val b = ctx.freshName("b")
        val sim = ctx.freshName("sim")
        s"""
           |int[] $counts = new int[28];
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $h = $arr.getLong($i);
           |  for (int $b = 0; $b < 28; $b++) {
           |    if ((($h >> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
           |  }
           |}
           |long $sim = 0L;
           |for (int $b = 0; $b < 28; $b++) {
           |  if ($counts[$b] > 0) $sim |= 1L << $b;
           |}
           |${ev.value} = $sim;
         """.stripMargin
      })
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](28)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 28) {
          if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < 28) {
        if (counts(b) > 0) sim |= 1L << b
        b += 1
      }
      sim
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** [[SimHash28]] widened for corpus-scaled block partitioning (round-10
    * verdict #2's fixed-parameter class, applied to SimHash): `bits` ≤ 56
    * sign-bits per WORD. Word 0: bits 0..27 read the raw polynomial hash
    * exactly like SimHash28 (so bits=28, word=0 is BIT-IDENTICAL to it —
    * the oracle fixtures never see a wider signature) and bits 28..55
    * read a SplitMix64 remix of the hash (the raw hash is mod 1e9+7: only
    * its low 28 bits are uniform, so wider signatures need fresh uniform
    * bits — same mixing discipline as Similarity.planeSign). Word 1
    * (round-11 verdict #1 — lifts the 56-bit signature ceiling that
    * capped `Dedup.blockBitsFor` at 13): all `bits` sign sources come
    * from a SECOND independent SplitMix stream (a different additive
    * gamma through the same finalizer), giving a virtual signature of up
    * to 112 sign-bits across two longs — wide enough for 4 blocks × 28
    * bits, which un-caps the block scaling to ~10¹⁰ docs. */
  case class SimHashWide(child: Expression, bits: Int, word: Int = 0)
      extends UnaryExpression with GraftExpectsInputTypes {
    require(bits >= 1 && bits <= 56, s"SimHashWide bits out of range: $bits")
    require(word == 0 || word == 1, s"SimHashWide word out of range: $word")
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = LongType
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, arr => {
        val counts = ctx.freshName("counts")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val h = ctx.freshName("h")
        val m = ctx.freshName("m")
        val b = ctx.freshName("b")
        val sim = ctx.freshName("sim")
        val perHash =
          if (word == 1)
            // second stream: every bit from a fresh SplitMix mix with a
            // distinct additive gamma, so word-1 signs are independent of
            // word 0's (raw low bits AND its 0x9E37... remix)
            s"""
               |long $m = $h + 0xD1B54A32D192ED03L;
               |$m = ($m ^ ($m >>> 30)) * 0xBF58476D1CE4E5B9L;
               |$m = ($m ^ ($m >>> 27)) * 0x94D049BB133111EBL;
               |$m ^= ($m >>> 31);
               |for (int $b = 0; $b < $bits; $b++) {
               |  if ((($m >> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
               |}""".stripMargin
          else {
            val mixBits = math.max(0, bits - 28)
            val mix =
              if (mixBits == 0) ""
              else s"""
                 |long $m = $h + 0x9E3779B97F4A7C15L;
                 |$m = ($m ^ ($m >>> 30)) * 0xBF58476D1CE4E5B9L;
                 |$m = ($m ^ ($m >>> 27)) * 0x94D049BB133111EBL;
                 |$m ^= ($m >>> 31);
                 |for (int $b = 0; $b < $mixBits; $b++) {
                 |  if ((($m >> $b) & 1L) == 1L) $counts[28 + $b]++; else $counts[28 + $b]--;
                 |}""".stripMargin
            s"""
               |for (int $b = 0; $b < ${math.min(bits, 28)}; $b++) {
               |  if ((($h >> $b) & 1L) == 1L) $counts[$b]++; else $counts[$b]--;
               |}
               |$mix""".stripMargin
          }
        s"""
           |int[] $counts = new int[$bits];
           |int $n = $arr.numElements();
           |for (int $i = 0; $i < $n; $i++) {
           |  long $h = $arr.getLong($i);
           |  $perHash
           |}
           |long $sim = 0L;
           |for (int $b = 0; $b < $bits; $b++) {
           |  if ($counts[$b] > 0) $sim |= 1L << $b;
           |}
           |${ev.value} = $sim;
         """.stripMargin
      })
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val counts = new Array[Int](bits)
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        val h = arr.getLong(i)
        if (word == 1) {
          var m = h + 0xD1B54A32D192ED03L
          m = (m ^ (m >>> 30)) * 0xBF58476D1CE4E5B9L
          m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
          m ^= (m >>> 31)
          var b = 0
          while (b < bits) {
            if (((m >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
        } else {
          var b = 0
          val lo = math.min(bits, 28)
          while (b < lo) {
            if (((h >> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
            b += 1
          }
          if (bits > 28) {
            var m = h + 0x9E3779B97F4A7C15L
            m = (m ^ (m >>> 30)) * 0xBF58476D1CE4E5B9L
            m = (m ^ (m >>> 27)) * 0x94D049BB133111EBL
            m ^= (m >>> 31)
            var b2 = 0
            while (b2 < bits - 28) {
              if (((m >> b2) & 1L) == 1L) counts(28 + b2) += 1 else counts(28 + b2) -= 1
              b2 += 1
            }
          }
        }
        i += 1
      }
      var sim = 0L
      var b = 0
      while (b < bits) {
        if (counts(b) > 0) sim |= 1L << b
        b += 1
      }
      sim
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature: sig[j] = min over h of (a_j·h + b_j) mod p, with
    * a_j = 2j+1, b_j = 7j+3 (must stay in lockstep with the SQL oracle).
    * Null for an empty array (== array_min / list_min semantics). */
  case class MinHashSig(child: Expression, numHashes: Int)
      extends UnaryExpression with CodegenFallback with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(ArrayType(LongType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n == 0) return null
      val mins = Array.fill(numHashes)(Long.MaxValue)
      var i = 0
      while (i < n) {
        val h = arr.getLong(i)
        var j = 0
        while (j < numHashes) {
          val p = ((2L * j + 1) * h + (7L * j + 3)) % HashMod
          if (p < mins(j)) mins(j) = p
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct word w-shingles of a (pre-normalized) string in ONE pass:
    * tokenize on \s+ and join each w consecutive tokens with one space.
    *
    * The composed form — `transform(sequence(...), i ->
    * concat_ws(element_at(split(t), i), ...))` — re-evaluates the regex
    * split PER ELEMENT (no common-subexpression elimination inside
    * higher-order lambdas): ~135 full-document splits per row at w=3. This
    * was the dominant cost of the dedup benchmarks.
    *
    * Output order is first-occurrence; all consumers (Jaccard intersection,
    * MinHash, SimHash) are order-independent, which is what keeps the DuckDB
    * oracle (whose list_distinct reorders) hash-compatible. */
  case class WordShingles(child: Expression, width: Int)
      extends UnaryExpression with CodegenFallback with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any = {
      // trim first: mirrors tokens() = split(lower(trim(s)), "\s+") — a
      // leading space would otherwise yield an empty first token (caller is
      // expected to have lowercased already)
      val toks = v.asInstanceOf[UTF8String].toString.trim.split("\\s+")
      if (toks.length < width) return new GenericArrayData(Array.empty[Any])
      val seen = new java.util.LinkedHashSet[String]
      var i = 0
      while (i <= toks.length - width) {
        val sb = new java.lang.StringBuilder(toks(i))
        var k = 1
        while (k < width) { sb.append(' ').append(toks(i + k)); k += 1 }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** One-pass credits pivot (ref: calculate/service.py:11-43): sums
    * `amounts[i]` into the bucket named by `types[i]` for the 8 known credit
    * types, plus the unconditional total. Returns array<double> of
    * [c_cud, c_cud_db, c_discount, c_free_tier, c_promotion, c_rm,
    *  c_sub_benefit, c_sud, internal_credits_cost] in BillingSchema order;
    * consumption (= total − c_rm) is derived by the caller. Same
    * left-to-right summation order as the filter/aggregate formulation and
    * the DuckDB unnest oracle. */
  case class CreditsPivot(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback with GraftExpectsInputTypes {
    override def graftInputTypes: Seq[DataType] =
      Seq(ArrayType(StringType), ArrayType(DoubleType))
    private val typeIndex: Map[String, Int] = Map(
      "COMMITTED_USAGE_DISCOUNT" -> 0, "COMMITTED_USAGE_DISCOUNT_DOLLAR_BASE" -> 1,
      "DISCOUNT" -> 2, "FREE_TIER" -> 3, "PROMOTION" -> 4, "RESELLER_MARGIN" -> 5,
      "SUBSCRIPTION_BENEFIT" -> 6, "SUSTAINED_USAGE_DISCOUNT" -> 7)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(t: Any, a: Any): Any = {
      val types = t.asInstanceOf[ArrayData]
      val amounts = a.asInstanceOf[ArrayData]
      val out = new Array[Double](9)
      val n = math.min(types.numElements(), amounts.numElements())
      var i = 0
      while (i < n) {
        if (!types.isNullAt(i) && !amounts.isNullAt(i)) {
          val idx = typeIndex.getOrElse(types.getUTF8String(i).toString, -1)
          if (idx >= 0) out(idx) += amounts.getDouble(i)
        }
        i += 1
      }
      var j = 0
      val na = amounts.numElements()
      while (j < na) { out(8) += amounts.getDouble(j); j += 1 }
      new GenericArrayData(out.map(java.lang.Double.valueOf(_): Any))
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** The rule ladder's per-row probe: the five match keys of a fact row
    * (invoice_month, billing_account_id, project_id, service_description,
    * sku_id, already cast to the index's key types) → the resolved payload
    * struct, or null when no rule matches. One [[RuleIndex.probe]] call per
    * row — one hash lookup, then a walk of that (month, account)'s rules.
    *
    * Full `doGenCode`, not CodegenFallback (CollapseCodegenStages would cut
    * the fused fact stage there) and not a ScalaUDF (it converts values on
    * every row). The index is reached through `references`, read once per
    * partition into a field: the generated text carries no per-call value,
    * so every tick reuses one compiled class. */
  case class RuleIndexProbe(children: Seq[Expression], index: Broadcast[RuleIndex],
                            dataType: StructType) extends Expression {
    override def nullable: Boolean = true
    @transient private lazy val local: RuleIndex = index.value
    override def eval(input: InternalRow): Any = {
      val k = children.map(_.eval(input).asInstanceOf[AnyRef])
      local.probe(k(0), k(1), k(2), k(3), k(4))
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cls = classOf[RuleIndex].getName
      val bc = ctx.addReferenceObj("ruleIndex", index, classOf[Broadcast[_]].getName)
      val idx = ctx.addMutableState(cls, "ruleIndex", v => s"$v = ($cls) $bc.value();")
      val keys = children.map(_.genCode(ctx))
      val args = children.zip(keys).map { case (c, k) =>
        val v = if (CodeGenerator.isPrimitiveType(c.dataType))
          s"${CodeGenerator.boxedType(c.dataType)}.valueOf(${k.value})" else k.value.toString
        s"${k.isNull} ? null : (Object) $v"
      }
      ev.copy(code = code"""
        |${keys.map(_.code).mkString("\n")}
        |InternalRow ${ev.value} = $idx.probe(${args.mkString(", ")});
        |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
    }
    override def toString: String = s"rule_index_probe(${children.mkString(", ")})"
    override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
      copy(children = c)
  }

  /** One timestamp for every row of a call, bound through `references`
    * instead of folded into a literal: `current_timestamp()` becomes a new
    * `…L` constant in the generated code on every call, so each call
    * compiled its stages afresh. Not foldable, so it stays a reference. */
  case class BoundTimestamp(micros: Long) extends LeafExpression {
    override def dataType: DataType = TimestampType
    override def nullable: Boolean = false
    override def eval(input: InternalRow): Any = micros
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("micros", java.lang.Long.valueOf(micros), "java.lang.Long")
      ev.copy(code = code"long ${ev.value} = $ref.longValue();", isNull = FalseLiteral)
    }
  }

  // Column wrappers (Spark 4 classic: Column ↔ Expression via the bridge)
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def dotF(a: Column, b: Column): Column = column(FloatVecDot(expression(a), expression(b)))
  def sqDistD(a: Column, b: Column): Column =
    column(DoubleVecSqDist(expression(a), expression(b)))
  def polyHashFast(c: Column): Column = column(PolyHash(expression(c)))
  def simHash28(c: Column): Column = column(SimHash28(expression(c)))
  def simHashWide(c: Column, bits: Int): Column = column(SimHashWide(expression(c), bits))
  def simHashWide(c: Column, bits: Int, word: Int): Column =
    column(SimHashWide(expression(c), bits, word))
  def minHashSig(c: Column, n: Int): Column = column(MinHashSig(expression(c), n))
  def wordShingles(c: Column, w: Int): Column = column(WordShingles(expression(c), w))
  def creditsPivot(t: Column, a: Column): Column =
    column(CreditsPivot(expression(t), expression(a)))
  def ruleIndexProbe(keys: Seq[Column], index: Broadcast[RuleIndex], payload: StructType): Column =
    column(RuleIndexProbe(keys.map(expression), index, payload))
  /** The current time as one [[BoundTimestamp]]: the same on every row. */
  def boundNow(): Column = column(BoundTimestamp(
    org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(java.time.Instant.now())))
}

/** A broadcastable rule index: the rule dim's deduplicated rows grouped by
  * (invoice_month, billing_account_id) in an open-addressing table, each
  * group an array in precedence order (most specific first). Keys and
  * payloads are Catalyst internal values (`UTF8String`s compare by bytes),
  * the key values already cast to the types the fact's keys coerce to.
  * Built by `RuleMatch`; probed by [[VectorFunctions.RuleIndexProbe]]. */
final class RuleIndex private (months: Array[AnyRef], accounts: Array[AnyRef],
                               groups: Array[Array[RuleIndex.Rule]]) extends Serializable {
  private val mask = months.length - 1

  /** The payload of the matching rules, per column the first non-null in
    * precedence order (the ladder's per-column coalesce); null when no rule
    * matches. A rule matches when each specializer it has equals the
    * fact's non-null value; a null month or account never matches. */
  def probe(month: AnyRef, account: AnyRef, project: AnyRef, service: AnyRef,
            sku: AnyRef): InternalRow = {
    if (month == null || account == null) return null
    var slot = RuleIndex.slot(month, account) & mask
    while (months(slot) != null &&
      !(months(slot).equals(month) && accounts(slot).equals(account))) slot = (slot + 1) & mask
    if (months(slot) == null) return null
    val group = groups(slot)
    val n = group(0).payload.length
    val out = new Array[Any](n)
    var missing = n
    var i = 0
    while (i < group.length && missing > 0) {
      val r = group(i)
      if (RuleIndex.matches(r.project, project) && RuleIndex.matches(r.service, service) &&
        RuleIndex.matches(r.sku, sku)) {
        var j = 0
        while (j < n) {
          if (out(j) == null && r.payload(j) != null) { out(j) = r.payload(j); missing -= 1 }
          j += 1
        }
      }
      i += 1
    }
    if (missing == n) null else new GenericInternalRow(out)
  }
}

object RuleIndex {
  /** One rule: its specializers (`None` = wildcard; `Some(null)` never
    * matches, like a null equi-join key) and its payload. */
  final class Rule(val project: Option[AnyRef], val service: Option[AnyRef],
                   val sku: Option[AnyRef], val payload: Array[AnyRef]) extends Serializable

  private def matches(spec: Option[AnyRef], v: AnyRef): Boolean =
    spec.isEmpty || (v != null && v.equals(spec.get))

  private def slot(month: AnyRef, account: AnyRef): Int = {
    val h = month.hashCode * 31 + account.hashCode
    h ^ (h >>> 16)
  }

  /** `rules` as ((month, account), rule) in precedence order; rules with a
    * null month or account are dropped (they match nothing). */
  def apply(rules: Seq[((AnyRef, AnyRef), Rule)]): RuleIndex = {
    val grouped = rules.filter { case ((m, a), _) => m != null && a != null }
      .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toArray }
    var cap = 4
    while (cap < 2 * grouped.size) cap <<= 1
    val (months, accounts) = (new Array[AnyRef](cap), new Array[AnyRef](cap))
    val groups = new Array[Array[Rule]](cap)
    grouped.foreach { case ((m, a), rs) =>
      var s = slot(m, a) & (cap - 1)
      while (months(s) != null) s = (s + 1) & (cap - 1)
      months(s) = m; accounts(s) = a; groups(s) = rs
    }
    new RuleIndex(months, accounts, groups)
  }
}
