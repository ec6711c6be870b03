package graft.kernel

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.functions.{RuleIndex, VectorFunctions}

/** J1–J9 — hierarchical most-specific-wins contract-rule lookup
  * (ref: calculate/service.py:102-138; SQL twin calculate/sql_template.py:47-122).
  *
  * The dimension has three OPTIONAL specializer keys (`project_id`,
  * `service_description`, `sku_id`); a null means "wildcard". That yields
  * 2³ = 8 rule families. A rule of a family matches a fact row on
  * (invoice_month, billing_account_id) + its present specializers, and the
  * winning payload per fact row is resolved per-column by precedence
  *
  *     8 > 4 > 6 > 2 > 7 > 3 > 5 > 1
  *
  * (more keys win; at equal key-count project > service > sku — derived from
  * the reference's ascending overwrite order [1,5,3,7,2,6,4,8] with
  * last-write-wins, calculate/service.py:126-138). Resolution is PER PAYLOAD
  * COLUMN (`coalesce` across families), matching both pandas `df.update`
  * (skips NaN per cell) and the SQL template's per-column COALESCE
  * (calculate/sql_template.py:93-98).
  *
  * Scale design: the dim is contract metadata — small by construction — so
  * it is collected once into one broadcast rule index, probed per fact row
  * by one expression: the 100 TB fact is never shuffled, and scan, probe,
  * modes and conform fuse into one codegen stage whose generated method
  * stays under HotSpot's 8,000-byte JIT limit (8 broadcast hash joins and
  * 6 coalesces made it 10,896 bytes, so it ran interpreted).
  *
  * Defined-away reference quirk (SURVEY.md §2.3): duplicate keys inside one
  * rule family silently misalign rows in pandas. Here each family is
  * deterministically deduplicated (first row under an explicit payload sort)
  * before matching — documented first-match semantics.
  */
object RuleMatch {

  val PayloadCols: Seq[String] =
    Seq("mode", "discount", "price", "credit_fields", "customer_id", "contract_id")

  /** family id → (project?, service?, sku?) presence flags. */
  val Presence: Map[Int, (Boolean, Boolean, Boolean)] = Map(
    1 -> (false, false, false),
    2 -> (true, false, false),
    3 -> (false, true, false),
    4 -> (true, true, false),
    5 -> (false, false, true),
    6 -> (true, false, true),
    7 -> (false, true, true),
    8 -> (true, true, true))

  /** most-specific-wins order for the output coalesce. */
  val Precedence: Seq[Int] = Seq(8, 4, 6, 2, 7, 3, 5, 1)

  def keysFor(i: Int): Seq[String] = {
    val (p, s, k) = Presence(i)
    Seq("invoice_month", "billing_account_id") ++
      (if (p) Seq("project_id") else Nil) ++
      (if (s) Seq("service_description") else Nil) ++
      (if (k) Seq("sku_id") else Nil)
  }

  /** dim `month` is 'YYYY-MM' while fact `invoice_month` is 'YYYYMM'
    * (ref: main.py:34-36) — align the dim to the fact's format. */
  def withInvoiceMonth(dim: DataFrame): DataFrame =
    if (dim.columns.contains("invoice_month")) dim
    else dim.withColumn(
      "invoice_month",
      concat(substring(col("month"), 1, 4), substring(col("month"), 6, 2)))

  /** ALL families' deduplicated rule rows in ONE window pass (optimization
    * round 17; guide §2.4 "remove shuffles outright"). Every dim row
    * belongs to exactly one family — its own null pattern — so `__fam` is
    * a per-row expression (1 + project + 2·service + 4·sku, matching
    * [[Presence]]'s encoding) and the 8 per-family `row_number` windows
    * collapse into a single window over the five [[MatchKeys]]: within a
    * family the absent specializers are null on every row, so partitioning
    * by all five keys partitions each family by exactly its present keys
    * (same groups), and rows from different families can never share a
    * 5-key tuple (their null patterns differ). Same deterministic
    * first-match winner per group (identical payload sort, nulls first).
    *
    * Before this change each of the 8 broadcast subtrees (and each of
    * q40's 8 union branches) ran its OWN filter+window+shuffle over the
    * dim — 8 small window jobs per kernel query (~1.4 s of the ~4.7 s
    * q22 wall at sf0.1). Each caller runs it once (the ladder collects it
    * into its index; the tall fallback consumes it directly — the
    * union-of-8 disappears entirely because the families partition the
    * dim). */
  private[kernel] def allFamiliesDeduped(dim: DataFrame): DataFrame = {
    val fam = lit(1) +
      when(col("project_id").isNotNull, 1).otherwise(0) +
      when(col("service_description").isNotNull, 2).otherwise(0) +
      when(col("sku_id").isNotNull, 4).otherwise(0)
    val w = Window.partitionBy(MatchKeys.map(col): _*).orderBy(PayloadCols.map(col): _*)
    dim.select((MatchKeys ++ PayloadCols).map(col): _*)
      .withColumn("__fam", fam)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The three optional specializer keys; null in the dim means wildcard. */
  val SpecializerCols: Seq[String] = Seq("project_id", "service_description", "sku_id")

  /** The mandatory rule keys every family joins on. */
  val RuleKeys: Seq[String] = Seq("invoice_month", "billing_account_id")

  /** All five columns the resolution is a function of. */
  val MatchKeys: Seq[String] = RuleKeys ++ SpecializerCols

  /** Specificity score: higher = wins. Family 8 (all keys) → 8, …,
    * family 1 (wildcards only) → 1, following [[Precedence]]. */
  private def specRank(i: Int): Int = Precedence.length - Precedence.indexOf(i)

  /** How [[addRuleTag]] joins the rule dim to the fact.
    *
    * [[RuleDimStrategy.Broadcast]] is the domain default (contract metadata
    * is small by construction): one broadcast rule index probed per fact
    * row, the fact never shuffles. [[RuleDimStrategy.Shuffle]] is the
    * 100 TB robustness fallback for a dim that outgrows broadcast size
    * (SURVEY §2.3's alternative): ONE shuffle equi-join on
    * (invoice_month, billing_account_id) + specificity scoring, no
    * broadcast required.
    * [[RuleDimStrategy.Auto]] picks by a BYTE estimate of the dim
    * (round-8 verdict #5): broadcastability is a function of bytes, not
    * rows — a dim with wide `credit_fields` payloads can pass any
    * row-count test and still overflow the executor-side rule index. */
  sealed trait RuleDimStrategy
  object RuleDimStrategy {
    case object Broadcast extends RuleDimStrategy
    case object Shuffle extends RuleDimStrategy
    /** `maxBroadcastBytes` ~ an executor-side rule index that leaves
      * comfortable margin under Spark's 8 GB broadcast hard cap. The
      * default 400 MB is the budget the old 4M-row heuristic ASSUMED
      * (~100 B/row) — now measured instead of assumed. `sampleRows`
      * bounds the driver-side size sample. */
    final case class Auto(maxBroadcastBytes: Long = 400L << 20,
                          sampleRows: Int = 1024) extends RuleDimStrategy
  }

  /** In-memory byte estimate of the dim: row count (one scan-only
    * aggregate job — over the DIM, never the fact) × average row payload
    * bytes measured on a bounded driver-side sample (`limit(n).collect`,
    * ≤`sampleRows` rows). Plan statistics are deliberately only a FLOOR
    * (`max`ed in): file sources report compressed bytes and local
    * relations estimate strings at a fixed 20 B — both understate exactly
    * the wide-payload dim this estimate exists to catch. Overestimating
    * degrades to the shuffle path, which stays correct; underestimating
    * OOMs the broadcast build — so every approximation here rounds UP. */
  private[kernel] def estimateDimBytes(dim: DataFrame, sampleRows: Int): Long = {
    val t0 = System.nanoTime()
    val n = dim.count()
    if (n == 0L) return 0L
    val t1 = System.nanoTime()
    val sample = dim.limit(sampleRows).collect()
    val t2 = System.nanoTime()
    val avg = sample.map(rowBytes).sum.toDouble / sample.length
    val sampled = (avg * n).toLong
    val planStats = dim.queryExecution.optimizedPlan.stats.sizeInBytes
    val plan = if (planStats.isValidLong) planStats.toLong else Long.MaxValue
    val t3 = System.nanoTime()
    // phase timings to stderr: the decision jobs are dim-only and should
    // be milliseconds — if the ×10 gate sees Auto-mode slowness, this line
    // says whether the estimate or the resolved ladder is eating the time
    System.err.println(
      f"[rulematch] auto-estimate: count=${(t1 - t0) / 1e9}%.3fs ($n rows) " +
        f"sample=${(t2 - t1) / 1e9}%.3fs stats=${(t3 - t2) / 1e9}%.3fs")
    // a plan stat that is the "unknown" Long.Max sentinel is no evidence
    if (plan == Long.MaxValue) sampled else math.max(sampled, plan)
  }

  /** Per-row in-memory size of one sampled row: measured bytes for
    * variable-width values (UTF-8 strings dominate the rule payload),
    * 8 B per fixed-width slot, plus per-field object overhead. */
  private def rowBytes(r: org.apache.spark.sql.Row): Long =
    (0 until r.length).map { i =>
      r.get(i) match {
        case null => 8L
        case s: String => 16L + 2L * s.length
        case b: Array[Byte] => 16L + b.length
        case _ => 16L
      }
    }.sum

  /** The Auto pick, exposed so RuleMatchSpec can pin that a WIDE dim under
    * the old 4M-row threshold now selects Shuffle. */
  private[kernel] def autoPicksBroadcast(dim: DataFrame, a: RuleDimStrategy.Auto): Boolean =
    estimateDimBytes(dim, a.sampleRows) <= a.maxBroadcastBytes

  /** Fact + the 6 payload columns resolved by the rule hierarchy. */
  def addRuleTag(fact: DataFrame, dimRaw: DataFrame,
                 strategy: RuleDimStrategy = RuleDimStrategy.Broadcast): DataFrame =
    strategy match {
      case RuleDimStrategy.Broadcast => addRuleTagBroadcast(fact, dimRaw)
      case RuleDimStrategy.Shuffle => addRuleTagShuffle(fact, dimRaw)
      case a: RuleDimStrategy.Auto =>
        if (autoPicksBroadcast(dimRaw, a)) addRuleTagBroadcast(fact, dimRaw)
        else addRuleTagShuffle(fact, dimRaw)
    }

  /** The ladder as one broadcast [[graft.functions.RuleIndex]] probed per
    * row by one expression. The one window pass ([[allFamiliesDeduped]])
    * is collected once per call — the dim is bounded contract metadata,
    * the same rows the 8 per-family broadcast builds used to collect —
    * sorted into [[Precedence]] order, grouped by (invoice_month,
    * billing_account_id) and broadcast once. Nothing is memoized, so a
    * first call costs what every later one does.
    *
    * Keys compare as the 8 equi-joins compared them: both sides are cast
    * to the type the analyzer coerces the pair to ([[coercedKeyTypes]]),
    * so a partition-inferred integer `invoice_month` meets the dim's
    * 'YYYYMM' string exactly as it did in the join. */
  private def addRuleTagBroadcast(fact: DataFrame, dimRaw: DataFrame): DataFrame = {
    val deduped = allFamiliesDeduped(withInvoiceMonth(dimRaw))
    val keyTypes = coercedKeyTypes(fact, deduped)
    val keys = MatchKeys.zip(keyTypes).map { case (c, t) => col(c).cast(t) }
    val payload = StructType(PayloadCols.map(c => deduped.schema(c).copy(nullable = true)))
    val toInternal = (keyTypes ++ payload.map(_.dataType))
      .map(CatalystTypeConverters.createToCatalystConverter)
    val famAt = MatchKeys.size + PayloadCols.size
    val rules = deduped.select(keys ++ PayloadCols.map(col) :+ col("__fam"): _*).collect()
      .sortBy(r => Precedence.indexOf(r.getInt(famAt)))
      .map { r =>
        val v = toInternal.zipWithIndex.map { case (f, i) => f(r.get(i)).asInstanceOf[AnyRef] }
        val (p, s, k) = Presence(r.getInt(famAt))
        ((v(0), v(1)), new RuleIndex.Rule(Option.when(p)(v(2)), Option.when(s)(v(3)),
          Option.when(k)(v(4)), v.drop(MatchKeys.size).toArray))
      }
    val index = fact.sparkSession.sparkContext.broadcast(RuleIndex(rules.toSeq))
    val tagged = fact.withColumn("__rule", VectorFunctions.ruleIndexProbe(keys, index, payload))
    def resolved(c: String) = col("__rule").getField(c).as(c)
    tagged.select(fact.columns.map(c => if (PayloadCols.contains(c)) resolved(c) else col(c)) ++
      PayloadCols.filterNot(fact.columns.contains).map(resolved): _*)
  }

  /** Per match key, the type the analyzer coerces (fact key = dim key) to —
    * the comparison the ladder's equi-joins made. Analyzed over an empty
    * relation with both sides' types, so no data is read. */
  private def coercedKeyTypes(fact: DataFrame, dim: DataFrame): Seq[DataType] = {
    val sides = StructType(MatchKeys.flatMap(c => Seq(
      StructField(s"f_$c", fact.schema(c).dataType), StructField(s"d_$c", dim.schema(c).dataType))))
    fact.sparkSession.createDataFrame(java.util.List.of[Row](), sides)
      .select(MatchKeys.map(c => col(s"f_$c") === col(s"d_$c")): _*)
      .queryExecution.analyzed.expressions
      .map(_.collectFirst { case e: EqualTo => e.left.dataType }.get)
  }

  /** The stacked dim for the shuffle fallback: the five [[MatchKeys]]
    * (absent specializers are null on the row itself = wildcards) +
    * `__spec` + plain payload. The old per-family reshape + union-of-8 is
    * gone (optimization round 17): the families PARTITION the dim, so the
    * union of the 8 reshaped family frames is exactly
    * [[allFamiliesDeduped]] with `__spec` derived per row from `__fam` —
    * one window pass instead of 8 filter+window subtrees. */
  private def tallAllFamilies(dim: DataFrame): DataFrame = {
    val spec = (2 to 8).foldLeft(when(col("__fam") === 1, specRank(1))) {
      (acc, i) => acc.when(col("__fam") === i, specRank(i))
    }
    allFamiliesDeduped(dim).select(
      (MatchKeys.map(col) :+ spec.as("__spec")) ++ PayloadCols.map(col): _*)
  }

  /** The non-broadcast fallback (SURVEY §2.3): semantically IDENTICAL to
    * the ladder — q21's oracle passes verbatim through this path, and
    * RuleMatchSpec pins frame-for-frame equality — but the dim is never
    * broadcast, so it degrades gracefully instead of OOMing when contract
    * metadata outgrows broadcast size.
    *
    * Shape: (1) stack the 8 deduped families into ONE tall dim (null
    * specializer = wildcard, `__spec` = precedence rank); (2) join the
    * DISTINCT fact rule-key tuples — resolution is a function of the five
    * [[MatchKeys]] alone, so the heavy per-row fact never meets the dim —
    * against the tall dim on MASKED fully-equi keys (below); (3) resolve
    * PER PAYLOAD COLUMN with `max(struct(__spec, value))` over non-null
    * cells — a null cell in a more specific family falls through to the
    * next, exactly the ladder's per-column coalesce (pandas `df.update`
    * skips NaN per cell); (4) one null-safe equi-join puts the resolved
    * payload back on the fact. Every join/agg is key-hashed — no
    * broadcast, no cartesian; Catalyst still broadcasts the small sides
    * when stats allow, which is the correct degradation in BOTH
    * directions.
    *
    * The masked-key join (round-9 verdict #3): the old shape joined on the
    * two [[RuleKeys]] alone and filtered wildcard residuals AFTER — so
    * every fact tuple met ALL families' rows for its (month, account), a
    * per-account fan-out that grew with dim density (q40 ×100 ratio 20.6
    * vs the ladder's 3.2). Instead, each probe tuple is expanded 8× (once
    * per family pattern) with every specializer wrapped in a ONE-FIELD
    * STRUCT that is nulled where the pattern is wildcard; the dim side
    * wraps its (already pattern-shaped) specializers the same way. Struct
    * FIELDS compare null-safely inside equi-join keys (top-level keys
    * don't), so wildcard=wildcard and value=value are one hash-join
    * equality: a tuple meets exactly its ≤8 matching rule rows, never a
    * whole account's rule set. The 8× expansion is on DISTINCT key tuples
    * only and carries just the key columns. */
  def addRuleTagShuffle(fact: DataFrame, dimRaw: DataFrame): DataFrame = {
    val dim = withInvoiceMonth(dimRaw)
    val tall = tallAllFamilies(dim)
    val t = SpecializerCols.foldLeft(tall)((df, c) =>
      df.withColumn(s"__m_$c", struct(col(c).as("v"))).drop(c))
    val fkeys = fact.select(MatchKeys.map(col): _*).distinct()
    val famsWith: Map[String, Seq[Int]] =
      SpecializerCols.map(c => c -> (1 to 8).filter(i => keysFor(i).contains(c))).toMap
    val probes = fkeys
      .withColumn("__fam", explode(array((1 to 8).map(lit(_)): _*)))
      .select(MatchKeys.map(col) ++ SpecializerCols.map(c =>
        struct(when(col("__fam").isin(famsWith(c): _*), col(c)).as("v"))
          .as(s"__m_$c")): _*)
    val matches = probes.join(t,
      RuleKeys ++ SpecializerCols.map(c => s"__m_$c"), "inner")
    val resolved = matches
      .groupBy(MatchKeys.map(col): _*)
      .agg(
        winner(PayloadCols.head),
        PayloadCols.tail.map(winner): _*)
      .select(MatchKeys.map(c => col(c).as(s"__k_$c")) ++
        PayloadCols.map(c => col(s"__w_$c").getField("v").as(c)): _*)
    // null-safe on the specializers: a null fact key matches the wildcard
    // families in the ladder (equality join keys simply absent there), so
    // the re-join must carry the null tuple back to its resolution row
    val cond = RuleKeys.map(c => col(c) === col(s"__k_$c"))
      .reduce(_ && _) &&
      SpecializerCols.map(c => col(c) <=> col(s"__k_$c")).reduce(_ && _)
    fact.join(resolved, cond, "left")
      .drop(MatchKeys.map(c => s"__k_$c"): _*)
  }

  /** Per-column most-specific-wins as ONE aggregate expression: max over
    * (specificity, value) structs, nulls (cells AND fully-missing rows)
    * ignored by max — struct comparison orders on `s` first and `__spec`
    * is unique per family, so ties are impossible and the pick is
    * deterministic. */
  private def winner(c: String): Column =
    max(when(col(c).isNotNull, struct(col("__spec").as("s"), col(c).as("v"))))
      .as(s"__w_$c")
}
