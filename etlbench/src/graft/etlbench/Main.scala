package graft.etlbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{BillingSchema, Calculate, Conform, Modes, RuleMatch}
import graft.operators.{CorpusPipeline, Dedup, Reconcile, TextAnalysis}
import graft.pipeline.{Jobs, Launcher, Sink}

/** The session every run uses: Spark `local[N]` with N shuffle partitions,
  * scratch and warehouse directories inside the run's work directory. */
object Session {
  def build(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** One workload: the op the closed loop repeats, and the same op cut into
  * cumulative layer prefixes for the traced run. */
trait Workload {
  /** Untimed ops between the set-up and the timed ones. */
  def warmupOps: Int
  /** Runs op `i` through the program's public entry point; false when the
    * program reports a failure. */
  def op(s: SparkSession, i: Int): Boolean
  /** Cumulative prefixes of op `i`, cheapest first; the last is the op. */
  def prefixes(s: SparkSession, i: Int): Seq[(String, () => Unit)]
  /** Called once, untimed, after the set-up's op `i`. */
  def afterFirst(s: SparkSession, i: Int): Unit
  /** Output checks, untimed, after ops `1..lastOp` ran on top of the
    * set-up's op 0: (name, passed, detail). */
  def checks(s: SparkSession, lastOp: Int): Seq[(String, Boolean, String)]
  /** Layer counts measured outside any timed region. */
  def layerFacts(s: SparkSession, i: Int): Map[String, Double]
}

object Workload {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** `daily_tick` (E1, `Launcher.runDaily`) and `month_backfill` (E2,
  * `Jobs.runMonth`) over one generated month. */
final class Billing(data: String, work: String, daily: Boolean, month: java.time.YearMonth)
    extends Workload {
  private val ods = s"$data/ods"
  private val dim = s"$data/dim"
  private val target = s"$work/target"
  private val invoiceMonth = month.format(java.time.format.DateTimeFormatter.ofPattern("yyyyMM"))
  private val extra = Modes.ReferenceExtraDiscount
  private var firstDays: Seq[LocalDate] = Nil
  // a daily tick's CPU still falls ~15 % from its 2nd op to its 3rd; a
  // backfill op is long enough to warm the JIT by itself
  val warmupOps: Int = if (daily) 2 else 1

  /** Ticks cycle through days 5.. of the month, so every tick has the full
    * 4-day lookback (5 per-day jobs). */
  private def today(i: Int): LocalDate = month.atDay(5 + Math.floorMod(i, month.lengthOfMonth - 4))

  def days(i: Int): Seq[LocalDate] =
    if (!daily) (1 to month.lengthOfMonth).map(month.atDay)
    else {
      val (a, b) = Jobs.lookbackWindow(today(i))
      Iterator.iterate(a)(_.plusDays(1)).takeWhile(_.isBefore(b)).toSeq
    }

  def op(s: SparkSession, i: Int): Boolean =
    if (daily)
      Launcher.runDaily(s, Launcher.Config(ods, dim, target,
        failureCsv = s"$work/failures.csv", extraDiscount = extra), today(i)).isEmpty
    else {
      Jobs.runMonth(s, ods, dim, target, invoiceMonth, extraDiscount = extra)
      true
    }

  /** `Jobs.computeMonth`'s slice of the lake: the month, and one day for
    * the daily tick's per-day jobs. */
  private def slice(s: SparkSession, day: Option[LocalDate]): DataFrame = {
    val m = s.read.parquet(ods).filter(col("invoice_month") === invoiceMonth)
    day.fold(m)(d => m.filter(col("usage_day") >= lit(java.sql.Date.valueOf(d)) &&
      col("usage_day") < lit(java.sql.Date.valueOf(d.plusDays(1)))))
  }

  private def slices(i: Int): Seq[Option[LocalDate]] =
    if (daily) days(i).map(Some(_)) else Seq(None)

  def prefixes(s: SparkSession, i: Int): Seq[(String, () => Unit)] = {
    def each(f: DataFrame => DataFrame): () => Unit = () => slices(i).foreach { d =>
      Workload.noop(f(slice(s, d)))
    }
    lazy val dimDf = s.read.parquet(dim)
    Seq(
      "scan" -> each(identity),
      "rulematch" -> each(f => RuleMatch.addRuleTag(f, dimDf)),
      "modes" -> each(f => Calculate.calculateWithCredits(f, dimDf, extra)),
      "conform" -> each(f => Conform.conformToTarget(Calculate.calculateWithCredits(f, dimDf, extra))),
      "sink" -> (() => if (!op(s, i)) throw new IllegalStateException(s"op $i reported failed days")))
  }

  private def snapDir = s"$work/snapshot_first"

  def afterFirst(s: SparkSession, i: Int): Unit = {
    firstDays = days(i)
    s.read.parquet(target).filter(col("usage_day").isin(firstDays.map(java.sql.Date.valueOf): _*))
      .write.mode("overwrite").parquet(snapDir)
  }

  private val keys = BillingSchema.Grain13
  private val compared =
    BillingSchema.TargetColumns.filterNot(c => keys.contains(c) || c == "etl_time")
  private val money = Seq("cost", "cost_at_list") ++ BillingSchema.CreditColumns ++
    Seq("internal_credits_cost", "internal_credits_consumption")

  def checks(s: SparkSession, lastOp: Int): Seq[(String, Boolean, String)] = {
    val out = s.read.parquet(target)
    def perDay(df: DataFrame): Map[String, Seq[Double]] =
      df.groupBy(col("usage_day").cast("string"))
        .agg(count(lit(1)).cast("double"), money.map(c => sum(col(c))): _*)
        .collect().map(r => r.getString(0) -> (1 to money.size + 1).map(r.getDouble)).toMap
    lazy val o = perDay(out)
    lazy val in = perDay(slice(s, None).filter(col("usage_day").cast("string").isin(o.keys.toSeq: _*)))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a))
    def diffRows(a: DataFrame, b: DataFrame) = Reconcile.snapshotDiff(a, b, keys, compared).count()
    def dayFilter(ds: Seq[LocalDate]) = col("usage_day").isin(ds.map(java.sql.Date.valueOf): _*)
    Seq(
      Main.check("partition_rows") {
        val bad = o.keys.filter(d => !in.get(d).exists(_.head == o(d).head)).toSeq.sorted
        val missing = if (daily) Nil else days(0).map(_.toString).filterNot(o.contains)
        (bad.isEmpty && missing.isEmpty && o.nonEmpty,
          s"${o.size} partitions written; row counts differ: ${bad.mkString(",")}; " +
            s"missing: ${missing.mkString(",")}")
      },
      Main.check("money_conserved") {
        val bad = for {
          d <- o.keys.toSeq.sorted
          (c, k) <- money.zipWithIndex
          if !in.get(d).exists(v => close(v(k + 1), o(d)(k + 1)))
        } yield s"$d:$c"
        (bad.isEmpty, s"${money.size} columns on ${o.size} days; differ: ${bad.take(10).mkString(",")}")
      },
      Main.check("idempotent") {
        // the set-up op's days that later ops wrote again
        val rewritten = firstDays.filter(d => (1 to lastOp).exists(i => days(i).contains(d)))
        val n = diffRows(s.read.parquet(snapDir).filter(dayFilter(rewritten)),
          out.filter(dayFilter(rewritten)))
        (n == 0 && rewritten.nonEmpty,
          s"$n rows differ between the first op and the last on ${rewritten.size} rewritten days")
      },
      Main.check("shuffle_equals_broadcast") {
        // one day recomputed through the shuffle rule join, read back with
        // the written table's column types
        val day = days(lastOp).last
        val viaShuffle = Conform.conformToTarget(Calculate.calculateWithCredits(
          slice(s, Some(day)), s.read.parquet(dim), extra,
          ruleStrategy = RuleMatch.RuleDimStrategy.Shuffle))
        val typed = viaShuffle.select(out.schema.map(f => col(f.name).cast(f.dataType)): _*)
        val n = diffRows(typed, out.filter(dayFilter(Seq(day))))
        (n == 0, s"$n rows differ on $day")
      })
  }

  def layerFacts(s: SparkSession, i: Int): Map[String, Double] = {
    // the share of rows no rule matches, on the op's last slice
    val tagged = RuleMatch.addRuleTag(slice(s, slices(i).last), s.read.parquet(dim))
    val r = tagged.agg(count(lit(1)), sum(when(col("mode").isNull, 1).otherwise(0))).collect()(0)
    val files = days(i).map { d =>
      val p = Paths.get(target, s"invoice_month=$invoiceMonth", s"usage_day=$d")
      if (!Files.isDirectory(p)) 0L
      else Files.list(p).filter(_.getFileName.toString.endsWith(".parquet")).count()
    }.sum
    Map("rulematch.unmatched_frac" -> r.getLong(1).toDouble / r.getLong(0),
      "sink.files" -> files.toDouble)
  }
}

/** `corpus_clean`: `CorpusPipeline.c01CorpusClean` over a generated
  * `documents.parquet`. */
final class Corpus(data: String, work: String, pinned: Option[String] = None) extends Workload {
  private val out = s"$work/c01"
  private var firstDigest = ""
  val warmupOps = 4

  def op(s: SparkSession, i: Int): Boolean = {
    CorpusPipeline.c01CorpusClean.fn(s, data).write.mode("overwrite").parquet(out)
    true
  }

  private def nodes(s: SparkSession) = Dedup.corpus(s, data).select(col("doc_id"))
  private def pairs(s: SparkSession) = Dedup.d03MinHashLsh.fn(s, data).select(col("id_a"), col("id_b"))

  def prefixes(s: SparkSession, i: Int): Seq[(String, () => Unit)] = Seq(
    "dedup.corpus" -> (() => Workload.noop(Dedup.corpus(s, data))),
    "dedup.pairs" -> (() => Workload.noop(pairs(s))),
    "dedup.keeper" -> (() => Workload.noop(Dedup.keeperSelection(nodes(s), pairs(s)))),
    "text.quality" -> (() => Workload.noop(TextAnalysis.t02Quality.fn(s, data))),
    "c01" -> (() => op(s, i)))

  /** sha256 of `doc_id,quality_score` lines sorted by doc_id, the score at
    * its 4 rounded decimals. */
  private def digest(df: DataFrame): String = {
    val lines = df.select(col("doc_id"), col("quality_score")).orderBy("doc_id").collect()
      .map(r => f"${r.getLong(0)},${r.getDouble(1)}%.4f").mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(lines.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString
  }

  def outputDigest(s: SparkSession): String = digest(s.read.parquet(out))

  def afterFirst(s: SparkSession, i: Int): Unit = firstDigest = outputDigest(s)

  /** c01 recomposed with the other connected-components implementation
    * (large-star/small-star instead of label propagation). */
  private def viaStar(s: SparkSession): DataFrame = {
    val labels = Dedup.keeperSelectionStar(nodes(s), pairs(s))
    val keepers = labels.filter(col("node") === col("cluster")).select(col("node").as("doc_id"))
    TextAnalysis.t02Quality.fn(s, data).join(keepers, Seq("doc_id"))
      .filter(col("quality_score") >= 0.35) // CorpusPipeline.QualityThreshold
  }

  /** The output must repeat across ops and match the digest pinned for
    * this seed; a seed with no pinned digest is checked against c01
    * recomposed with the other components implementation instead. */
  def checks(s: SparkSession, lastOp: Int): Seq[(String, Boolean, String)] = {
    lazy val d = outputDigest(s)
    Seq(
      Main.check("repeatable") {
        val n = s.read.parquet(out).count()
        (d == firstDigest && n > 0, s"$n rows; first op $firstDigest, last op $d")
      },
      pinned match {
        case Some(p) => Main.check("pinned_digest")((d == p, s"output $d, pinned $p"))
        case None => Main.check("star_components_agree") {
          val star = digest(viaStar(s))
          (star == d, s"label propagation $d, large/small star $star")
        }
      })
  }

  def layerFacts(s: SparkSession, i: Int): Map[String, Double] = {
    val docs = Dedup.corpus(s, data).count()
    Map("dedup.pairs_per_doc" -> pairs(s).count().toDouble / docs)
  }
}

/** One benchmark run in one JVM: the set-up, then a closed loop of ops
  * for the given seconds (or, traced, rounds of the op's cumulative layer
  * prefixes and the op untraced), then the output checks. Writes raw
  * samples as JSON; the arithmetic on them is done by the caller.
  *
  * args: `<workload> <dataDir> <workDir> <seconds> <trace 0|1> <cores>
  * <out.json> <billing month yyyy-MM> <pinned c01 digest or ->`
  */
object Main {

  private def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU seconds of this process's live threads, by group: the JIT's
    * compiler threads, the garbage collector's threads, Spark's task
    * threads, and the rest. Read from /proc/self/task; empty elsewhere. */
  private def threadCpu(): Map[String, Double] = {
    val tick = 100.0 // USER_HZ on Linux
    def group(name: String) =
      if (name.contains("CompilerThre")) "jit"
      else if (name.startsWith("GC Thread") || name.startsWith("G1 ")) "gc"
      else if (name.startsWith("Executor task")) "task"
      else "other"
    try {
      val tasks = Option(new java.io.File("/proc/self/task").listFiles).getOrElse(Array.empty)
      tasks.toSeq.flatMap { t =>
        try {
          val s = new String(Files.readAllBytes(Paths.get(t.getPath, "stat")))
          val name = s.substring(s.indexOf('(') + 1, s.lastIndexOf(')'))
          val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
          Some(group(name) -> (f(11).toLong + f(12).toLong) / tick)
        } catch { case _: Exception => None }
      }.groupMapReduce(_._1)(_._2)(_ + _)
    } catch { case _: Exception => Map.empty }
  }

  private def classesLoaded(): Long = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  /** Classes Spark's code generator has compiled in this JVM. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def vmHwmKb(): Long =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** Runs one output check, reporting its time; an exception fails it. */
  def check(name: String)(body: => (Boolean, String)): (String, Boolean, String) = {
    val (r, t) = timed(try body catch { case e: Exception => (false, e.toString) })
    (name, r._1, f"${r._2} [${t}%.1f s]")
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val Array(name, data, work, secondsS, traceS, coresS, outPath, monthS, pinned) = args
    val month = java.time.YearMonth.parse(monthS)
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = coresS.toInt
    val wl: Workload = name match {
      case "daily_tick" => new Billing(data, work, daily = true, month)
      case "month_backfill" => new Billing(data, work, daily = false, month)
      case "corpus_clean" => new Corpus(data, work, Some(pinned).filter(_ != "-"))
    }
    val host0 = (graft.ScaleSmoke.hostBusyTicks(), graft.ScaleSmoke.ownBusyTicks(),
      graft.ScaleSmoke.stealTicks())

    val heap = new HeapWatch
    // set-up: session start plus op 0, the first op of the cold JVM
    var spark: SparkSession = null
    var failedOps = 0
    val (setupOk, setupS) = timed {
      spark = Session.build(work, cores)
      val ok = wl.op(spark, 0)
      spark.catalog.clearCache()
      ok
    }
    if (!setupOk) failedOps += 1
    wl.afterFirst(spark, 0)
    // a fixed count of untimed warm-up ops, so that the timed ones find the
    // JIT past the bulk of its first compilations and start at the same
    // point of its warming whatever the host's speed
    var opIx = 1
    while (opIx <= wl.warmupOps) {
      if (!wl.op(spark, opIx)) failedOps += 1
      spark.catalog.clearCache()
      opIx += 1
    }
    val warmups = opIx - 1

    val ops = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val tracer = new Tracer(spark)
    val host1 = (graft.ScaleSmoke.hostBusyTicks(), graft.ScaleSmoke.ownBusyTicks(),
      graft.ScaleSmoke.stealTicks())
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def timedOp(i: Int): Unit = {
      val (c0, a0, g0) = (cpuNs(), heap.allocatedBytes, threadCpu())
      val (cl0, cg0) = (classesLoaded(), codegenCompiles())
      val (_, clear) = timed(spark.catalog.clearCache())
      val (ok, wall) = timed(try wl.op(spark, i) catch {
        case e: Exception => System.err.println(s"op $i failed: $e"); false
      })
      val (cpu, alloc, g1) = ((cpuNs() - c0) / 1e9, heap.allocatedBytes - a0, threadCpu())
      if (!ok) failedOps += 1
      ops += Map("op" -> i, "wall_s" -> wall, "clear_s" -> clear, "cpu_s" -> cpu,
        "alloc_mb" -> alloc / 1e6, "ok" -> ok,
        "classes_loaded" -> (classesLoaded() - cl0), "codegen_compiles" -> (codegenCompiles() - cg0),
        "thread_cpu_s" -> Seq("jit", "gc", "task").map(k =>
          k -> (g1.getOrElse(k, 0.0) - g0.getOrElse(k, 0.0))).toMap)
    }
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var facts = Map.empty[String, Double]
    if (!traced) {
      while (ops.isEmpty || elapsed < seconds) {
        timedOp(opIx)
        opIx += 1
      }
    } else {
      // each round runs the op untraced, then its prefixes traced (the op
      // itself last), then the op untraced again, so the JIT's warming over
      // consecutive ops cancels out of the traced/untraced comparison
      while (rounds.isEmpty || elapsed < seconds) {
        timedOp(opIx)
        tracer.start()
        try tracer.span("op", opIx) {
          wl.prefixes(spark, opIx).foreach { case (layer, f) =>
            spark.catalog.clearCache()
            tracer.span(layer, opIx)(f())
          }
        } finally tracer.stop()
        timedOp(opIx)
        if (facts.isEmpty) facts = wl.layerFacts(spark, opIx)
        rounds += Map("op" -> opIx,
          "prefixes" -> tracer.all.filter(s => s.op == opIx && s.name != "op").map(_.toJson))
        opIx += 1
      }
    }
    val host2 = (graft.ScaleSmoke.hostBusyTicks(), graft.ScaleSmoke.ownBusyTicks(),
      graft.ScaleSmoke.stealTicks())
    val measuredS = elapsed
    // peaks of the set-up and the ops, before the checks add their own
    val vmHwm = vmHwmKb()
    val liveHeap = heap.peakLiveBytes
    val tChecks = System.nanoTime()
    val checks = try wl.checks(spark, opIx - 1) catch {
      case e: Exception => Seq(("checks", false, e.toString))
    }
    val checksS = (System.nanoTime() - tChecks) / 1e9
    val conf = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sorted.toMap
    spark.stop()

    def delta(a: (Long, Long, Long), b: (Long, Long, Long)) = Map(
      "host_busy_ticks" -> (b._1 - a._1), "own_busy_ticks" -> (b._2 - a._2),
      "foreign_busy_ticks" -> ((b._1 - a._1) - (b._2 - a._2)), "steal_ticks" -> (b._3 - a._3))
    val result = Map(
      "workload" -> name,
      "setup_s" -> setupS,
      "warmup_ops" -> warmups,
      "ops" -> ops.toSeq,
      "measured_s" -> measuredS,
      "checks_s" -> checksS,
      "failed_ops" -> failedOps,
      "vmhwm_kb" -> vmHwm,
      "live_heap_mb" -> liveHeap / 1e6,
      "cores" -> cores,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "layer_facts" -> facts,
      "rounds" -> rounds.toSeq,
      "conditions" -> Map(
        "setup" -> delta(host0, host1), "measured" -> delta(host1, host2),
        "spark_conf" -> conf,
        "java" -> System.getProperty("java.version")))
    Files.write(Paths.get(outPath), Json(result).getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(outPath.replaceAll("\\.json$", "") + ".spans.json"),
      Json(tracer.all.map(_.toJson)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Heap figures from the GC notifications: the most heap in use right
  * after a collection (what the program kept live at once, whatever the
  * heap's size), and the bytes allocated so far (heap in use before each
  * collection minus after the one before it, plus what came since). */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val memory = ManagementFactory.getMemoryMXBean
  private var peak = 0L
  private var lastAfter = memory.getHeapMemoryUsage.getUsed
  private var allocated = 0L

  def peakLiveBytes: Long = synchronized(peak)
  def allocatedBytes: Long = synchronized(allocated + memory.getHeapMemoryUsage.getUsed - lastAfter)

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val gc = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val before = gc.getMemoryUsageBeforeGc.values.asScala.map(_.getUsed).sum
        val after = gc.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        HeapWatch.this.synchronized {
          allocated += before - lastAfter
          lastAfter = after
          peak = math.max(peak, after)
        }
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }
}

/** Prints `<dir> <digest>` of c01's output over each generated corpus
  * directory: the values `etlbench/corpus_digests.json` pins.
  *
  * args: `<workDir> <corpusDir>...`
  */
object PinDigests {
  def main(args: Array[String]): Unit = {
    val spark = Session.build(args(0), Runtime.getRuntime.availableProcessors())
    try args.drop(1).foreach { dir =>
      val c = new Corpus(dir, s"${args(0)}/c01")
      c.op(spark, 0)
      println(s"$dir ${c.outputDigest(spark)}")
    } finally spark.stop()
  }
}
