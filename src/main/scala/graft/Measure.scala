package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one measurement core of the dev mains (Bench, Probe, ScaleSmoke,
  * PlanDump, Verify): the session they run in, the reset-and-time step
  * every timed run goes through, and the noop sink and JSON escape their
  * output needs. Policy (what counts as contaminated, when to retry) stays
  * with each main; the host counters are read by [[ScaleSmoke]]'s `/proc`
  * readers. */
object Measure {

  /** `SPARK_GRAFT_CPUS`, or the calling main's own default. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** `local[cpus]` with AQE on, UTC, the UI off and log level WARN;
    * shuffle partitions default to `cpus`. `conf` is applied last, so it
    * can override any of these. */
  def session(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = conf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Fully materialize `df` without writing it anywhere (`count()` would
    * let Catalyst prune the output projection and under-measure). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JSON string escape: backslashes, quotes and control characters —
    * Spark exception messages and builder-authored SQL routinely carry
    * newlines, tabs and Windows-style paths that would otherwise break
    * the emitted JSON. */
  def jsonEscape(s: String): String =
    String.valueOf(s).flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** One timed run: wall seconds, host steal ticks and foreign ticks (-1
    * where a counter could not be read), and this process's own
    * fault/CPU counter deltas. */
  final case class Timing(sec: Double, steal: Long, foreign: Long, self: ScaleSmoke.SelfStat)

  /** CPU ticks burned by OTHER processes over a window: the host's busy
    * delta minus this process's own utime+stime delta minus the window's
    * hypervisor steal (the host busy sum includes the steal field, so
    * leaving it in would count steal twice once a caller adds the steal
    * channel back — ADVICE r10). Clamped at 0; -1 when any counter could
    * not be read. */
  def foreignTicks(host0: Long, host1: Long, own0: Long, own1: Long,
      steal0: Long, steal1: Long): Long =
    if (Seq(host0, host1, own0, own1, steal0, steal1).exists(_ < 0)) -1L
    else math.max(0L, (host1 - host0) - (own1 - own0) - math.max(0L, steal1 - steal0))

  /** Time `f` from a reset state. Before the clock starts:
    *  - drop cached tables, so one run's cache doesn't serve the next run
    *    or pressure the next query's heap;
    *  - release every persistent RDD, blocking: the connected-components
    *    loop behind d07 and d12 leaves its final state pinned (the last
    *    round's `localCheckpoint`ed RDD), and localCheckpoint blocks are
    *    UNEVICTABLE storage that
    *    neither clearCache nor GC touches. They shrink the unified pool's
    *    execution side for every later measurement, and whichever big
    *    shuffle/broadcast query tips into spill first reads 15-20× slow on
    *    a byte-identical plan (observed on q47 and q40 in the ×10 gate:
    *    position-dependent, absent in fresh-JVM isolation). A query's own
    *    in-flight checkpoints remain its own timed cost;
    *  - collect the heap: after many queries it carries every
    *    predecessor's surviving garbage (AQE/listener state, broadcasts
    *    pinned until the next full GC), and a measurement taken against
    *    that heap charges THIS query for THAT garbage — observed as q47's
    *    ladder timing 12-20× only when ≥10 queries precede it, with a plan
    *    byte-identical to q21's. A real regression survives GC just fine.
    * Exceptions from `f` propagate. */
  def timed(spark: SparkSession)(f: => Unit): Timing = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    val (h0, s0) = ScaleSmoke.hostTicks(); val o0 = ScaleSmoke.selfStat()
    val t0 = System.nanoTime()
    f
    val sec = (System.nanoTime() - t0) / 1e9
    val (h1, s1) = ScaleSmoke.hostTicks(); val o1 = ScaleSmoke.selfStat()
    Timing(sec, if (s0 >= 0 && s1 >= 0) s1 - s0 else -1L,
      foreignTicks(h0, h1, o0.busy, o1.busy, s0, s1), o1 - o0)
  }
}
