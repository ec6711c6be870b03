package graft

/** Dev probe: run named queries from [[SparkEntry.queries]] in one JVM,
  * print executed-plan size and 2 timed runs each through
  * [[Measure.timed]] (caches and pinned RDDs dropped and the heap
  * collected before each run; wall seconds plus steal and foreign ticks)
  * on `local[$SPARK_GRAFT_CPUS]`, default 32. The minimal harness for "is
  * this query slow, or was the bench contaminated?" — e.g. `runMain
  * graft.Probe q22_kernel_full q24_kernel_sql_variant` with
  * `SPARK_GRAFT_SF_DIR` set.
  *
  * `--jobs` additionally prints, for the SECOND timed run of each query,
  * every Spark job it launched (wall seconds + summed task time + job
  * group/description) — the optimization guide's §1 "where is the time
  * going" empirical loop without a UI: broadcast-build jobs, window dedup
  * jobs, driver-side estimate jobs, and the main noop job all show up as
  * separate lines. `--explain` prints each query's formatted physical plan.
  */
object Probe {

  /** Per-job record collected by the listener; `stages` maps each stage to
    * (name incl. callsite, tasks, task-seconds) so the time is attributable
    * without a UI. */
  private final case class JobRow(
      id: Int, wallSec: Double, taskSec: Double, tasks: Int, desc: String,
      stages: Seq[(String, Int, Double)])

  private final class JobListener extends org.apache.spark.scheduler.SparkListener {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[JobRow]()
    private val started =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    private val taskNs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    private val nTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[Int]]()
    private val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val stageTaskNs = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    private val stageNTasks = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicInteger]()
    @volatile var enabled = false

    override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
      if (!enabled) return
      val desc = Option(js.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      started.put(js.jobId, (js.time, desc))
      val q = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      js.stageIds.foreach { sid => stageToJob.put(sid, js.jobId); q.add(sid) }
      jobStages.put(js.jobId, q)
      js.stageInfos.foreach(si => stageName.put(si.stageId, si.name))
      taskNs.put(js.jobId, new java.util.concurrent.atomic.AtomicLong(0L))
      nTasks.put(js.jobId, new java.util.concurrent.atomic.AtomicInteger(0))
    }
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val jid = stageToJob.get(te.stageId)
      if (jid != null && te.taskMetrics != null) {
        Option(taskNs.get(jid)).foreach(_.addAndGet(te.taskMetrics.executorRunTime * 1000000L))
        Option(nTasks.get(jid)).foreach(_.incrementAndGet())
        stageTaskNs.computeIfAbsent(te.stageId,
          _ => new java.util.concurrent.atomic.AtomicLong(0L))
          .addAndGet(te.taskMetrics.executorRunTime * 1000000L)
        stageNTasks.computeIfAbsent(te.stageId,
          _ => new java.util.concurrent.atomic.AtomicInteger(0))
          .incrementAndGet()
      }
    }
    override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
      val s = started.remove(je.jobId)
      if (s != null) {
        val t = Option(taskNs.remove(je.jobId)).map(_.get).getOrElse(0L)
        val n = Option(nTasks.remove(je.jobId)).map(_.get).getOrElse(0)
        val sts = Option(jobStages.remove(je.jobId)).map { q =>
          import scala.jdk.CollectionConverters._
          q.asScala.toSeq.sorted.flatMap { sid =>
            val ns = Option(stageTaskNs.get(sid)).map(_.get).getOrElse(0L)
            val sn = Option(stageNTasks.get(sid)).map(_.get).getOrElse(0)
            if (sn == 0) None // skipped stage (cached/reused exchange)
            else Some((Option(stageName.get(sid)).getOrElse(""), sn, ns / 1e9))
          }
        }.getOrElse(Nil)
        rows.add(JobRow(je.jobId, (je.time - s._1) / 1e3, t / 1e9, n, s._2, sts))
      }
    }
    def drain(): Seq[JobRow] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[JobRow]
      var r = rows.poll()
      while (r != null) { out += r; r = rows.poll() }
      out.toSeq.sortBy(_.id)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // ad-hoc conf overrides for A/B probes, e.g.
    // SPARK_GRAFT_PROBE_CONF="spark.sql.codegen.wholeStage=false"
    val conf = sys.env.get("SPARK_GRAFT_PROBE_CONF").toSeq
      .flatMap(_.split(",").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = Measure.session(Measure.cpus(32), conf: _*)
    // `--explain` prints each query's formatted physical plan (codegen
    // span numbering included) instead of only the plan size
    val explain = args.contains("--explain")
    val jobs = args.contains("--jobs")
    val names = args.toSeq.filterNot(a => a == "--explain" || a == "--jobs")
    val listener = new JobListener
    if (jobs) spark.sparkContext.addSparkListener(listener)
    // warmup
    Measure.noop(SparkEntry.entry(spark))
    names.foreach { n =>
      val fn = SparkEntry.benchQueries(n)
      val df = fn(spark, sfDir)
      println(s"===== $n plan size: ${df.queryExecution.executedPlan.toString.length}")
      if (explain) df.explain("formatted")
      (1 to 2).foreach { i =>
        if (jobs && i == 2) { listener.drain(); listener.enabled = true }
        val t = Measure.timed(spark)(Measure.noop(fn(spark, sfDir)))
        println(f"$n run$i: ${t.sec}%.2f s (steal ${t.steal}, foreign ${t.foreign} ticks)")
        if (jobs && i == 2) {
          listener.enabled = false
          // listener events are async — give the bus a moment to drain
          Thread.sleep(300)
          listener.drain().foreach { r =>
            val d = if (r.desc.length > 90) r.desc.take(90) + "…" else r.desc
            println(f"  job ${r.id}%4d wall=${r.wallSec}%7.3fs task=${r.taskSec}%8.3fs n=${r.tasks}%4d  $d")
            r.stages.foreach { case (sn, stn, sts) =>
              val nm = if (sn.length > 100) sn.take(100) + "…" else sn
              println(f"       stage n=$stn%4d task=$sts%8.3fs  $nm")
            }
          }
        }
      }
    }
    spark.stop()
  }
}
