package graft.etlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What Spark did on behalf of one span: the jobs and tasks whose job group
  * is the span's. Task intervals are kept so idle time between tasks (time
  * the driver spent planning, committing or waiting) can be measured. */
final class Counters {
  var jobs = 0
  var broadcastJobs = 0
  var tasks = 0
  var taskNs = 0L
  var cpuNs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var outputRecords = 0L
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "broadcast_jobs" -> broadcastJobs, "tasks" -> tasks,
    "task_s" -> taskNs / 1e9, "cpu_s" -> cpuNs / 1e9,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "output_records" -> outputRecords,
    "task_intervals_ms" -> intervals.map { case (a, b) => Seq(a, b) }.toSeq)
}

/** Attributes jobs and tasks to spans by job group. Broadcast builds run on
  * their own threads but inherit the submitting thread's local properties,
  * so they land in the span that triggered them; they are told apart by
  * the job description Spark gives them. */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val props = Option(js.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Tracer.GroupPrefix)).foreach { g =>
        val c = byGroup.computeIfAbsent(g, _ => new Counters)
        val desc = props.flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("") +
          props.flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
        c.synchronized {
          c.jobs += 1
          if (desc.toLowerCase.contains("broadcast")) c.broadcastJobs += 1
        }
        js.stageIds.foreach(stageGroup.put(_, g))
      }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(te.stageId)
    val m = te.taskMetrics
    if (g != null && m != null) {
      val c = byGroup.computeIfAbsent(g, _ => new Counters)
      c.synchronized {
        c.tasks += 1
        c.taskNs += m.executorRunTime * 1000000L
        c.cpuNs += m.executorCpuTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
        c.outputRecords += m.outputMetrics.recordsWritten
        c.intervals += ((te.taskInfo.launchTime, te.taskInfo.finishTime))
      }
    }
  }

  def take(group: String): Counters =
    Option(byGroup.remove(group)).getOrElse(new Counters)
}

/** One timed region: name, start, end, parent and the op it belongs to.
  * Times are ms since the epoch, comparable with task intervals. */
final case class Span(id: Int, name: String, op: Int, parent: Option[Int],
                      startMs: Double, endMs: Double, gcS: Double, counters: Counters) {
  def wallS: Double = (endMs - startMs) / 1e3
  def toJson: Map[String, Any] = Map(
    "id" -> id, "name" -> name, "op" -> op, "parent" -> parent.getOrElse(-1),
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS, "gc_s" -> gcS) ++
    counters.toJson
}

/** Spans kept in memory and written out once, at exit. While a span is
  * open its id is the job group of everything the calling thread submits;
  * spans nest, and each job belongs to the innermost open span. */
final class Tracer(spark: SparkSession) {
  private val listener = new GroupListener
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String)] = Nil
  private var nextId = 0

  def start(): Unit = spark.sparkContext.addSparkListener(listener)
  def stop(): Unit = spark.sparkContext.removeSparkListener(listener)

  def span[T](name: String, op: Int)(body: => T): (T, Span) = {
    val sc = spark.sparkContext
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1)
    open = (id, name) :: open
    sc.setJobGroup(Tracer.GroupPrefix + id, name)
    val gc0 = Tracer.gcMs()
    val t0 = Tracer.nowMs()
    val out = try body finally {
      open = open.tail
      open.headOption match {
        case Some((p, pName)) => sc.setJobGroup(Tracer.GroupPrefix + p, pName)
        case None => sc.clearJobGroup()
      }
    }
    val t1 = Tracer.nowMs()
    val gc1 = Tracer.gcMs()
    org.apache.spark.etlbench.ListenerBus.drain(sc)
    val s = Span(id, name, op, parent, t0, t1, (gc1 - gc0) / 1e3,
      listener.take(Tracer.GroupPrefix + id))
    spans += s
    (out, s)
  }

  def all: Seq[Span] = spans.toSeq
}

object Tracer {
  val GroupPrefix = "etlbench-span-"

  /** Wall clock in ms with sub-ms resolution, on the epoch Spark's task
    * launch/finish times use. */
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs(): Double = (System.nanoTime() + epochOffsetNs) / 1e6

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

/** Minimal JSON writer for the result files (maps, sequences, numbers,
  * strings, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
