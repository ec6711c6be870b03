package graft.tools

import java.time.LocalDate
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Runs one E1 daily tick (`Launcher.runDaily`) over an etlbench billing
  * lake and writes the formatted plan of every file write it commits, in
  * order, to `<out>`. Driven by tools/tick_plan.py, which builds, runs and
  * masks it.
  *
  *   TickPlan <dataDir> <workDir> <today yyyy-MM-dd> <cores> <out>
  */
object TickPlan {
  def main(args: Array[String]): Unit = {
    val Array(data, work, today, cores, out) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "1000")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val plans = new ConcurrentLinkedQueue[String]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
          plans.add(qe.explainString(FormattedMode))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val failed = graft.pipeline.Launcher.runDaily(spark,
      graft.pipeline.Launcher.Config(s"$data/ods", s"$data/dim", s"$work/target",
        failureCsv = s"$work/failures.csv",
        extraDiscount = graft.kernel.Modes.ReferenceExtraDiscount),
      LocalDate.parse(today))
    require(failed.isEmpty, s"failed days: $failed")
    // the listener runs on the listener bus, after the write returns
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (plans.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      String.join("\n", plans))
    spark.stop()
  }
}
