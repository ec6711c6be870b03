package graft

/** Benchmark main — one JSON line on stdout (driver contract).
  *
  * Each declared query is executed against `SPARK_GRAFT_SF_DIR` and fully
  * materialized into the `noop` sink (count() would let Catalyst prune the
  * output projection and under-measure). One global warmup run (the flagship
  * kernel query) absorbs JVM/codegen/session init so per-query numbers
  * measure the queries, not Spark startup.
  *
  * Noise hygiene (this VM shows heavy CPU contention — round-1 numbers were
  * ~5× environment noise): every query runs `SPARK_GRAFT_BENCH_RUNS` times
  * (default 3). The archival file (`bench_full.json`) carries the per-query
  * MEDIAN map plus `queries_min` and the full per-run arrays; the stdout
  * summary carries HEADLINE SCALARS ONLY (value, value_min, counts, CPU
  * seconds, host steal ticks) — at 125 queries even one per-query map
  * outgrows the driver's parse window (three rounds of `"parsed": null`),
  * so `queries` is printed empty and readers follow `full_json`.
  *
  * THE HEADLINE TO READ ROUND-OVER-ROUND IS `value_min` — the sum of
  * per-query minima, the steal-immune statistic (a steal burst can only
  * inflate a run, never deflate one, so the min over round-robin runs is
  * the closest observable to the quiet-host time). `value` (sum of
  * medians) is kept for continuity but moves with host contention: r5→r6
  * it showed a phantom +19% on a flat min-sum. README §bench documents
  * this reading order.
  *
  * Steal robustness (three round-5 runs spread 64–70s on contention alone):
  * runs are interleaved ROUND-ROBIN across queries — a steal burst then
  * contaminates one run of many queries instead of every run of one query —
  * and the JSON carries the full per-run time and contamination arrays
  * (`queries_runs` / `queries_steal_runs`; since round 10 the per-run
  * contamination channel counts hypervisor steal PLUS hot foreign load —
  * CPU burned by concurrent processes, the root-caused ladder-flakiness
  * trigger that steal alone cannot see) plus `queries_unstable`, the
  * queries whose runs disagree by >20% (read their `queries_min`, the
  * median is contaminated). Queries whose timed path would carry a side
  * effect are warmed first so the effect lands outside the timing (q36's
  * bucketed snapshot pair and q41's bucketed ods are written once per JVM
  * by their first run; q39's fact staging likewise — its timed runs still
  * re-execute the full streaming drain by design). If a side-effect warmup
  * FAILS, the query is EXCLUDED from timing (its timed runs would carry
  * the write the warmup exists to absorb — ADVICE r7).
  *
  * The bench REACTS to steal, not just flags it (round-7 verdict #1): a
  * query whose every round-robin run saw nonzero host steal has no
  * trustworthy observation, so after the round-robin it is re-run (up to
  * `SPARK_GRAFT_BENCH_RETRIES`, default 2, stopping at the first
  * zero-steal run) and the new observations join the per-run arrays —
  * `queries_min`/`value_min` then have at least one quiet run to stand
  * on. `queries_retried` lists the queries that needed it; BenchSpec
  * proves the trigger and selection on synthetic contaminated runs.
  *
  * The former `scale10` section is RETIRED (round-12 verdict #4 — two
  * rounds of phantom single-run ×10 regressions the quiet gate
  * contradicted): SCALE_SMOKE.json, written by `runMain graft.ScaleSmoke`
  * under its retry-on-violation + per-side-minima discipline, is the one
  * authoritative ×10 source; the JSON carries a `scale10_note` pointer.
  *
  * STREAMING MACHINERY CALIBRATION (round-8 verdict #1): the streaming
  * entries (q39/q44/q46/q48) re-run a full Structured Streaming drain per
  * timed run — by design, that IS the entry — but most of that wall time
  * is fixed latency (checkpoint init, `AvailableNow` planning, commit
  * log, sink read planning) that can never regress with data; at r8 it
  * was 17% of the headline, burying real regressions. Before timing, the
  * bench runs each streaming query's MACHINERY PROBE — the identical
  * drain harness over an epsilon staged source (1 row; 2 rows for the
  * append sinks, which need one watermark-closed emission or the
  * read-back has no schema) —
  * `SPARK_GRAFT_BENCH_CAL_RUNS` (default 3) times and takes the
  * minimum as that query's fixed floor. Every timed run of the query then
  * reports `max(measured − floor, 0)`: the data-dependent work, which is
  * the only part that CAN regress. The floor itself is published as
  * `queries_machinery_cal` (so the full wall time is reconstructible:
  * reported + floor), and `value`/`value_min` sum the ADJUSTED numbers —
  * documented in README §bench. A failed calibration leaves the query
  * unadjusted (floor 0) rather than excluded: unadjusted numbers are
  * merely diluted, not wrong.
  */
object Bench {

  /** Retry trigger: every recorded run of this query saw nonzero host
    * steal (and steal was observable at all — the -1 sentinel never
    * triggers). No run is trustworthy, so the min is still contaminated. */
  private[graft] def allContaminated(runs: Seq[(Double, Long)]): Boolean =
    runs.nonEmpty && runs.forall(_._2 > 0)

  /** The observation to keep among repeated runs of one query: minimum
    * time. A steal burst can only inflate a run, never deflate it, so the
    * fastest observation is the closest to the quiet-host time —
    * `value_min`'s argument, applied per observation set. */
  private[graft] def bestObservation(runs: Seq[(Double, Long)]): (Double, Long) =
    runs.minBy(_._1)

  private def processCpuSeconds(): (Double, Double) = {
    import java.lang.management.ManagementFactory
    val os = ManagementFactory.getOperatingSystemMXBean
    os match {
      case sun: com.sun.management.OperatingSystemMXBean =>
        // getProcessCpuTime = user+sys in ns; no split available — report
        // total as "user" and leave sys 0 rather than guessing
        (sun.getProcessCpuTime / 1e9, 0.0)
      case _ => (-1.0, -1.0)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = Measure.session(Measure.cpus(32))

    val steal0 = ScaleSmoke.stealTicks()
    try Measure.noop(SparkEntry.entry(spark))
    catch {
      case e: Throwable =>
        // a broken flagship means the first measured query absorbs JVM
        // init — never swallow this silently
        System.err.println(s"[bench] WARMUP FAILED (flagship query): $e")
    }
    // the flagship only touches the billing tables — also warm the
    // documents/embeddings read paths and the text/vector codegen, or the
    // alphabetically-first corpus query (c01) absorbs that one-time cost
    // into all of its timed runs (caches are still cleared per timed run).
    // q36/q41 additionally write their ensure-once artifacts here (bucketed
    // snapshot pair / bucketed ods) so timed runs measure only reads; q39
    // stages its streaming source file. For THOSE, a failed warmup means
    // every timed run would carry the write the warmup absorbs — exclude
    // the query instead of silently timing the write (ADVICE r7).
    val excluded = scala.collection.mutable.Map.empty[String, String]
    val sideEffectWarmed = Set(
      "q36_bucketed_reconcile", "q39_kernel_streaming", "q41_kernel_bucketed",
      "q44_windowed_streaming", // q44–q51 stage their source file once per (JVM, dir)
      "q46_windowed_append_sink", "q48_sessionize_append_sink",
      "q50_interval_join_stream", "q51_dedup_stream",
      // d17/q57 build the persisted near-dup index once per (JVM, dir) —
      // timed runs must measure the read-back shape, not the build
      "d17_neardup_indexed", "q57_neardup_stream_gate",
      // q58/q59 serve the persisted VECTOR index to a stream — same reason
      "q58_ann_stream_enrich", "q59_ann_stream_filtered",
      // s20 filters the same persisted index — build once before timing
      "s20_ann_filtered_indexed")
    (Seq("t01_token_count", "s03_centroids") ++ sideEffectWarmed.toSeq.sorted)
      .foreach { n =>
        SparkEntry.benchQueries.get(n).foreach { f =>
          try Measure.noop(f(spark, sfDir))
          catch { case e: Throwable =>
            System.err.println(s"[bench] warmup $n failed: ${e.getMessage}")
            if (sideEffectWarmed(n))
              excluded(n) = s"side-effect warmup failed: ${e.getMessage}"
          }
        }
      }
    spark.catalog.clearCache()

    // optional comma-separated subset (local iteration on one query's
    // timing without the full 20-min round-robin); headline `value` is
    // only comparable across rounds when unset
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSet)
    val qs = SparkEntry.benchQueries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => excluded.contains(n) }
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // ROUND-ROBIN over queries, not runs-back-to-back: a host steal burst
    // contaminates at most one run per query, so the median/min stay
    // interpretable without a re-run
    val perRun = Array.fill(qs.size)(Vector.empty[(Double, Long)])
    // streaming drains flush checkpoints through kernel worker threads
    // whose CPU is indistinguishable from a foreign process — exempt them
    // from the hot-foreign trigger or every drain self-reports as
    // contaminated and retry-loops
    val selfIoExempt = Set("q39_kernel_streaming", "q44_windowed_streaming",
      "q46_windowed_append_sink", "q48_sessionize_append_sink",
      "q50_interval_join_stream", "q51_dedup_stream")
    def timedRun(name: String)(run: => Unit): Option[(Double, Long)] =
      try {
        val t = Measure.timed(spark)(run)
        // the per-run contamination channel counts hypervisor steal PLUS
        // hot foreign load (CPU burned by concurrent processes beyond
        // ~half a core for the run) — concurrent JVM workloads convoy the
        // big hash aggregates up to 20× with ZERO steal (the root-caused
        // ladder flakiness, docs/LADDER_INVESTIGATION.md), so a run's
        // quietness claim must cover both. startsWith: calibration probes
        // time as "<name> (machinery cal)"; the 25-tick absolute floor
        // keeps sub-second runs from flagging harness noise (a few ticks
        // of shell/driver activity) as foreign
        val hotForeign =
          if (t.foreign > math.max((t.sec * 50).toLong, 25L) &&
              !selfIoExempt.exists(name.startsWith))
            t.foreign
          else 0L
        if (hotForeign > 0)
          System.err.println(
            f"[bench] $name: foreign host load ${t.foreign} ticks in a " +
              f"${t.sec}%.1f s run — concurrent process, measurement suspect")
        Some((t.sec,
          if (t.steal >= 0) t.steal + hotForeign
          else if (hotForeign > 0) hotForeign
          else -1L))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        None
      }
    // machinery calibration (round-8 verdict #1): min of a few epsilon
    // drains per streaming query = its fixed-latency floor; timed runs
    // below report measured − floor (clamped at 0). Runs BEFORE the
    // round-robin so the probes also act as warmup for the drain harness.
    val calRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_CAL_RUNS", "3").toInt
    val machineryProbes: Map[String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "q39_kernel_streaming" -> graft.queries.KernelQueries.q39MachineryProbe,
      "q44_windowed_streaming" -> graft.streaming.StreamQueries.q44MachineryProbe,
      "q46_windowed_append_sink" -> graft.streaming.StreamQueries.q46MachineryProbe,
      "q48_sessionize_append_sink" -> graft.streaming.StreamQueries.q48MachineryProbe,
      "q50_interval_join_stream" -> graft.streaming.StreamQueries.q50MachineryProbe,
      "q51_dedup_stream" -> graft.streaming.StreamQueries.q51MachineryProbe,
      "q55_stream_static_join" -> graft.streaming.StreamQueries.q55MachineryProbe,
      "q57_neardup_stream_gate" -> graft.streaming.StreamQueries.q57MachineryProbe,
      "q58_ann_stream_enrich" -> graft.streaming.StreamQueries.q58MachineryProbe,
      "q59_ann_stream_filtered" -> graft.streaming.StreamQueries.q59MachineryProbe)
    val machineryCal: Map[String, Double] = machineryProbes.flatMap { case (n, f) =>
      if (excluded.contains(n)) None
      else {
        val obs = (1 to calRuns).flatMap(_ =>
          timedRun(s"$n (machinery cal)")(Measure.noop(f(spark, sfDir))).map(_._1))
        if (obs.isEmpty) { System.err.println(s"[bench] $n: calibration failed — timing unadjusted"); None }
        else Some(n -> obs.min)
      }
    }
    def adjust(name: String, obs: (Double, Long)): (Double, Long) =
      machineryCal.get(name) match {
        case Some(floor) => (math.max(obs._1 - floor, 0.0), obs._2)
        case None => obs
      }

    for (_ <- 1 to runs; ((name, fn), i) <- qs.zipWithIndex)
      timedRun(name)(Measure.noop(fn(spark, sfDir))).foreach(o => perRun(i) :+= adjust(name, o))

    // steal-reactive retry (round-7 verdict #1): queries whose EVERY run
    // was steal-contaminated get bounded quiet re-runs appended, stopping
    // at the first zero-steal observation
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_BENCH_RETRIES", "2").toInt
    val retriedNames = scala.collection.mutable.ArrayBuffer.empty[String]
    for (((name, fn), i) <- qs.zipWithIndex if allContaminated(perRun(i))) {
      retriedNames += name
      var tries = 0
      while (tries < maxRetries && allContaminated(perRun(i))) {
        timedRun(name)(Measure.noop(fn(spark, sfDir))).foreach(o => perRun(i) :+= adjust(name, o))
        tries += 1
      }
    }
    val results = qs.zipWithIndex.map { case ((name, _), i) =>
      val measured = perRun(i)
      val times = measured.map(_._1).sorted
      val median = if (times.isEmpty) -1.0 else times(times.size / 2)
      val min = if (measured.isEmpty) -1.0 else bestObservation(measured)._1
      // per-query steal across all its runs: round 3's q24 "12× regression"
      // was entirely a host-steal burst (71.7s contaminated vs 5.4s clean) —
      // this field makes that diagnosable per query instead of per run
      val steal = if (measured.exists(_._2 >= 0)) measured.map(_._2).max(Ordering.Long) else -1L
      // runs disagreeing >20% AND >0.25s ⇒ median is contention-
      // contaminated; readers should use queries_min (with
      // queries_steal_runs as the evidence). The absolute floor keeps
      // millisecond-scale queries from tripping the flag on JIT jitter.
      val unstable = times.nonEmpty &&
        times.last > times.head * 1.2 && times.last - times.head > 0.25
      (name, median, min, steal, measured, unstable)
    }
    def fmt(xs: Seq[(String, Double)]): String =
      xs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

    // the sf0.1 measurement window closes HERE — capture its steal/cpu
    // evidence before the 10× phase runs, or host_steal_ticks stops
    // answering "was the sf0.1 bench quiet" (ADVICE r6)
    val steal1 = ScaleSmoke.stealTicks()
    val (cpuUser, cpuSys) = processCpuSeconds()

    // The ×10 scale10 section is RETIRED (round-12 verdict #4): two
    // consecutive rounds it printed phantom regressions (q21 at 14.1×
    // with 6,096 foreign ticks against the gate's quiet ratcheted 1.20)
    // because its single-run-per-query loop cannot afford the gate's full
    // retry-on-violation + per-side-minima + backoff discipline without
    // doubling bench wall time — and duplicating that machinery here
    // would still leave two artifacts disagreeing about the same claim.
    // SCALE_SMOKE.json (runMain graft.ScaleSmoke) is the one ×10 source:
    // ratcheted per-query bounds, violation-driven quiet retries with
    // escalating backoff, foreign-tick evidence per query.
    val scaleJson: String =
      s""","scale10_note":"retired r13 - SCALE_SMOKE.json (runMain graft.ScaleSmoke) is the authoritative x10 source (ratcheted bounds + retry-on-steal discipline)""""

    val qMedian = fmt(results.map(r => r._1 -> r._2))
    val qMin = fmt(results.map(r => r._1 -> r._3))
    val qSteal = results.map { case (k, _, _, s, _, _) => "\"" + k + "\":" + s }
      .mkString("{", ",", "}")
    val qRuns = results
      .map { case (k, _, _, _, m, _) => "\"" + k + "\":" + m.map(_._1).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val qStealRuns = results
      .map { case (k, _, _, _, m, _) => "\"" + k + "\":" + m.map(_._2).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    val qUnstable = results.filter(_._6).map("\"" + _._1 + "\"").mkString("[", ",", "]")
    val qRetried = retriedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qMachineryCal = fmt(machineryCal.toSeq.sortBy(_._1))
    val qExcluded = excluded.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + Measure.jsonEscape(v) + "\"" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    // value_min: sum of per-query MINIMA — the steal-immune headline;
    // compare THIS round-over-round (see scaladoc + README §bench)
    val totalMin = results.map(_._3).filter(_ >= 0).sum
    val stealDelta = if (steal0 >= 0 && steal1 >= 0) steal1 - steal0 else -1L
    val json =
      s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","queries":$qMedian,""" +
        s""""queries_min":$qMin,"queries_steal_ticks":$qSteal,"runs":$runs,""" +
        s""""queries_runs":$qRuns,"queries_steal_runs":$qStealRuns,""" +
        s""""queries_unstable":$qUnstable,"queries_retried":$qRetried,""" +
        s""""queries_machinery_cal":$qMachineryCal,""" +
        s""""excluded":$qExcluded$scaleJson,""" +
        s""""cpu_user_sec":$cpuUser,""" +
        s""""cpu_sys_sec":$cpuSys,"host_steal_ticks":$stealDelta,"sf":"$sfDir"}"""
    // Persist the COMPLETE JSON (every per-query median/min/steal/run
    // array) to a file FIRST — the driver's artifact pipeline clips stdout
    // (round 4 lost per-query numbers to a truncated `tail`; rounds 12–13
    // recorded `"parsed": null` because the full line outgrew the driver's
    // parse window). The file is the archival record.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "bench_full.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    // stdout gets a COMPACT summary as the LAST line. The driver parses
    // only the last ~2000 chars of output (rounds 11–15 all recorded
    // `"parsed": null` whenever the line outgrew that window), and the
    // 131 query names alone are >2000 chars — the FULL per-query map can
    // never fit. Round-17 verdict #2 still needs per-query numbers in the
    // parsed headline, so `queries` carries a BUDGET-CAPPED map of
    // per-query MINIMA (the repo's comparable statistic — see value_min),
    // most expensive queries first: they hold the round-over-round signal,
    // and the sub-second tail is noise-band anyway. `queries_stat` names
    // the statistic, `n_queries_in_headline` says how many entries fit;
    // every number (medians, minima, per-run arrays) stays in
    // bench_full.json (`full_json`).
    val headlineSuffix =
      s""","queries_stat":"min","n_queries_in_headline":@N@,""" +
        s""""n_queries":${results.size},"runs":$runs,""" +
        s""""n_unstable":${results.count(_._6)},"n_excluded":${excluded.size},""" +
        s""""n_retried":${retriedNames.size},""" +
        s""""full_json":"${Measure.jsonEscape(out)}","cpu_user_sec":$cpuUser,""" +
        s""""host_steal_ticks":$stealDelta,"sf":"$sfDir"}"""
    val headlinePrefix =
      s"""{"metric":"total","value":$total,"value_min":$totalMin,"unit":"sec","queries":"""
    // 1900-char total-line budget: safely inside the 2000-char window
    // even with a trailing newline and a few chars of slack
    val mapBudget = 1900 - headlinePrefix.length - headlineSuffix.length
    val headlineEntries = scala.collection.mutable.ArrayBuffer.empty[String]
    var mapUsed = 2 // the braces
    results.filter(_._3 >= 0).sortBy(-_._3).foreach { r =>
      val e = "\"" + r._1 + "\":" +
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(r._3))
      val sep = if (headlineEntries.isEmpty) 0 else 1
      if (mapUsed + sep + e.length <= mapBudget) {
        headlineEntries += e
        mapUsed += sep + e.length
      }
    }
    val compact = headlinePrefix +
      headlineEntries.mkString("{", ",", "}") +
      headlineSuffix.replace("@N@", headlineEntries.size.toString)
    // the summary line must be the LAST thing on the combined stream
    // (round-15 verdict #4 — the fourth round of `"parsed": null`): the
    // streaming benches leave StateStore maintenance threads that log
    // stack traces AFTER spark.stop(), trailing the JSON. Order of
    // shutdown: stop any straggler streams, stop the StateStore
    // maintenance task, stop Spark — and only THEN print. build.sbt's
    // `run / outputStrategy := StdoutOutput` + `showSuccess := false`
    // remove sbt's `[info] ` prefix and `[success]` trailer, so the line
    // is genuinely the final line of stdout.
    try spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
    catch { case _: Exception => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    // ADVICE r16: spark.stop() was the one unguarded call between the
    // shutdowns and the println — if it throws, the summary line never
    // prints and the driver parse regresses to `"parsed": null`.
    try spark.stop() catch { case _: Throwable => () }
    println(compact)
    System.out.flush()
  }
}
