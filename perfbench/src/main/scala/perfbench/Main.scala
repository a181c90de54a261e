package perfbench

import scala.collection.mutable

/** Runs one workload in this JVM and prints its metrics.
  *
  * {{{
  * perfbench.Main --workload migration|trainprep --seed N
  *   --seconds S --trace 0|1 --work <dir> --cpus C
  * }}}
  *
  * Set-up: start the session, generate the inputs from the seed
  * [[SetupRounds]] times, then run the workload's warm-up; `setup_s` is
  * the session start plus the median round plus the warm-up. Then
  * closed-loop passes, one client, until `--seconds` have passed (at least
  * one). There is no full warm-up pass: each workload is a job that runs
  * in a fresh JVM in production (a migration, a crawl ingest and prep
  * run), so its first pass, compilation included, is what a user waits
  * for; it is also the only pass the run-time budget of the benchmark
  * affords. The exception is a long-running stream, whose micro-batches
  * are warmed up (see [[Workload.warmUp]]). With `--trace 1` every pass
  * is traced and the per-layer metrics are printed; the tracing overhead
  * is the traced `trace.wall_s` minus the untraced `wall_s` of the same
  * seed.
  *
  * The last line of standard output is the JSON result. The exit code is
  * non-zero when an operation or an output check failed.
  */
object Main {
  val SetupRounds = 3

  /** Inputs per workload. Both passes are bound by per-job cost, not data
    * volume; the sizes keep a run within the benchmark's time budget.
    */
  def workload(name: String, spark: org.apache.spark.sql.SparkSession, work: String, seed: Long,
      trace: Trace): Workload = name match {
    case "migration" => new MigrationWorkload(spark, work, seed, trace, nMessages = 2000)
    case "trainprep" => new TrainPrepWorkload(spark, work, seed, trace, nBase = 200, files = 9)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "rows_per_s" -> "1/s", "batch_p50_s" -> "s",
    "batch_tail_s" -> "s", "live_heap_mb" -> "MiB", "write_amp" -> "ratio")

  val GenericLayers = Seq("sources", "transform", "operators", "run", "post", "sink", "validate",
    "streaming")
  val Generic = Seq("busy_s" -> "s", "calls" -> "count", "jobs" -> "count", "tasks" -> "count",
    "task_s" -> "s", "driver_gap_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "max_task_s" -> "s", "failed_tasks" -> "count")
  val SiteFiles = Seq("Dedup", "Curation", "TextAnalysis", "TrainPrep", "Ckpt")

  /** Every per-layer metric, in report order. */
  val PerLayer: Seq[(String, String)] =
    GenericLayers.flatMap(l => Generic.map { case (m, u) => s"$l.$m" -> u }) ++ Seq(
      "functions.busy_s" -> "s", "functions.calls" -> "count",
      "functions.reencrypt_ns" -> "ns", "functions.uuid5_ns" -> "ns",
      "functions.timeuuid_ns" -> "ns", "functions.minhash_ns" -> "ns",
      "bench.busy_s" -> "s", "bench.jobs" -> "count") ++
      (SiteFiles :+ "other").map(f => s"operators.jobs.$f" -> "count") ++
      Seq("curate", "sem", "lm", "contain", "substring").map(s => s"operators.removed_frac.$s" -> "ratio") ++
      Seq("sink.out_bytes" -> "bytes", "sink.upsert_s" -> "s", "sink.bytes_per_change_byte" -> "ratio",
        "streaming.trigger_overhead_s" -> "s",
        "streaming.plan_s" -> "s", "streaming.commit_s" -> "s", "post.skew" -> "ratio",
        "sources.input_bytes" -> "bytes", "unattributed.jobs" -> "count",
        "trace.attributed_frac" -> "ratio", "trace.wall_s" -> "s")

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val name = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = arg(args, "--work")
    val cpus = arg(args, "--cpus").toInt
    val code = try run(name, seed, seconds, traced, work, cpus)
    catch {
      case e: Throwable =>
        System.err.println(s"perfbench: run aborted: $e")
        e.printStackTrace()
        1
    }
    System.exit(code)
  }

  /** Heap the driver keeps between jobs: cached data released
    * synchronously (Spark's own release is asynchronous), then full
    * collections until the heap in use stops falling. Spark's cleaner frees
    * broadcast and shuffle state only after a collection has cleared the
    * references to it, polling every 100 ms, so one collection is not
    * enough.
    */
  private def retainedHeapMb(spark: org.apache.spark.sql.SparkSession): Double = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(250); mx.getHeapMemoryUsage.getUsed }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 10 && cur < prev * 0.99) { prev = cur; cur = collect(); rounds += 1 }
    math.min(prev, cur) / (1024.0 * 1024.0)
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def run(name: String, seed: Long, seconds: Double, traced: Boolean, work: String,
      cpus: Int): Int = {
    val t0 = System.nanoTime()
    val spark = graft.Engine.session(master = s"local[$cpus]", shufflePartitions = cpus,
      appName = s"perfbench-$name")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val trace = new Trace(spark)
      val wl = workload(name, spark, work, seed, trace)
      val report = mutable.ArrayBuffer.empty[String]

      val rounds = (1 to SetupRounds).map { i =>
        val r0 = System.nanoTime()
        wl.setup(i)
        val r = (System.nanoTime() - r0) / 1e9
        System.err.println(f"perfbench: setup round $i: $r%.3f s")
        r
      }
      val w0 = System.nanoTime()
      wl.warmUp()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(rounds) + warmS
      report += f"setup: session $sessionS%.3f s, input rounds " +
        rounds.map(r => f"$r%.3f").mkString(" ") + f" s, warm-up $warmS%.3f s"
      report ++= wl.describe

      val ops0 = trace.attempted.get
      val failed0 = trace.failed.get
      val tasks0 = trace.tasksRun.get
      val taskFail0 = trace.tasksFailed.get
      val retries0 = trace.stageRetries.get

      final case class Timed(res: PassResult, written: Long, heapMb: Double)
      val passes = mutable.ArrayBuffer.empty[Timed]
      val loop0 = System.nanoTime()
      var aborted = false
      while (!aborted && (passes.isEmpty || (System.nanoTime() - loop0) / 1e9 < seconds)) {
        trace.drain()
        val w0 = trace.bytesWritten.get
        val f0 = trace.failed.get
        trace.recording = traced
        trace.run = s"pass${passes.size + 1}"
        try {
          val res = wl.pass(passes.size + 1)
          trace.drain()
          passes += Timed(res, trace.bytesWritten.get - w0, retainedHeapMb(spark))
          System.err.println(f"perfbench: pass ${passes.size}: ${res.wallS}%.3f s")
        } catch {
          case e: Exception =>
            // a failing layer call has recorded itself; anything else is
            // recorded here, and the run stops with what it has
            if (trace.failed.get == f0) trace.fail(s"pass ${passes.size + 1}", e.toString)
            aborted = true
        } finally trace.recording = false
      }
      val walls = passes.map(_.res.wallS).toSeq
      val wallS = if (walls.isEmpty) 0.0 else Stats.median(walls)
      val commits = passes.flatMap(_.res.commits).toSeq
      val p50 = if (commits.isEmpty) 0.0 else Stats.hdQuantile(commits, 0.5)
      val (tailS, tailPct) = if (commits.isEmpty) (0.0, 0.0) else Stats.tail(commits)
      val checks = passes.flatMap(_.res.checks)

      val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
      if (passes.isEmpty) ()
      else if (!traced) {
        metrics("setup_s") = (setupS, "s")
        metrics("wall_s") = (wallS, "s")
        metrics("rows_per_s") = (wl.records / wallS, "1/s")
        metrics("batch_p50_s") = (p50, "s")
        metrics("batch_tail_s") = (tailS, "s")
        metrics("live_heap_mb") = (Stats.median(passes.map(_.heapMb).toSeq), "MiB")
        metrics("write_amp") = (Stats.median(passes.map(_.written.toDouble / wl.sourceBytes).toSeq), "ratio")
      } else {
        val k = passes.size.toDouble
        val stats = trace.layerStats()
        val zero = LayerStats()
        for (l <- GenericLayers :+ "bench") {
          val s = stats.getOrElse(l, zero)
          Seq("busy_s" -> s.busyS / k, "calls" -> s.calls / k, "jobs" -> s.jobs / k,
            "tasks" -> s.tasks / k, "task_s" -> s.taskS / k, "driver_gap_s" -> s.gapS / k,
            "shuffle_bytes" -> s.shuffleBytes / k, "spill_bytes" -> s.spillBytes / k,
            "max_task_s" -> s.maxTaskS, "failed_tasks" -> s.failedTasks / k)
            .foreach { case (m, v) => metrics(s"$l.$m") = (v, "") }
        }
        val sites = trace.jobsBySiteFile("operators")
        for (f <- SiteFiles) metrics(s"operators.jobs.$f") = (sites.getOrElse(f, 0) / k, "")
        metrics("operators.jobs.other") =
          (sites.filter { case (f, _) => !SiteFiles.contains(f) }.values.sum / k, "")
        val sink = stats.getOrElse("sink", zero)
        metrics("sink.out_bytes") = (sink.outBytes / k, "")
        val upserts = trace.spanSeconds("sink", "upsert")
        metrics("sink.upsert_s") = (if (upserts.isEmpty) 0.0 else upserts.sum / upserts.size, "")
        val skewMs = trace.subtreeTaskMs("post", "roomsByUser").map(_.toDouble)
        metrics("post.skew") =
          (if (skewMs.isEmpty || Stats.median(skewMs) == 0) 0.0 else skewMs.max / Stats.median(skewMs), "")
        metrics("sources.input_bytes") = (stats.getOrElse("sources", zero).inBytes / k, "")
        val total = trace.totalJobs
        metrics("unattributed.jobs") = (trace.unattributedJobs / k, "")
        metrics("trace.attributed_frac") =
          (if (total == 0) 1.0 else 1.0 - trace.unattributedJobs.toDouble / total, "")
        metrics("trace.wall_s") = (wallS, "")
        passes.flatMap(_.res.extras).groupMap(_._1)(_._2).foreach { case (key, vs) =>
          metrics(key) = (vs.sum / vs.size, "")
        }
        report += f"trace: ${passes.size} traced pass(es), wall_s $wallS%.3f s (the tracing " +
          s"overhead is this minus wall_s of an untraced run with the same seed); " +
          s"${trace.totalJobs} jobs, ${trace.unattributedJobs} unattributed"
        trace.slowestSpans(25).foreach(s => report += s"slow span: $s")
        trace.slowestJobs(12).foreach(j => report += s"slow job: $j")

        trace.reset()
        trace.recording = true
        trace.run = "functions"
        val costs = wl.functionCosts()
        trace.recording = false
        val fs = trace.layerStats().getOrElse("functions", zero)
        metrics("functions.busy_s") = (fs.busyS, "")
        metrics("functions.calls") = (fs.calls.toDouble, "")
        for (f <- Seq("reencrypt_ns", "uuid5_ns", "timeuuid_ns", "minhash_ns"))
          metrics(s"functions.$f") = (costs.getOrElse(s"functions.$f", 0.0), "")
      }

      val ops = trace.attempted.get - ops0
      val opsFailed = trace.failed.get - failed0
      val tasks = trace.tasksRun.get - tasks0
      val tasksFailed = trace.tasksFailed.get - taskFail0
      val attempted = ops + tasks
      val failed = opsFailed + tasksFailed
      val correct = checks.forall(_.passed) && failed == 0 && trace.failed.get == 0
      report += f"passes: ${passes.size}${if (traced) " traced" else ""}, wall_s " +
        walls.map(w => f"$w%.3f").mkString(" ") + f", median $wallS%.3f s"
      report += f"batches: ${commits.size} commits, p50 $p50%.4f s, " +
        f"tail p${tailPct}%.1f ${tailS}%.4f s over ${commits.size} samples; intervals " +
        commits.map(c => f"$c%.3f").mkString(" ")
      report += f"operations: $ops attempted, $opsFailed failed; tasks: $tasks run, " +
        f"$tasksFailed failed, ${trace.stageRetries.get - retries0} stage re-attempts; " +
        f"error_rate ${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.6f"
      val failedChecks = checks.filterNot(_.passed).map(c => s"${c.name}: ${c.detail}").distinct
      report += s"checks: ${checks.size} run, ${failedChecks.size} distinct failures"
      failedChecks.foreach(c => report += s"FAIL $c")
      trace.errors.distinct.foreach(e => report += s"ERROR $e")
      checks.filter(_.passed).map(c => s"PASS ${c.name}: ${c.detail}").distinct.take(40)
        .foreach(report += _)
      report.foreach(l => println(s"[$name] $l"))

      val order = if (traced) PerLayer else EndToEnd
      val body = order.map { case (k, unit) =>
        s""""$k": {"value": ${fmt(metrics.get(k).map(_._1).getOrElse(0.0))}, "unit": "$unit"}"""
      }.mkString(", ")
      println(s"""{"correct": $correct, "attempted": ${math.max(attempted, 1)}, "failed": $failed, """ +
        s""""metrics": {$body}}""")
      if (correct) 0 else 1
    } finally spark.stop()
  }
}
