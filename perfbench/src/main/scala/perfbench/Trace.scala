package perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One call into a layer, recorded from outside the layer. Times are
  * `System.nanoTime`; `parent` is -1 at the root of a pass.
  */
final case class Span(id: Int, layer: String, name: String, parent: Int, run: String, start: Long) {
  @volatile var end: Long = -1L
}

/** One layer's spans and jobs, summed. */
final case class LayerStats(
    busyS: Double = 0, calls: Int = 0, jobs: Int = 0, tasks: Int = 0, taskS: Double = 0,
    gapS: Double = 0, shuffleBytes: Long = 0, spillBytes: Long = 0, maxTaskS: Double = 0,
    failedTasks: Int = 0, outBytes: Long = 0, inBytes: Long = 0)

/** One Spark job and the counters of its tasks and stages. */
final class JobRec(val id: Int, val span: Int, val site: String, val start: Long) {
  @volatile var end: Long = -1L
  var tasks = 0
  var taskNs = 0L
  var maxTaskNs = 0L
  var failedTasks = 0
  var stageRetries = 0
  var shuffleBytes = 0L
  var spillBytes = 0L
  var outBytes = 0L
  var inBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** Operation accounting plus the outside-in tracer.
  *
  * Every call the harness makes into a layer goes through [[call]]: it
  * counts the operation, catches and records a failure (then rethrows, so
  * the pass stops), and, while [[recording]], records a [[Span]] and makes
  * the span's id the thread's Spark job group. The listener below reads the
  * job group of every job, so each job is attributed to the innermost span
  * open on the thread that submitted it. Jobs with no span of ours are
  * counted as unattributed.
  *
  * The listener always sums the bytes the sinks write and the task
  * failures; span, job, task and stage detail is kept only while recording.
  */
final class Trace(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-"
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def toNano(epochMs: Long): Long = nano0 + (epochMs - epoch0) * 1000000L

  @volatile var recording = false
  @volatile var run = ""
  /** Parent for spans opened on a thread that has no open span (the
    * streaming query's micro-batch thread).
    */
  @volatile var adoptParent = -1

  private val nextId = new AtomicInteger()
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = TrieMap.empty[Int, JobRec]
  private val stageJob = TrieMap.empty[Int, JobRec]
  /** Job groups set by Spark itself (a streaming query's run id) → span. */
  val aliases = TrieMap.empty[String, Int]

  val attempted = new AtomicLong()
  val failed = new AtomicLong()
  val errors = mutable.ArrayBuffer.empty[String]
  val bytesWritten = new AtomicLong()
  val tasksRun = new AtomicLong()
  val tasksFailed = new AtomicLong()
  val stageRetries = new AtomicLong()

  /** Id of the innermost span open on this thread, or -1. */
  def currentSpan: Int = stack.get.headOption.map(_.id).getOrElse(-1)

  /** Records `n` operations that were not layer calls (checks, batches). */
  def count(n: Int = 1): Unit = attempted.addAndGet(n)

  def fail(what: String, msg: String): Unit = {
    failed.incrementAndGet()
    errors.synchronized { errors += s"$what: $msg" }
  }

  /** Failures already counted: an exception crossing nested calls, or
    * rethrown wrapped (a streaming query's), counts once.
    */
  private val counted =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[Throwable, java.lang.Boolean])

  private def failOnce(what: String, e: Throwable): Unit = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val fresh = counted.synchronized {
      val isNew = !chain.exists(counted.contains)
      counted.add(e)
      isNew
    }
    if (fresh) fail(what, firstLine(e))
  }

  def call[T](layer: String, name: String)(f: => T): T = {
    attempted.incrementAndGet()
    if (!recording) {
      try f catch { case e: Throwable => failOnce(s"$layer:$name", e); throw e }
    } else {
      val outer = stack.get
      val s = Span(nextId.incrementAndGet(), layer, name,
        outer.headOption.map(_.id).getOrElse(adoptParent), run, System.nanoTime())
      spans.synchronized { spans += s }
      val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
      val saved = keys.map(sc.getLocalProperty)
      sc.setJobGroup(GroupPrefix + s.id, s"$layer:$name")
      stack.set(s :: outer)
      try f catch { case e: Throwable => failOnce(s"$layer:$name", e); throw e }
      finally {
        s.end = System.nanoTime()
        stack.set(outer)
        keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
      }
    }
  }

  private def firstLine(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.toSeq.headOption.getOrElse("")).getOrElse("") match {
      case "" => e.getClass.getName
      case m => s"${e.getClass.getSimpleName}: $m"
    }

  /** Blocks until the listener has seen every event posted so far. */
  def drain(): Unit =
    if (!org.apache.spark.GraftListenerBridge.waitListenerBusEmpty(sc))
      System.err.println("perfbench: listener bus did not drain; counters may be partial")

  def reset(): Unit = {
    spans.synchronized { spans.clear() }
    jobs.clear()
    stageJob.clear()
    aliases.clear()
    executionSite.clear()
  }

  /** SQL execution id → its innermost caller frame outside Spark. Jobs that
    * adaptive execution submits from its own threads carry a call site
    * inside the JDK; the execution's call stack still names the caller.
    */
  private val executionSite = TrieMap.empty[Long, String]
  private val Frame = """.*\.([A-Za-z0-9_$]+)\(([A-Za-z0-9_$]+\.scala):(\d+)\)""".r
  private def userFrame(stack: String): Option[String] =
    stack.linesIterator.map(_.trim)
      .filterNot(l => Seq("org.apache.spark.", "scala.", "java.", "jdk.", "sun.").exists(l.startsWith))
      .collectFirst { case Frame(method, file, line) => s"$method at $file:$line" }

  sc.addSparkListener(new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if recording =>
        userFrame(s.details).foreach(executionSite(s.executionId) = _)
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
        case Some(g) if g.startsWith(GroupPrefix) => g.stripPrefix(GroupPrefix).toInt
        case Some(g) => aliases.getOrElse(g, -1)
        case None => -1
      }
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("?")
      val j = new JobRec(e.jobId, span, site.linesIterator.next(), toNano(e.time))
      jobs(e.jobId) = j
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.end = toNano(e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val retried = e.stageInfo.attemptNumber() > 0
      if (retried) stageRetries.incrementAndGet()
      if (recording && retried)
        stageJob.get(e.stageInfo.stageId).foreach(j => j.synchronized { j.stageRetries += 1 })
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ok = e.taskInfo != null && e.taskInfo.successful
      tasksRun.incrementAndGet()
      if (!ok) tasksFailed.incrementAndGet()
      val m = e.taskMetrics
      val out = if (m == null) 0L else m.outputMetrics.bytesWritten
      bytesWritten.addAndGet(out)
      if (recording) stageJob.get(e.stageId).foreach { j =>
        j.synchronized {
          val ms = if (e.taskInfo == null) 0L else e.taskInfo.duration
          j.tasks += 1
          j.taskNs += ms * 1000000L
          j.maxTaskNs = math.max(j.maxTaskNs, ms * 1000000L)
          j.taskMs += ms
          if (!ok) j.failedTasks += 1
          if (m != null) {
            j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.diskBytesSpilled
            j.outBytes += out
            j.inBytes += m.inputMetrics.bytesRead
          }
        }
      }
    }
  })

  // ---- per-layer report ----------------------------------------------------

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }

  /** `outer` minus the union of `holes`, as intervals. */
  private def minus(outer: (Long, Long), holes: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = outer._1
    for ((s, e) <- holes.sortBy(_._1)) {
      val cs = math.max(s, outer._1)
      val ce = math.min(e, outer._2)
      if (ce > cs) {
        if (cs > cur) out += ((cur, cs))
        cur = math.max(cur, ce)
      }
    }
    if (outer._2 > cur) out += ((cur, outer._2))
    out.toSeq
  }

  /** Aggregates the recorded spans and jobs per layer. */
  def layerStats(): Map[String, LayerStats] = {
    val all = spans.synchronized { spans.toVector }.filter(_.end >= 0)
    val children = all.groupBy(_.parent)
    val jobsBySpan = jobs.values.toVector.groupBy(_.span)
    val perSpan = all.map { s =>
      val kids = children.getOrElse(s.id, Vector.empty).map(k => (k.start, k.end))
      val self = minus((s.start, s.end), kids)
      val js = jobsBySpan.getOrElse(s.id, Vector.empty)
      val jobIv = js.map(j => (j.start, if (j.end >= 0) j.end else s.end))
      val gap = self.map { iv =>
        (iv._2 - iv._1) -
          covered(jobIv.map { case (a, b) => (math.max(a, iv._1), math.min(b, iv._2)) })
      }.sum
      s.layer -> (self.map(iv => iv._2 - iv._1).sum, gap, js)
    }
    perSpan.groupBy(_._1).map { case (layer, xs) =>
      val js = xs.flatMap(_._2._3)
      layer -> LayerStats(
        busyS = xs.map(_._2._1).sum / 1e9, calls = xs.size, jobs = js.size,
        tasks = js.map(_.tasks).sum, taskS = js.map(_.taskNs).sum / 1e9,
        gapS = xs.map(_._2._2).sum / 1e9,
        shuffleBytes = js.map(_.shuffleBytes).sum, spillBytes = js.map(_.spillBytes).sum,
        maxTaskS = if (js.isEmpty) 0.0 else js.map(_.maxTaskNs).max / 1e9,
        failedTasks = js.map(j => j.failedTasks + j.stageRetries).sum,
        outBytes = js.map(_.outBytes).sum, inBytes = js.map(_.inBytes).sum)
    }
  }

  /** Jobs attributed to spans of `layer`, bucketed by the source file of
    * their call site (`count at Dedup.scala:348` → `Dedup`).
    */
  def jobsBySiteFile(layer: String): Map[String, Int] = {
    val ids = spans.synchronized { spans.filter(_.layer == layer).map(_.id).toSet }
    jobs.values.filter(j => ids(j.span)).toSeq
      .map(j => " at ([A-Za-z0-9_$]+)\\.scala".r.findFirstMatchIn(j.site).map(_.group(1)).getOrElse("other"))
      .groupMapReduce(identity)(_ => 1)(_ + _)
  }

  /** The `n` longest spans: seconds, layer:name, jobs attributed to it. */
  def slowestSpans(n: Int): Seq[String] = {
    val counts = jobs.values.groupMapReduce(_.span)(_ => 1)(_ + _)
    spans.synchronized { spans.toVector }.filter(_.end >= 0).sortBy(s => s.start - s.end).take(n)
      .map(s => f"${(s.end - s.start) / 1e9}%.3f s  ${s.layer}:${s.name}  (${counts.getOrElse(s.id, 0)} own jobs)")
  }

  /** The `n` longest jobs: seconds, span, call site, tasks. */
  def slowestJobs(n: Int): Seq[String] = {
    val byId = spans.synchronized { spans.map(s => s.id -> s).toMap }
    jobs.values.toSeq.filter(_.end >= 0).sortBy(j => j.start - j.end).take(n).map { j =>
      val s = byId.get(j.span).map(s => s"${s.layer}:${s.name}").getOrElse("unattributed")
      f"${(j.end - j.start) / 1e9}%.3f s  $s  ${j.site}  (${j.tasks} tasks)"
    }
  }

  def unattributedJobs: Int = jobs.values.count(_.span < 0)
  def totalJobs: Int = jobs.size

  /** Task times (ms) of the jobs under the named span, children included. */
  def subtreeTaskMs(layer: String, name: String): Seq[Long] = {
    val all = spans.synchronized { spans.toVector }
    val roots = all.filter(s => s.layer == layer && s.name == name).map(_.id).toSet
    val kids = all.groupBy(_.parent)
    def expand(ids: Set[Int]): Set[Int] = {
      val next = ids ++ ids.flatMap(i => kids.getOrElse(i, Vector.empty).map(_.id))
      if (next.size == ids.size) ids else expand(next)
    }
    val under = expand(roots)
    jobs.values.filter(j => under(j.span)).toSeq.flatMap(j => j.synchronized { j.taskMs.toSeq })
  }

  /** Bytes written by the jobs of the spans of one layer and name prefix. */
  def outBytes(layer: String, namePrefix: String): Long = {
    val ids = spans.synchronized {
      spans.filter(s => s.layer == layer && s.name.startsWith(namePrefix)).map(_.id).toSet
    }
    jobs.values.filter(j => ids(j.span)).map(_.outBytes).sum
  }

  /** Durations of the recorded spans of one layer and name, in seconds. */
  def spanSeconds(layer: String, namePrefix: String): Seq[Double] =
    spans.synchronized { spans.toVector }
      .filter(s => s.layer == layer && s.name.startsWith(namePrefix) && s.end >= 0)
      .map(s => (s.end - s.start) / 1e9)
}
