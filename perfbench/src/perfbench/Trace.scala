package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into each library layer, and a
  * listener that charges Spark's own task metrics to them.
  *
  * Off (the default) every [[Trace.span]] just runs its body: the
  * end-to-end runs pay nothing. On, a span tags the jobs its thread
  * submits with a job group of its own, and the listener records
  * every job and task. Spans and jobs stay in memory and are only
  * joined up in [[Tracer.report]], after the workload.
  *
  * A job counts toward the span named by its group only while that
  * span is open: `SparkContext` copies local properties into a pool
  * thread once, when the thread is created, so jobs the library
  * submits from its `Future` fan-outs can carry the group of a span
  * that closed long ago. Such a job, and any job without a group,
  * goes to the span that was open when it started if exactly one
  * chain of nested spans was open then; otherwise it is unattributed. */
object Trace {

  /** The nine library layers, by the module names the report uses. */
  val layers: Seq[String] = Seq("ingest", "gfe", "graph.load",
    "graph.store.write", "graph.store.read", "graph.motif", "sources",
    "graph.queries", "graph.algorithms")

  @volatile private var active: Option[Tracer] = None

  def enabled: Boolean = active.isDefined

  def start(sc: SparkContext, cores: Int): Tracer = {
    val t = new Tracer(sc, cores)
    active = Some(t)
    t
  }

  def span[T](layer: String)(body: => T): T = active match {
    case None => body
    case Some(t) => t.span(layer)(body)
  }

  /** Add `v` to counter `key` of the innermost open span on this thread. */
  def count(key: String, v: Double): Unit = active.foreach(_.count(key, v))

  /** Run `body` with tracing off: no spans, and the listener detached.
    * Only for a single-threaded stretch with no span open. */
  def off[T](body: => T): T = active match {
    case None => body
    case Some(t) =>
      active = None
      t.detach()
      try body
      finally { t.attach(); active = Some(t) }
  }
}

final class Tracer(sc: SparkContext, cores: Int) {

  private final class Span(val id: Long, val layer: String,
      val parent: Option[Span], val startMs: Long, val startNs: Long) {
    @volatile var endMs: Long = Long.MaxValue
    @volatile var endNs: Long = 0L
    val counters = mutable.Map.empty[String, Double]
    def depth: Int = parent.fold(0)(_.depth + 1)
  }

  private final class JobRec(val time: Long, val group: String) {
    var tasks, failedTasks = 0L
    var runMs, gcMs, shuffleRead, shuffleWrite, spill, inBytes,
        inRecords = 0L
  }

  private val groupPrefix = "perfbench-span-"
  private val barrierGroup = "perfbench-barrier"
  private val started = System.nanoTime()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Option[Span]] {
    override def initialValue(): Option[Span] = None
  }
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  @volatile private var barrierDone = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val group = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .orNull
        jobs(e.jobId) = new JobRec(e.time, group)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        if (jobs.get(e.jobId).exists(_.group == barrierGroup))
          barrierDone = true
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskInfo != null && e.taskInfo.failed) j.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            j.runMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inBytes += m.inputMetrics.bytesRead
            j.inRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }
  sc.addSparkListener(listener)

  def detach(): Unit = sc.removeSparkListener(listener)
  def attach(): Unit = sc.addSparkListener(listener)

  def span[T](layer: String)(body: => T): T = {
    val parent = current.get
    val s = synchronized {
      val s = new Span(spans.length.toLong, layer, parent,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      s
    }
    current.set(Some(s))
    sc.setJobGroup(groupPrefix + s.id, layer)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      current.set(parent)
      parent match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.layer)
        case None => sc.clearJobGroup()
      }
    }
  }

  def count(key: String, v: Double): Unit = current.get.foreach { s =>
    s.counters.synchronized {
      s.counters(key) = s.counters.getOrElse(key, 0.0) + v
    }
  }

  /** Wait until the listener has seen every job submitted so far: the
    * bus delivers events in order, so once a job submitted now has
    * ended, everything before it has been recorded. */
  private def drain(): Unit = {
    sc.setJobGroup(barrierGroup, "barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!barrierDone && System.nanoTime() < deadline) Thread.sleep(20)
    require(barrierDone, "listener bus did not drain within 30 s")
  }

  private def openAt(t: Long): Seq[Span] =
    spans.filter(s => s.startMs <= t && t <= s.endMs).toSeq

  /** The innermost span when the open spans form one nested chain. */
  private def innermostChain(open: Seq[Span]): Option[Span] =
    if (open.isEmpty) None
    else {
      val deepest = open.maxBy(_.depth)
      val chain = Iterator.iterate(Option(deepest))(_.flatMap(_.parent))
        .takeWhile(_.isDefined).flatten.toSet
      if (open.forall(chain.contains)) Some(deepest) else None
    }

  /** Per-layer and process-wide metrics, named `<layer>.<metric>`. */
  def report(): Seq[(String, Double)] = {
    drain()
    synchronized {
      val wallS = (System.nanoTime() - started) / 1e9
      val byId = spans.map(s => groupPrefix + s.id -> s).toMap
      val real = jobs.values.filter(_.group != barrierGroup).toSeq
      val owner: Seq[(JobRec, Option[Span])] = real.map { j =>
        val tagged = Option(j.group).flatMap(byId.get)
          .filter(s => s.startMs <= j.time && j.time <= s.endMs)
        j -> tagged.orElse(innermostChain(openAt(j.time)))
      }
      val children = spans.groupBy(_.parent.map(_.id))
      val out = mutable.LinkedHashMap.empty[String, Double]

      Trace.layers.foreach { layer =>
        val ss = spans.filter(_.layer == layer).toSeq
        val js = owner.collect { case (j, Some(s)) if s.layer == layer => j }
        val wall = ss.map(s => (s.endNs - s.startNs) / 1e9).sum
        val self = ss.map { s =>
          val kids = children.get(Some(s.id)).fold(Seq.empty[(Long, Long)])(
            _.map(k => (k.startNs, k.endNs)).toSeq.sorted)
          (s.endNs - s.startNs - covered(kids)) / 1e9
        }.sum
        val run = js.map(_.runMs).sum / 1e3
        def ctr(k: String) = ss.map(_.counters.getOrElse(k, 0.0)).sum
        out(s"$layer.calls") = ss.length
        out(s"$layer.wall_s") = wall
        out(s"$layer.self_s") = self
        out(s"$layer.jobs") = js.length
        out(s"$layer.tasks") = js.map(_.tasks).sum
        out(s"$layer.task_run_s") = run
        out(s"$layer.gc_s") = js.map(_.gcMs).sum / 1e3
        out(s"$layer.slot_idle_share") =
          if (wall > 0) 1 - run / (wall * cores) else 0.0
        out(s"$layer.shuffle_read_bytes") = js.map(_.shuffleRead).sum
        out(s"$layer.shuffle_write_bytes") = js.map(_.shuffleWrite).sum
        out(s"$layer.spill_bytes") = js.map(_.spill).sum
        out(s"$layer.input_bytes") = js.map(_.inBytes).sum
        if (layer == "graph.store.write") {
          val written = ctr("bytes_written")
          out(s"$layer.dirty_buckets") = ctr("dirty_buckets")
          out(s"$layer.bytes_written") = written
          out(s"$layer.write_amp") = ratio(written, ctr("delta_input_bytes"))
        }
        if (Seq("graph.store.read", "graph.motif", "sources").contains(layer))
          out(s"$layer.records_per_row") =
            ratio(js.map(_.inRecords).sum.toDouble, ctr("rows"))
      }
      val run = real.map(_.runMs).sum / 1e3
      out("spark.jobs") = real.length
      out("spark.tasks") = real.map(_.tasks).sum
      out("spark.task_run_s") = run
      out("spark.slot_idle_share") = 1 - run / (wallS * cores)
      out("spark.failed_tasks") = real.map(_.failedTasks).sum
      out("spark.unattributed_jobs") = owner.count(_._2.isEmpty)
      out.toSeq
    }
  }

  private def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Total length of the union of sorted [start, end) intervals. */
  private def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > hi) { if (hi > lo) total += hi - lo; lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    if (hi > lo) total += hi - lo
    total
  }
}
