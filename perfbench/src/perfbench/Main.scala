package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: `perfbench.Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--size full|tiny]`.
  *
  * Prints a `{"detail": ...}` line (every metric of the workload with
  * its unit, the input properties and the run record), then, as the
  * last line, the result: the end-to-end metrics, or with `--trace 1`
  * the per-layer ones. Exits 1 when any answer was wrong. */
object Main {

  val workloads: Seq[String] = Seq("release_fold", "anchored_reads")

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, fixtures: Path, size: Size)

  def parse(argv: Seq[String]): Args = {
    val kv = argv.grouped(2).map {
      case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (${workloads.mkString(", ")})")
    val seconds = need("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Args(w, need("seed").toLong, seconds, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("fixtures")).toAbsolutePath,
      kv.getOrElse("size", "full") match {
        case "full" => Size.full
        case "tiny" => Size.tiny
        case s => sys.error(s"unknown size $s")
      })
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    val cores = Runtime.getRuntime.availableProcessors
    val calibBefore = Calibration.probe(cores)
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (a.trace) Some(Trace.start(spark.sparkContext, cores)) else None
    val w = new Workloads(spark, a.work, a.fixtures, a.seed, a.seconds, a.size)
    run(w, a.workload)
    val setupS = (uptimeMs() - (System.nanoTime() - w.setupEndNs) / 1e6) / 1e3 -
      calibBefore("seconds")
    val layers = tracer.map(_.report() :+ ("trace.overhead_share" -> w.tracingOverhead()))
    val calibAfter = Calibration.probe(cores)
    val record = runRecord(spark, cores, calibBefore, calibAfter)
    spark.stop()

    val e2e = endToEnd(w.samples, setupS)
    val correct = w.tally.failed == 0
    val detail = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "metrics" -> (e2e ++ extra(w)).map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap,
      "samples" -> w.samples.counts,
      "latencies_ms" -> Seq("probe_ms", "sql_ms", "path_ms").map(k => k -> w.samples(k)).toMap,
      "phases_s" -> (w.samples.withPrefix("phase.") + ("session" -> Seq(sessionS))),
      "failures" -> w.tally.failures,
      "inputs" -> w.inputProperties,
      "run" -> record)
    println(Json(Map("detail" -> detail)))
    val metrics = layers match {
      case None => e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      case Some(ls) => ls.map { case (k, v) => k -> Map("value" -> v, "unit" -> layerUnit(k)) }
    }
    println(Json(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> w.tally.attempted,
      "failed" -> w.tally.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  def run(w: Workloads, workload: String): Unit = workload match {
    case "release_fold" => w.releaseFold()
    case "anchored_reads" => w.anchoredReads()
  }

  def session(work: Path, cores: Int): SparkSession = {
    Files.createDirectories(work)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(work.resolve("checkpoints").toString)
    s
  }

  private def uptimeMs(): Double = ManagementFactory.getRuntimeMXBean.getUptime.toDouble

  /** The end-to-end metrics every workload reports, in BENCHMARK.json order. */
  def endToEnd(s: Samples, setupS: Double): Seq[(String, (Double, String))] = {
    def p50(name: String) = Stats.median(s(name))
    Seq(
      "setup_s" -> (setupS, "s"),
      "release_p50_s" -> (p50("release_s"), "s"),
      "ingest_alleles_per_s" -> (p50("ingest_alleles_per_s"), "alleles/s"),
      "reads_per_s" -> (s("read_ms").length / s("read_phase_s").sum, "1/s"),
      "probe_p50_ms" -> (p50("probe_ms"), "ms"),
      "sql_p50_ms" -> (p50("sql_ms"), "ms"),
      "store_bytes_per_input_byte" -> (s("store_bytes_per_input_byte").last, "ratio"),
      "peak_rss_mb" -> (peakRssMb(), "MB"))
  }

  /** Metrics reported on the detail line only: the read median and
    * tail, the post-load analytics (traced release_fold runs only) and
    * the failure ratio. */
  private def extra(w: Workloads): Seq[(String, (Any, String))] = {
    val s = w.samples
    val reads = s("read_ms")
    val tail = Stats.tailLevel(reads.length).map { p =>
      s"read_p${p}_ms" -> (Stats.percentile(reads, p), "ms")
    }
    val median = Seq("read_p50_ms" -> (Stats.median(reads), "ms"))
    val analytics = Seq("validate_p50_ms" -> ("validate_ms", "ms"),
      "fixpoint_local_s" -> ("fixpoint_local_s", "s")).collect {
      case (name, (key, unit)) if s(key).nonEmpty => name -> (Stats.median(s(key)), unit)
    }
    val paths = s("path_ms")
    median ++ tail.toSeq ++ analytics ++
      (if (paths.isEmpty) Nil else Seq("path_p50_ms" -> (Stats.median(paths), "ms"))) ++ Seq(
      "fail_ratio" -> (w.tally.failed.toDouble / math.max(1L, w.tally.attempted), "failed/attempted"))
  }

  def layerUnit(name: String): String = name.split('.').last match {
    case "calls" | "jobs" | "tasks" | "failed_tasks" | "unattributed_jobs" |
         "dirty_buckets" => "count"
    case "bytes_written" => "bytes"
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "bytes"
    case "slot_idle_share" | "overhead_share" => "share"
    case _ => "ratio"
  }

  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Runtime.getRuntime.totalMemory / 1048576.0
    else {
      val src = scala.io.Source.fromFile(status.toFile)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.replaceAll("[^0-9]", "").toDouble / 1024
      }.getOrElse(0.0)
      finally src.close()
    }
  }

  private def runRecord(spark: SparkSession, cores: Int,
      before: Map[String, Double], after: Map[String, Double]): Map[String, Any] = {
    Map(
      "nproc" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
      "jvm_flags" -> {
        import scala.jdk.CollectionConverters._
        ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("-X")).toList
      },
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session" -> Seq("spark.master", "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled", "spark.sql.session.timeZone")
        .map(k => k -> spark.conf.get(k)).toMap,
      "calibration_before" -> before,
      "calibration_after" -> after)
  }
}

/** Host probes, reported raw and never used to scale results: a fixed
  * integer loop timed on one thread and on every core at once. A
  * throttled or contended window inflates them, so a reader can tell
  * "the code got slower" from "the host got slower". */
object Calibration {
  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def probe(cores: Int): Map[String, Double] = {
    val t0 = System.nanoTime()
    val sink = spin()
    val single = (System.nanoTime() - t0) / 1e6
    val t1 = System.nanoTime()
    val threads = (1 to cores).map(_ => new Thread(() => { spin(); () }))
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = (System.nanoTime() - t1) / 1e6
    if (sink == 42) System.err.println("")
    Map("single_thread_ms" -> single, "all_cores_ms" -> all,
      "seconds" -> (System.nanoTime() - t0) / 1e9)
  }
}

/** The build's priming run: `perfbench.Prime <fixtures dir> <work dir>`
  * writes the base-release fixture of every size (see [[Fixture]]),
  * which scans, builds, loads and stores a release, and then serves one
  * round of reads from the tiny fixture's store. So the class-data
  * sharing archive dumped at its exit (see perfbench/build.py) holds
  * most classes a measured run loads; the rest load as usual. */
object Prime {
  def main(argv: Array[String]): Unit = {
    val Array(fixtures, work) = argv.map(Paths.get(_).toAbsolutePath)
    val spark = Main.session(work, Runtime.getRuntime.availableProcessors)
    val Seq(_, tiny) = Seq(Size.full, Size.tiny).map { size =>
      Fixture.write(spark, Fixture.dir(fixtures, size), size)
    }
    val store = Fixture.store(Fixture.dir(fixtures, Size.tiny)).toString
    Reads.nextRound(new java.util.Random(1), tiny.names, IndexedSeq.empty)
      .foreach(r => Reads.serve(spark, store, r, None))
    spark.stop()
  }
}
