package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphAlgorithms, GraphLoad, GraphQueries, GraphStore}
import graft.gfe.GfeBuild
import graft.ingest.ImgtFlatFile
import graft.model.AlleleRecord
import org.apache.spark.unsafe.types.UTF8String

/** Input sizes. `full` is the measured size; `tiny` only smoke-tests
  * the code paths. Release-step cost at these sizes is bound by
  * per-job latency, not by allele count (see perfbench/README.md). */
final case class Size(base: Int, growth: Double, absent: Int, anchorRounds: Int)

object Size {
  val full: Size = Size(base = 800, growth = 0.05, absent = 200, anchorRounds = 6)
  val tiny: Size = Size(base = 96, growth = 0.05, absent = 32, anchorRounds = 3)
}

/** What a workload measured, before it is turned into metrics. */
final class Samples {
  private val xs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit = synchronized {
    xs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  }
  def apply(name: String): Seq[Double] = synchronized(xs.get(name).fold(Seq.empty[Double])(_.toList))
  def counts: Map[String, Int] = synchronized(xs.map { case (k, v) => k -> v.length }.toMap)
  def withPrefix(p: String): Map[String, Seq[Double]] =
    synchronized(xs.collect { case (k, v) if k.startsWith(p) => k.drop(p.length) -> v.toList }.toMap)
}

/** The two workloads over one session. Every library call goes
  * through the public API of its layer, wrapped in that layer's span.
  * `fixtures` holds the base releases the build made (see [[Fixture]]). */
final class Workloads(spark: SparkSession, work: Path, fixtures: Path,
    seed: Long, seconds: Int, size: Size) {

  import Workloads._

  val tally = new Tally
  val samples = new Samples
  private val storeDir = work.resolve("store").toString
  private val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
  private var setupEnd = 0L
  private var inputs: Inputs = _

  /** Wall time at which set-up ended (System.nanoTime). */
  def setupEndNs: Long = setupEnd
  def inputProperties: Map[String, Any] = Option(inputs).fold(Map.empty[String, Any])(_.describe)

  /** Scan rates are medians over `rescanCount` scans of one release
    * file, one scan being too short to time, made after `warmScans`
    * more: the parser is still being compiled over its first few scans. */
  private val (warmScans, rescanCount) = (3, 9)

  /** Unsampled rounds before the sampled ones: read latencies settle
    * over the first ten or so reads of a JVM. */
  private val warmRounds = 2

  /** Wall time of a run phase, for the run record. */
  private def phase[T](name: String)(body: => T): T = {
    val (r, s) = timed(body)
    samples.add(s"phase.$name", s)
    r
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def generate(increments: Int): Unit =
    inputs = Inputs.generate(work.resolve("inputs"), seed, size.base,
      size.growth, increments, size.absent)

  // ---- one call per layer ----

  private def scan(rel: Release, sample: Boolean = false): Dataset[AlleleRecord] = {
    val (recs, s) = timed(Trace.span("ingest") {
      val ds = ImgtFlatFile.read(spark, rel.path.toString).localCheckpoint(true)
      val n = ds.count()
      tally.record(n == rel.alleles,
        s"scan of ${rel.id}: $n records, expected ${rel.alleles}")
      ds
    })
    if (sample) samples.add("ingest_alleles_per_s", rel.alleles / s)
    recs
  }

  private def rescans(rel: Release): Unit = {
    (1 to warmScans).foreach(_ => scan(rel).unpersist())
    (1 to rescanCount).foreach(_ => scan(rel, sample = true).unpersist())
  }

  private def build(recs: Dataset[AlleleRecord], rel: Release,
      registry: Option[DataFrame]): (Relations, DataFrame) =
    Trace.span("gfe") {
      val r = GfeBuild.run(spark, recs, rel.id, registry = registry)
      ((rel.id, r.gfeSequences.localCheckpoint(true),
        r.allFeatures.localCheckpoint(true), r.allGroups.localCheckpoint(true)),
        r.registry.localCheckpoint(true))
    }

  private def storeWrite[T](deltaBytes: Long)(write: => T): T =
    Trace.span("graph.store.write") {
      val before = if (Trace.enabled) dirBytes(storeDir) else 0L
      val r = write
      if (Trace.enabled) {
        Trace.count("bytes_written", dirBytes(storeDir) - before)
        Trace.count("delta_input_bytes", deltaBytes)
      }
      r
    }

  private def initStore(rels: Relations, rel: Release): Unit = {
    val g = Trace.span("graph.load")(GraphLoad.loadAll(spark, Seq(rels)))
    storeWrite(rel.bytes)(GraphStore.init(spark, storeDir, g))
  }

  private def applyRelease(rels: Relations, deltaBytes: Long): Unit =
    storeWrite(deltaBytes) {
      val st = GraphStore.applyRelease(spark, storeDir, rels)
      Trace.count("dirty_buckets", st.total)
    }

  private def readStore(): GraphLoad.Graph =
    Trace.span("graph.store.read")(GraphStore.read(spark, storeDir))

  /** The reference's post-load validation: A1-A3 and the constraint
    * report over the newest marker. A violated constraint fails it. */
  private def validate(): Unit = {
    val (violated, s) = timed {
      val g = readStore()
      Trace.span("graph.queries") {
        GraphQueries.labelCounts(g).collect()
        GraphQueries.releasesHistogram(g).collect()
        GraphQueries.accessionReleaseCounts(g).collect()
        GraphQueries.constraintReport(g).collect().filter(_.getBoolean(1))
          .map(_.getString(0)).toSeq
      }
    }
    tally.record(violated.isEmpty, s"violated constraints: ${violated.mkString(",")}")
    samples.add("validate_ms", s * 1e3)
  }

  /** Connected components of the stored GFE→Feature graph with default
    * arguments: below the 1M-edge gate, so the driver-local twin runs. */
  private def fixpoint(): Answer = {
    val (ans, s) = timed {
      val edges = featureEdges(readStore())
      Trace.span("graph.algorithms") {
        val rows = GraphAlgorithms.connectedComponentsDF(edges, "src", "dst")
          .select("id", "component").collect()
        Reads.canon(rows.toSeq)
      }
    }
    samples.add("fixpoint_local_s", s)
    ans
  }

  /** Serve one round of reads; `sample` records their latencies. */
  private def serveRound(reads: Seq[Read], asOf: Option[Int],
      expect: Read => Option[Answer], sample: Boolean): Seq[(Read, Answer)] =
    reads.flatMap { r =>
      val t0 = System.nanoTime()
      tally.attempt(s"${r.kind} read")(Reads.serve(spark, storeDir, r, asOf)).map { a =>
        val ms = (System.nanoTime() - t0) / 1e6
        if (sample) {
          samples.add("read_ms", ms)
          samples.add(s"${r.family}_ms", ms)
        }
        expect(r).foreach(e => tally.record(a == e, s"${r.kind} read ${r.keys.take(3)}: $a != $e"))
        r -> a
      }
    }

  /** Load the base release's relations, built once by the benchmark's
    * build (see [[Fixture]]), into a new store: the reference's first
    * load, anchored_reads' release step. */
  private def loadBase(): Unit = {
    val (_, s) = timed {
      val (r0, _) = Fixture.read(spark, Fixture.dir(fixtures, size))
      initStore(r0, inputs.releases.head)
    }
    samples.add("release_s", s)
  }

  /** Copy the store the build loaded the base release into (see
    * [[Fixture]]); returns the base release's relations and registry. */
  private def copyBase(): (Relations, DataFrame) = {
    val dir = Fixture.dir(fixtures, size)
    val from = Fixture.store(dir)
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, Paths.get(storeDir).resolve(from.relativize(p).toString)))
    finally s.close()
    Fixture.read(spark, dir)
  }

  // ---- workloads ----

  /** Set-up copies the store the base release was loaded into. Then the
    * increment is scanned, built with the registry carried over and
    * applied: one release step. After it, unsampled rounds warm the
    * read paths up, and sampled rounds follow until `seconds` have
    * passed since they began (at least two), every read pinned to the
    * newest marker. Then the scan rate of the newest
    * release and, in a traced run only, validation and the fixpoint:
    * they measure their layers, no gated metric. Path reads stay out of
    * this workload's rounds: at seconds apiece they would dominate its
    * run. */
  def releaseFold(): Unit = {
    phase("generate")(generate(1))
    val (r0, reg0) = phase("base")(copyBase())
    setupEnd = System.nanoTime()

    val newest = inputs.releases(1)
    val r1 = phase("step") {
      val (rels, s) = timed {
        val (rels, _) = build(scan(newest), newest, Some(reg0))
        applyRelease(rels, newest.bytes - inputs.releases.head.bytes)
        rels
      }
      samples.add("release_s", s)
      rels
    }
    val marker = Trace.span("graph.store.read")(GraphStore.markers(spark, storeDir)).last
    def round() = Reads.nextRound(rnd, newest.names, inputs.absent).filter(_.kind != Read.Path)
    val served = phase("reads") {
      val warm = (1 to warmRounds).flatMap(_ =>
        serveRound(round(), Some(marker), _ => None, sample = false))
      warm ++ readRounds(round(), Some(marker), _ => None)
    }
    val components = phase("analytics") {
      rescans(newest)
      if (Trace.enabled) {
        validate()
        Some(fixpoint())
      } else None
    }

    phase("check") {
      val (_, want) = both(check(foldCheck(Seq(r0, r1))),
        check(Reads.expected(GraphStore.readAt(spark, storeDir, marker), served.map(_._1))))
      verify(served, want, s"at r$marker")
      check(components.foreach(componentsCheck(marker, _)))
    }
    samples.add("store_bytes_per_input_byte", dirBytes(storeDir).toDouble / newest.bytes)
  }

  /** Sampled rounds from `next` until `seconds` have passed since they
    * began, at least two, so every run samples the kinds in the same
    * proportions. */
  private def readRounds(next: => Seq[Read], asOf: Option[Int],
      expect: Read => Option[Answer]): Seq[(Read, Answer)] = {
    val t0 = System.nanoTime()
    val stop = t0 + seconds * 1000000000L
    val served = mutable.ArrayBuffer.empty[(Read, Answer)]
    var i = 0
    while (i < 2 || System.nanoTime() < stop) {
      served ++= serveRound(next, asOf, expect, sample = true)
      i += 1
    }
    samples.add("read_phase_s", (System.nanoTime() - t0) / 1e9)
    served.toSeq
  }

  /** A closed loop of one client against a store built at set-up,
    * which ends with unsampled rounds to warm the read paths up:
    * whole rounds of the mix (see [[readRounds]]). Then the scan rate
    * of the base release, whose load into the store is this workload's
    * release step. */
  def anchoredReads(): Unit = {
    phase("generate")(generate(0))
    val base = inputs.releases.head
    phase("base")(loadBase())
    val rounds = Seq.fill(size.anchorRounds)(Reads.nextRound(rnd, base.names, inputs.absent))
    val (want, warm) = phase("expected_warmup")(both(
      check(Reads.expected(readStore(), rounds.flatten)),
      rounds.take(warmRounds).flatMap(serveRound(_, None, _ => None, sample = false))))
    verify(warm, want, "at warm-up")
    setupEnd = System.nanoTime()

    val next = Iterator.continually(rounds).flatten.drop(warmRounds)
    readRounds(next.next(), None, want.get)
    phase("rescans")(rescans(base))
    samples.add("store_bytes_per_input_byte", dirBytes(storeDir).toDouble / base.bytes)
  }

  /** The tracing overhead, for a traced run once its report is taken:
    * one round of reads (no path) served four times on the finished
    * store with tracing off, on, on, off. Returns the median over the
    * reads of traced ÷ untraced time, − 1. Every answer is checked like
    * any other read. */
  def tracingOverhead(): Double = {
    val reads = Reads.nextRound(rnd, inputs.releases.head.names, inputs.absent)
      .filter(_.kind != Read.Path)
    val want = Trace.off(Reads.expected(GraphStore.read(spark, storeDir), reads))
    def pass(): Seq[Double] =
      reads.map(r => timed(serveRound(Seq(r), None, want.get, sample = false))._2)
    val Seq(a, b, c, d) = Seq(false, true, true, false)
      .map(on => if (on) pass() else Trace.off(pass()))
    Stats.median(reads.indices.map(i => (b(i) + c(i)) / (a(i) + d(i)))) - 1
  }

  // ---- untimed correctness checks ----

  private def check[T](body: => T): T = Trace.span("check")(body)

  /** Run `a` on another thread while `b` runs on this one: for set-up
    * and checks, which are not sampled. */
  private def both[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a)(ExecutionContext.global)
    val rb = b
    (Await.result(fa, Duration.Inf), rb)
  }

  private def verify(served: Seq[(Read, Answer)], want: Map[Read, Answer],
      where: String): Unit =
    served.foreach { case (r, a) =>
      tally.record(want(r) == a, s"${r.kind} read $where ${r.keys.take(3)}: $a != ${want(r)}")
    }

  /** The store must equal a `GraphLoad.loadAll` refold of the same
    * releases, table by table (row count and an order-free hash). */
  private def foldCheck(releases: Seq[Relations]): Unit = {
    val refold = GraphLoad.loadAll(spark, releases)
    val store = GraphStore.read(spark, storeDir)
    compareTables(digests(store), digests(refold)).foreach { case (ok, what) =>
      tally.record(ok, what)
    }
  }

  /** The fixpoint's answer must equal union-find over the same edges. */
  private def componentsCheck(marker: Int, got: Answer): Unit = {
    val edges = featureEdges(GraphStore.readAt(spark, storeDir, marker)).collect()
      .map(r => (r.getString(0), r.getString(1)))
    val want = unionFind(edges.toSeq)
    tally.record(got == want, s"components at r$marker: $got != $want")
  }
}

object Workloads {
  type Relations = (String, DataFrame, DataFrame, DataFrame)

  def featureEdges(g: GraphLoad.Graph): DataFrame =
    g.hasFeature.select(col("src"),
      concat_ws(":", col("locus"), col("rank"), col("term"), col("accession")).as("dst"))

  /** Components as (id, least member) rows, digested like a read. */
  def unionFind(edges: Seq[(String, String)]): Answer = {
    val parent = mutable.HashMap.empty[String, String]
    def find(x: String): String = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val members = parent.keys.toSeq.groupBy(find)
    Reads.canon(members.values.toSeq.flatMap { ms =>
      val least = ms.min(Ordering.by[String, UTF8String](UTF8String.fromString))
      ms.map(m => org.apache.spark.sql.Row(m, least))
    })
  }

  /** One (agrees, description) per table of either side. A table
    * without rows has no digest, so a missing one reads as no rows. */
  def compareTables(store: Map[String, (Long, BigDecimal)],
      refold: Map[String, (Long, BigDecimal)]): Seq[(Boolean, String)] = {
    val none = (0L, BigDecimal(0))
    (store.keySet ++ refold.keySet).toSeq.sorted.map { t =>
      val (s, r) = (store.getOrElse(t, none), refold.getOrElse(t, none))
      (s == r, s"store table $t $s != refold $r")
    }
  }

  /** Per table with rows: (rows, sum of a 64-bit hash of every column
    * as text). */
  def digests(g: GraphLoad.Graph): Map[String, (Long, BigDecimal)] =
    (g.vertexTables ++ g.edgeTables).map { case (name, df) =>
      val cols = df.columns.sorted.toIndexedSeq.map(c => col(c).cast("string"))
      df.select(lit(name).as("t"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
      .groupBy("t").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1),
        Option(r.getDecimal(2)).fold(BigDecimal(0))(BigDecimal(_)))).toMap

  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
