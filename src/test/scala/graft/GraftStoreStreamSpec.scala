package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.graph.{GraphLoad, GraphStore}

/** The `graftstore` STREAMING source (change feed): every committed
  * release marker / cdcApply version becomes a micro-batch of
  * change-tagged rows; folding the feed from empty must reproduce the
  * served state; replay is exactly-once off the engine checkpoint. */
class GraftStoreStreamSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** One AvailableNow pass of the feed; returns the non-empty batches
    * (batchId, collected rows) this pass produced. */
  private def runFeed(opts: Map[String, String], chk: String)
      : Seq[(Long, Seq[Row])] = {
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Row])]()
    val q = opts.foldLeft(spark.readStream.format("graftstore")) {
        case (r, (k, v)) => r.option(k, v) }
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        val rows = df.collect().toSeq
        if (rows.nonEmpty) buf.synchronized { buf += ((id.toLong, rows)) }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    buf.toSeq
  }

  /** Fold change batches (in order) from empty: '+' adds the row
    * (minus its change column), '-' removes it. */
  private def fold(batches: Seq[(Long, Seq[Row])]): Set[Seq[Any]] = {
    val state = scala.collection.mutable.Set[Seq[Any]]()
    for ((_, rows) <- batches.sortBy(_._1); r <- rows) {
      val ci = r.fieldIndex("change")
      val key = r.toSeq.zipWithIndex.collect {
        case (v, i) if i != ci =>
          v match { case w: scala.collection.Seq[_] => w.toList; case w => w }
      }
      if (r.getString(ci) == "+") state += key else state -= key
    }
    state.toSet
  }

  private def stateRows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq.map {
      case w: scala.collection.Seq[_] => w.toList; case w => w
    }.toList: Seq[Any]).toSet

  private def changeRows(df: DataFrame): Seq[String] =
    LoadFixtures.rowsOf(df.select(df.columns.sorted.map(col): _*))

  private def batchRows(rows: Seq[Row], cols: Seq[String]): Seq[String] =
    rows.map(r => Row.fromSeq(cols.sorted
      .map(c => r.get(r.fieldIndex(c))).toIndexedSeq).toString).sorted

  test("per-release AvailableNow cadence: bootstrap snapshot, then one " +
      "diff batch per release; fold == served state; exactly-once") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_store"); val chk = tmp("feed_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val opts = Map("dir" -> dir, "table" -> "HAS_IPD_ALLELE")
    val cols = GraphStore.read(spark, dir).hasIpdAllele.columns.toSeq :+
      "change"

    // pass 1: fresh checkpoint → ONE batch, the m0 snapshot all '+'
    val p1 = runFeed(opts, chk)
    assert(p1.size == 1, s"bootstrap produced ${p1.size} batches")
    assert(p1.head._2.forall(_.getString(
      p1.head._2.head.fieldIndex("change")) == "+"))
    assert(batchRows(p1.head._2, cols) == changeRows(
      GraphStore.read(spark, dir).hasIpdAllele
        .withColumn("change", lit("+"))))

    // no new release → no new batch (exactly-once, no re-emission)
    assert(runFeed(opts, chk).isEmpty)

    // pass 2 after one release: exactly the m0→m1 diff
    GraphStore.applyRelease(spark, dir, r2)
    val p2 = runFeed(opts, chk)
    assert(p2.size == 1)
    val ms = GraphStore.markers(spark, dir)
    assert(batchRows(p2.head._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(0), ms(1))))

    // pass 3 after another: the m1→m2 diff
    GraphStore.applyRelease(spark, dir, r3)
    val p3 = runFeed(opts, chk)
    assert(p3.size == 1)
    val ms3 = GraphStore.markers(spark, dir)
    assert(batchRows(p3.head._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms3(1), ms3(2))))

    // the feed IS the table: folding every batch from empty
    // reproduces the served state exactly
    assert(fold(p1 ++ p2 ++ p3) ==
      stateRows(GraphStore.read(spark, dir).hasIpdAllele))
  }

  test("cold catch-up nets multiple releases into one composed diff " +
      "batch") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_net"); val chk = tmp("feed_net_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val opts = Map("dir" -> dir, "table" -> "IPD_Allele")
    val p1 = runFeed(opts, chk)
    GraphStore.applyRelease(spark, dir, r2)
    GraphStore.applyRelease(spark, dir, r3)
    // stopped feed, TWO new markers → one NET batch (diff composes)
    val p2 = runFeed(opts, chk)
    assert(p2.size == 1, s"net catch-up produced ${p2.size} batches")
    val ms = GraphStore.markers(spark, dir)
    val cols = GraphStore.read(spark, dir).ipdAllele.columns.toSeq :+
      "change"
    assert(batchRows(p2.head._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "IPD_Allele", ms(0), ms(2))))
    assert(fold(p1 ++ p2) ==
      stateRows(GraphStore.read(spark, dir).ipdAllele))
  }

  test("stepCatchUp: a resumed checkpoint several releases behind " +
      "steps ONE retained marker per batch (fold == the net batch); " +
      "default still nets") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_step"); val chk = tmp("feed_step_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val base = Map("dir" -> dir, "table" -> "HAS_IPD_ALLELE")
    val p1 = runFeed(base, chk) // bootstrap at m0
    GraphStore.applyRelease(spark, dir, r2)
    GraphStore.applyRelease(spark, dir, r3)
    // resume CONTINUOUSLY with stepCatchUp: the 2-marker gap drains
    // as one batch PER retained marker — the live path's granularity,
    // for order-dependent consumers
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Row])]()
    val q = spark.readStream.format("graftstore")
      .option("dir", dir).option("table", "HAS_IPD_ALLELE")
      .option("stepCatchUp", "true").load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        val rows = df.collect().toSeq
        if (rows.nonEmpty) buf.synchronized { buf += ((id.toLong, rows)) }
        ()
      }
      .option("checkpointLocation", chk)
      .start()
    try q.processAllAvailable() finally q.stop()
    val stepped = buf.synchronized(buf.toList)
    assert(stepped.size == 2,
      s"stepCatchUp resume produced ${stepped.size} batches, wanted " +
        "one per release in the gap")
    val ms = GraphStore.markers(spark, dir)
    val cols = GraphStore.read(spark, dir).hasIpdAllele.columns.toSeq :+
      "change"
    assert(batchRows(stepped(0)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(0), ms(1))))
    assert(batchRows(stepped(1)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(1), ms(2))))
    // the stepped batches FOLD to exactly what the net batch gives —
    // stepping changes granularity, never the composed state
    assert(fold(p1 ++ stepped) ==
      stateRows(GraphStore.read(spark, dir).hasIpdAllele))
    // and the DEFAULT contract is preserved: the same gap on a
    // second checkpoint (bootstrapped at m0 via startingMarker) nets
    // to ONE batch
    val chk2 = tmp("feed_step_chk2")
    val b2 = runFeed(base + ("startingMarker" -> ms(0).toString), chk2)
    assert(b2.size == 1)
    val net = runFeed(base, chk2)
    assert(net.size == 1,
      s"default catch-up produced ${net.size} batches, wanted one net")
    assert(fold(b2 ++ net) ==
      stateRows(GraphStore.read(spark, dir).hasIpdAllele))
  }

  test("live stream steps ONE marker per micro-batch while running") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_live"); val chk = tmp("feed_live_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Row])]()
    val q = spark.readStream.format("graftstore")
      .option("dir", dir).option("table", "HAS_IPD_ALLELE").load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        val rows = df.collect().toSeq
        if (rows.nonEmpty) buf.synchronized { buf += ((id.toLong, rows)) }
        ()
      }
      .option("checkpointLocation", chk)
      .start()
    try {
      q.processAllAvailable() // bootstrap snapshot
      GraphStore.applyRelease(spark, dir, r2)
      GraphStore.applyRelease(spark, dir, r3)
      q.processAllAvailable() // must drain BOTH markers
    } finally q.stop()
    val batches = buf.synchronized(buf.toList)
    // snapshot + one batch PER release — the live pacing contract
    // (each release applied atomically downstream, never netted)
    assert(batches.size == 3,
      s"expected snapshot+2 per-release batches, got ${batches.size}")
    val ms = GraphStore.markers(spark, dir)
    val cols = GraphStore.read(spark, dir).hasIpdAllele.columns.toSeq :+
      "change"
    assert(batchRows(batches(1)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(0), ms(1))))
    assert(batchRows(batches(2)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(1), ms(2))))
    assert(fold(batches) ==
      stateRows(GraphStore.read(spark, dir).hasIpdAllele))
  }

  test("raw cdcApply layout: version offsets over a bare store dir") {
    val Seq(r1, r2, _) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_raw"); val chk = tmp("feed_raw_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val tdir = s"$dir/Sequence"
    val opts = Map("path" -> tdir)
    val p1 = runFeed(opts, chk)
    assert(p1.size == 1 && p1.head._2.nonEmpty)
    GraphStore.applyRelease(spark, dir, r2)
    val p2 = runFeed(opts, chk)
    assert(p2.size == 1)
    val vs = graft.streaming.EventStreams.manifestVersions(spark, tdir)
    val cols = GraphStore.read(spark, dir).sequence.columns.toSeq :+
      "change"
    assert(batchRows(p2.head._2, cols) == changeRows(
      graft.streaming.EventStreams.cdcDiffVersions(spark, tdir,
        vs(vs.size - 2), vs.last)))
    assert(fold(p1 ++ p2) ==
      stateRows(GraphStore.read(spark, dir).sequence))
  }

  test("closed loop: the change feed drives a downstream cdcApply " +
      "index that tracks the store exactly, release after release") {
    // The 100 TB pipeline shape end-to-end: release MERGEs into the
    // standing graph store → the feed emits only what changed →
    // a DOWNSTREAM versioned index folds those changes through
    // cdcApply — every leg O(changed buckets), and the downstream
    // state equals a from-scratch rebuild of the served table without
    // ever scanning it.
    import graft.streaming.EventStreams
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_loop"); val idx = tmp("feed_loop_idx")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val served = GraphStore.read(spark, dir).ipdAllele
    val feed = spark.readStream.format("graftstore")
      .option("dir", dir).option("table", "IPD_Allele").load()
    // the general feed consumer: per batch, retract every touched
    // key, re-insert the '+' rows — handles inserts, updates
    // ('-'+'+'), and pure deletes uniformly (exactly the fold the
    // change contract promises)
    def maintain(): DataFrame = EventStreams.cdcApply(
      spark, feed, served.limit(0), idx, Seq("name"),
      toDelta = b => b,
      merge = (st, d) => st
        .join(d.select("name").distinct(), Seq("name"), "left_anti")
        .unionByName(d.where(col("change") === "+").drop("change")),
      numBuckets = 4)
    assert(stateRows(maintain()) ==
      stateRows(GraphStore.read(spark, dir).ipdAllele))
    GraphStore.applyRelease(spark, dir, r2)
    assert(stateRows(maintain()) ==
      stateRows(GraphStore.read(spark, dir).ipdAllele))
    GraphStore.applyRelease(spark, dir, r3)
    assert(stateRows(maintain()) ==
      stateRows(GraphStore.read(spark, dir).ipdAllele))
  }

  test("startingMarker replays retained history: bootstrap at the " +
      "historical marker, then one diff batch per retained release") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_replay"); val chk = tmp("feed_replay_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    GraphStore.applyRelease(spark, dir, r2)
    GraphStore.applyRelease(spark, dir, r3)
    val ms = GraphStore.markers(spark, dir)
    val buf = scala.collection.mutable.ArrayBuffer[(Long, Seq[Row])]()
    val q = spark.readStream.format("graftstore")
      .option("dir", dir).option("table", "IPD_Allele")
      .option("startingMarker", ms.head.toString).load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: java.lang.Long) =>
        val rows = df.collect().toSeq
        if (rows.nonEmpty) buf.synchronized { buf += ((id.toLong, rows)) }
        ()
      }
      .option("checkpointLocation", chk)
      .start()
    try q.processAllAvailable() finally q.stop()
    val batches = buf.synchronized(buf.toList)
    // snapshot at m0, then m0→m1 and m1→m2 — full history, per release
    assert(batches.size == 3, s"replay produced ${batches.size} batches")
    val cols = GraphStore.read(spark, dir).ipdAllele.columns.toSeq :+
      "change"
    assert(batchRows(batches(0)._2, cols) == changeRows(
      GraphStore.tableAt(spark, dir, "IPD_Allele", ms(0))
        .withColumn("change", lit("+"))))
    assert(batchRows(batches(1)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "IPD_Allele", ms(0), ms(1))))
    assert(batchRows(batches(2)._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "IPD_Allele", ms(1), ms(2))))
    assert(fold(batches) ==
      stateRows(GraphStore.read(spark, dir).ipdAllele))
  }

  test("a stale startingMarker left on a resumed checkpoint is " +
      "harmless: catch-up still nets forward from committed progress") {
    // The hazard: startingMarker below already-committed progress. On
    // this engine, restart REPLAYS getBatch for the last WAL batch
    // before polling, which sets the source's cursor and routes
    // getOffset past the override — this spec pins that contract (an
    // engine that ever polls first would instead trip getBatch's loud
    // backwards guard; either way, never a reversed/stalled feed).
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_stale"); val chk = tmp("feed_stale_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val opts = Map("dir" -> dir, "table" -> "HAS_IPD_ALLELE",
      "startingMarker" -> "0")
    val p1 = runFeed(opts, chk) // fresh: bootstrap at marker 0
    assert(p1.size == 1)
    GraphStore.applyRelease(spark, dir, r2)
    GraphStore.applyRelease(spark, dir, r3)
    // resumed with the option STILL SET: one net forward batch
    val p2 = runFeed(opts, chk)
    assert(p2.size == 1, s"stale-option resume produced ${p2.size}")
    val ms = GraphStore.markers(spark, dir)
    val cols = GraphStore.read(spark, dir).hasIpdAllele.columns.toSeq :+
      "change"
    assert(batchRows(p2.head._2, cols) == changeRows(
      GraphStore.diff(spark, dir, "HAS_IPD_ALLELE", ms(0), ms(2))))
    assert(fold(p1 ++ p2) ==
      stateRows(GraphStore.read(spark, dir).hasIpdAllele))
  }

  test("resume past the vacuum retention window fails loudly naming " +
      "the knob, never a silent gap") {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val dir = tmp("feed_vac"); val chk = tmp("feed_vac_chk")
    GraphStore.init(spark, dir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val opts = Map("dir" -> dir, "table" -> "HAS_IPD_ALLELE")
    assert(runFeed(opts, chk).size == 1) // consumed m0
    GraphStore.applyRelease(spark, dir, r2)
    GraphStore.applyRelease(spark, dir, r3)
    GraphStore.vacuum(spark, dir, keepVersions = 1)
    // m0 was GC'd with its superseded manifests → the resume's diff
    // from m0 must fail loudly (the marker pin names keepVersions)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runFeed(opts, chk)
    }
    val msg = Option(e.getCause).map(_.getMessage).getOrElse(e.getMessage)
    assert(msg != null && (msg.contains("keepVersions") ||
      msg.contains("marker")), s"unhelpful failure: $msg")
  }
}
