package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** Structured Streaming surface over the `events` table.
  *
  * The reference is batch-only (SURVEY.md §2.9) — its one continuous
  * behavior is the release-watcher poll, covered by
  * [[graft.watch.ReleaseWatch]]. This module is the brief's
  * forward-looking streaming capability: the same event-time
  * transforms defined once as logical plans, runnable both as batch
  * DataFrames (DuckDB-verifiable) and as `readStream` jobs with
  * watermarks + windows + custom state.
  *
  * Scale notes: tumbling-window aggregation is a streaming-state hash
  * agg keyed on (window, event_type) — partitioned by key, constant
  * state per key, watermark bounds state size. Sessionization uses
  * `flatMapGroupsWithState` with event-time timeout — state is one
  * open session per user, evicted on watermark passage.
  */
object EventStreams {

  final case class Event(
      event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  final case class SessionState(
      start: Long, last: Long, n: Int, total: Double)

  final case class SessionOut(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Int, total_value: Double)

  /** Tumbling 1-hour event-time windows per event_type — identical
    * logical plan for batch and streaming inputs. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Timestamp ↔ epoch-micros without precision loss (getTime alone
    * truncates to millis). */
  private def micros(t: java.sql.Timestamp): Long =
    t.getTime / 1000 * 1000000L + t.getNanos / 1000
  private def toTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000).toInt)
    t
  }

  /** Gap-based sessionization (30-min inactivity) as a streaming
    * stateful operator. Batch equivalent: [[sessionizeBatch]]. */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = 30L * 60 * 1000 * 1000
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, toTs(s.start), toTs(s.last), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => micros(e.ts))
            var st = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            for (e <- sorted) {
              val t = micros(e.ts)
              st match {
                case Some(s) if t - s.last <= gapUs =>
                  st = Some(s.copy(last = t, n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  out += SessionOut(userId, toTs(s.start), toTs(s.last),
                    s.n, s.total)
                  st = Some(SessionState(t, t, 1, e.value))
                case None =>
                  st = Some(SessionState(t, t, 1, e.value))
              }
            }
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000 + gapUs / 1000)
            }
            out.iterator
          }
      }
  }

  /** Batch sessionization: classic gaps-and-islands — lag + cumulative
    * session-break sum per user. Same output as the streaming path
    * once the stream is fully drained. */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // microsecond gap arithmetic — cast("long") truncates to seconds
      // and would disagree with the microsecond streaming path on gaps
      // that straddle the boundary fractionally
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
            1800L * 1000000L, 1)
          .otherwise(0))
      .withColumn("session_id", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("total_value"))
      .drop("session_id")
  }

  final case class FunnelState(t1: Long, t2: Long, t3: Long) // -1 = unset

  final case class FunnelOut(user_id: Long, stage: Int, at_us: Long)

  /** Streaming strict-order funnel (view → click after it → purchase
    * after that): emits one row per user per milestone, the moment the
    * stage is first reached — the CEP-style "conversion happened"
    * signal a pipeline alerts on. State is three epoch-µs longs per
    * user (24 bytes — never the events themselves), updated by a pure
    * transition function; emission is inline (Append), so no timeout
    * machinery holds results back at end-of-stream. Exact against
    * [[funnelBatch]] under per-user event-time-ordered delivery (each
    * micro-batch is sorted before the state transition; cross-batch
    * ordering is the watermark contract). */
  def funnelStream(events: Dataset[Event]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
        e.event_type == "purchase")
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          val out = scala.collection.mutable.ArrayBuffer.empty[FunnelOut]
          // Buffer-and-sort is per KEY per MICRO-BATCH: live operation
          // holds minutes of one user's events, not history. A backfill
          // replay that crams a hot key's full history into one batch
          // materializes it in that task — bound replays with
          // maxFilesPerTrigger (hot-key behavior spec'd in
          // EventStreamsSpec).
          for (e <- rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))) {
            val t = micros(e.ts)
            e.event_type match {
              case "view" if s.t1 < 0 =>
                s = s.copy(t1 = t); out += FunnelOut(userId, 1, t)
              case "click" if s.t1 >= 0 && s.t2 < 0 && t > s.t1 =>
                s = s.copy(t2 = t); out += FunnelOut(userId, 2, t)
              case "purchase" if s.t2 >= 0 && s.t3 < 0 && t > s.t2 =>
                s = s.copy(t3 = t); out += FunnelOut(userId, 3, t)
              case _ =>
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Batch twin of [[funnelStream]]: each stage instant is a
    * min-timestamp aggregate gated on the previous stage's instant
    * (strict >, same as the stream's transition guard). */
  def funnelBatch(events: DataFrame): DataFrame = {
    def gated(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
      events.where(col("event_type") === evType).as("e")
        .join(prev.as("p"),
          col("e.user_id") === col("p.user_id") &&
            col("e.ts") > col(s"p.$prevTs"))
        .select(col("e.user_id").as("user_id"), col("e.ts").as("ts"))
        .groupBy("user_id").agg(min("ts").as(outTs))
    val v = events.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val c = gated("click", v, "t1", "t2")
    val p = gated("purchase", c, "t2", "t3")
    v.select(col("user_id"), lit(1).as("stage"), unix_micros(col("t1")).as("at_us"))
      .unionByName(c.select(col("user_id"), lit(2).as("stage"),
        unix_micros(col("t2")).as("at_us")))
      .unionByName(p.select(col("user_id"), lit(3).as("stage"),
        unix_micros(col("t3")).as("at_us")))
  }

  final case class ThrottleOut(
      user_id: Long, event_type: String, bucket_us: Long, event_id: Long)

  /** Throttle state: the newest emitted bucket plus a 64-bit bitmask
    * of the 64 buckets at and below it (bit i = bucket maxBucket - i
    * already emitted) — 16 bytes per key, fixed. */
  final case class ThrottleState(maxBucket: Long, mask: Long)

  /** Per-key rate limiter on Spark 4's `transformWithState` (the
    * arbitrary-stateful successor to flatMapGroupsWithState, RocksDB-
    * backed): pass only the FIRST event per (user, type) per 1-hour
    * event-time bucket. State is a [[ThrottleState]] per key in a
    * `ValueState` bounded by the API's native TTL (constructor
    * argument; default 30 days in [[throttleStream]]).
    *
    * Out-of-order delivery: the bitmask remembers which of the 64
    * most-recent buckets emitted, so an event arriving late for an
    * earlier, never-emitted bucket still passes — row-per-bucket
    * parity with [[throttleBatch]] holds whenever cross-batch disorder
    * stays within 64 buckets (64 h); only events >64 buckets behind
    * the key's newest bucket are dropped, the same kind of bounded
    * horizon a watermark imposes. The emitted event_id additionally
    * matches the batch twin under per-key event-time-ordered delivery
    * (each micro-batch sorts before the transition, as in
    * [[funnelStream]]; across batches the first arrival wins). */
  private class ThrottleProcessor(ttl: TTLConfig)
      extends StatefulProcessor[(Long, String), Event, ThrottleOut] {
    @transient private var emitted: ValueState[ThrottleState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      emitted = getHandle.getValueState[ThrottleState]("emitted",
        org.apache.spark.sql.Encoders.product[ThrottleState], ttl)
    override def handleInputRows(key: (Long, String), rows: Iterator[Event],
        timerValues: TimerValues): Iterator[ThrottleOut] = {
      val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[ThrottleOut]
      var st = if (emitted.exists()) emitted.get() else null
      for (e <- sorted) {
        val b = Math.floorDiv(micros(e.ts), 3600000000L)
        def emit(): Unit =
          out += ThrottleOut(key._1, key._2, b * 3600000000L, e.event_id)
        if (st == null) { st = ThrottleState(b, 1L); emit() }
        else if (b > st.maxBucket) {
          val d = b - st.maxBucket
          st = ThrottleState(b, if (d >= 64) 1L else (st.mask << d) | 1L)
          emit()
        } else {
          val idx = st.maxBucket - b
          if (idx < 64 && ((st.mask >> idx) & 1L) == 0L) {
            st = st.copy(mask = st.mask | (1L << idx)); emit()
          } // else: bucket already emitted, or older than the 64-bucket
            // disorder horizon — dropped
        }
      }
      if (st != null) emitted.update(st)
      out.iterator
    }
  }

  /** See [[ThrottleProcessor]]. `ttl` bounds per-key state lifetime
    * (processing-time, the only mode the state-TTL API supports): a
    * key idle past it is forgotten and its next event re-emits.
    *
    * Time-mode note: TTL requires `TimeMode.ProcessingTime`, under
    * which the operator always reports another batch pending (to
    * service TTL/timer expiry) — an `AvailableNow` run therefore
    * never self-terminates; drive it with `processAllAvailable()` +
    * `stop()` (EventStreamsSpec does). With `TTLConfig.NONE` the
    * operator runs in `TimeMode.None` and `AvailableNow` drains and
    * stops on its own. */
  def throttleStream(events: Dataset[Event],
      ttl: TTLConfig = TTLConfig(java.time.Duration.ofDays(30))
  ): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    val timeMode =
      if (ttl == TTLConfig.NONE) TimeMode.None() else TimeMode.ProcessingTime()
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .transformWithState(new ThrottleProcessor(ttl),
        timeMode, OutputMode.Append())
  }

  /** Batch twin of [[throttleStream]]: first event per
    * (user, type, hour bucket), deterministic (ts, event_id) order. */
  def throttleBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id", "event_type", "bucket_us")
      .orderBy(col("us"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("bucket_us", expr("us div 3600000000") * lit(3600000000L))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("user_id", "event_type", "bucket_us", "event_id")
  }

  /** Event-time interval join: each click attributed to every view by
    * the same user within the preceding `horizon` (impressions×clicks,
    * the canonical stream-stream join). One definition serves batch
    * and streaming inputs: `withWatermark` is a no-op on batch, and on
    * streams the time-range predicate on the two watermarked event-time
    * columns is what lets Spark's symmetric hash join evict state —
    * each view is held for horizon + watermark, each click for the
    * watermark alone, both partitioned on the `user_id` equi-key (one
    * shuffle per side, state co-located with the key). */
  def attributedClicks(events: DataFrame,
      horizon: String = "30 minutes"): DataFrame = {
    val views = events.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "2 hours")
    val clicks = events.where(col("event_type") === "click")
      .select(col("user_id").as("click_user_id"),
        col("event_id").as("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    views.join(clicks,
      col("user_id") === col("click_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $horizon"))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** Streaming exact dedup on the key columns alone — the
    * training-pipeline ingest guard (duplicate events/documents
    * dropped at arrival, even when the re-ingested copy carries a
    * different timestamp). Streaming inputs use
    * `dropDuplicatesWithinWatermark`, whose state is bounded by the
    * watermark horizon; batch inputs use the plain key-only
    * `dropDuplicates(keys)` twin. */
  def dedupeStream(events: DataFrame, keys: Seq[String]): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(keys)
    else events.dropDuplicates(keys)

  /** Stream-static enrichment: join the (possibly streaming) event feed
    * against a static dimension table — NO streaming state, no
    * watermark, and because Spark re-plans the static side per batch a
    * slowly-changing dimension picks up updates between batches. This
    * is the canonical shape for attaching user/customer attributes to
    * an event stream at ingest. No forced broadcast: Catalyst
    * broadcasts the dim adaptively while it is actually small, and a
    * dimension that outgrows the threshold must take the shuffle path
    * rather than OOM the driver. */
  def enrich(events: DataFrame, dim: DataFrame, joinExpr: Column): DataFrame =
    events.join(dim, joinExpr)

  /** Parquet path as a streaming source. FileStreamSource requires a
    * directory; a lone file is staged behind a symlink so read-only
    * fixtures stream as-is. `options` pass through to the reader
    * (e.g. `maxFilesPerTrigger` to force multi-batch runs). */
  def streamSource(
      spark: SparkSession,
      parquetPath: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    val p = java.nio.file.Paths.get(parquetPath)
    val dir =
      if (java.nio.file.Files.isRegularFile(p)) {
        val d = java.nio.file.Files.createTempDirectory("stream_src")
        java.nio.file.Files.createSymbolicLink(
          d.resolve(p.getFileName), p.toAbsolutePath)
        d.toString
      } else parquetPath
    val schema = spark.read.parquet(dir).schema
    options.foldLeft(spark.readStream.schema(schema)) {
      case (r, (k, v)) => r.option(k, v)
    }.parquet(dir)
  }

  /** Run a batch-defined transform as a real stream over the same
    * parquet data (Trigger.AvailableNow + memory sink) and return the
    * drained result — proves the logical plan is streaming-safe. */
  def runAsStream(
      spark: SparkSession,
      parquetDir: String,
      transform: DataFrame => DataFrame,
      queryName: String,
      outputMode: OutputMode = OutputMode.Append): DataFrame = {
    val in = streamSource(spark, parquetDir)
    val q = transform(in).writeStream
      .format("memory")
      .queryName(queryName)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(queryName)
  }

  // ----- continuous CDC apply (streaming MERGE INTO) -----

  /** Bucket id for a state row: Murmur3 hash of the merge key(s) mod
    * `numBuckets` — the same deterministic function partitions state
    * files and routes batch deltas, so a key always lives in exactly
    * one bucket across every version. */
  private[graft] def bucketCol(stateKeys: Seq[String], numBuckets: Int): Column =
    bucketOf(stateKeys.map(col), numBuckets)

  /** [[bucketCol]] of key columns given as expressions. */
  private[graft] def bucketOf(keys: Seq[Column], numBuckets: Int): Column =
    pmod(hash(keys: _*), lit(numBuckets))

  private[graft] def hadoopFs(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Manifest v{n}: one line per bucket, `bucket version` — the
    * version whose rewrite last touched the bucket (−1 = bucket has
    * no rows / no file). A version is exactly a manifest plus the
    * bucket files it newly wrote; unchanged buckets are inherited by
    * reference, which is what makes a micro-batch's I/O proportional
    * to the DIRTY state, not the whole table. */
  // ONE tested stream-IO path for every small control file the store
  // keeps (manifests, the store meta) — a future move to e.g.
  // atomic rename-based writes lands in one place.
  private[graft] def writeSmallFile(
      spark: SparkSession, path: String, body: String): Unit = {
    val (fs, p) = hadoopFs(spark, path)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Create-EXCLUSIVE small-file write: fails loudly if `path` already
    * exists — the commit primitive for single-writer stores
    * (GraphStore claims, manifests, and release markers). Two
    * concurrent appliers that both read version v and both publish
    * v+1 are a silent lost update under the overwrite form (last
    * writer drops the other's merge); under create-exclusive, exactly
    * one commit lands and the other surfaces as an error naming the
    * cause. The atomicity itself lives in [[AtomicCommit]] — ONE
    * primitive, so no future call site can quietly fall back to the
    * non-atomic `fs.create(p, false)` (check-then-act on local FS).
    * [[cdcApply]] deliberately keeps [[writeSmallFile]]'s overwrite
    * form: its versions are keyed by micro-batch id and the engine
    * serializes batches, so the only same-path rewrite there is a
    * foreachBatch RETRY overwriting its own partial file — which must
    * succeed. */
  private[graft] def writeSmallFileExclusive(
      spark: SparkSession, path: String, body: String): Unit =
    AtomicCommit.publishExclusive(spark, path, body)

  private[graft] def readSmallFile(spark: SparkSession, path: String): String = {
    val (fs, p) = hadoopFs(spark, path)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  /** One bucket's manifest entry: the version whose rewrite last
    * touched it (−1 = no rows), plus — when the writing commit
    * recorded them — the bucket's data files as (name, bytes). The
    * stats are what lets [[graft.sources.GraftStoreFileIndex]] plan a
    * scan with ZERO listStatus round-trips (`sizeInBytes`, file
    * enumeration) on an object store with thousands of buckets;
    * `files = None` marks a pre-stats (legacy) entry, which readers
    * serve by falling back to listing that bucket — the format
    * extension is backwards-compatible in both directions (old
    * readers parse the first two fields and ignore the rest). */
  private[graft] final case class BucketFiles(version: Int,
      files: Option[Seq[(String, Long)]],
      stats: Option[ZoneMaps.BucketStats] = None)

  private[graft] def versionsOf(m: Map[Int, BucketFiles]): Map[Int, Int] =
    m.map { case (k, bf) => k -> bf.version }

  // line format: `bucket version[ files[ stats]]` — files is `-`
  // (present bucket, zero files: unreachable today but representable)
  // or comma-joined `name:bytes` (part-file names carry no
  // ':'/','/' '); stats is the optional zone-map field
  // (ZoneMaps.encodeField — space-free by construction), written only
  // next to a files field so field positions stay fixed
  private def manifestBody(m: Map[Int, BucketFiles]): String =
    m.toSeq.sortBy(_._1).map { case (k, bf) =>
      bf.files match {
        case Some(fs) if bf.version >= 0 =>
          val enc = if (fs.isEmpty) "-"
            else fs.sortBy(_._1).map { case (n, b) => s"$n:$b" }
              .mkString(",")
          val zs = bf.stats.flatMap(ZoneMaps.encodeField)
            .fold("")(" " + _)
          s"$k ${bf.version} $enc$zs"
        case _ => s"$k ${bf.version}"
      }
    }.mkString("", "\n", "\n")

  private[graft] def writeManifestFull(
      spark: SparkSession, path: String, m: Map[Int, BucketFiles]): Unit =
    writeSmallFile(spark, path, manifestBody(m))

  /** [[writeSmallFileExclusive]]'s manifest form — GraphStore's commit. */
  private[graft] def writeManifestExclusiveFull(
      spark: SparkSession, path: String, m: Map[Int, BucketFiles]): Unit =
    writeSmallFileExclusive(spark, path, manifestBody(m))

  private[graft] def readManifest(spark: SparkSession, path: String): Map[Int, Int] =
    versionsOf(readManifestFull(spark, path))

  private[graft] def readManifestFull(spark: SparkSession,
      path: String): Map[Int, BucketFiles] = {
    val lines = readSmallFile(spark, path).linesIterator
      .filter(_.nonEmpty).toSeq
    // A valid manifest ALWAYS carries every bucket id of its layout
    // (the invariant width-from-manifest hashing relies on), so an
    // empty file can only be a mid-publish read on a commit path
    // whose name lands before its content (HDFS create-exclusive /
    // nolink fallback — AtomicCommit documents both; the local-FS
    // link path is immune) or a truncated copy. Serving an EMPTY
    // state map here would silently answer "no rows" — fail loudly
    // and retryably instead (the in-flight writer's content lands
    // within milliseconds).
    require(lines.nonEmpty,
      s"$path: manifest file is empty — a committed manifest always " +
        "carries every bucket id of its layout, so this read raced an " +
        "in-flight commit (content follows the name within ms on the " +
        "HDFS/nolink paths) or the file was truncated; retry the read")
    lines.map { l =>
      // fields: `bucket version[ files[ stats]]` — the optional third
      // field is the per-bucket file-stats extension, the optional
      // fourth the zone-map stats (see manifestBody); a short (legacy)
      // line yields None for the absent extensions
      val f = l.split(' ')
      val files =
        if (f.length < 3) None
        else if (f(2) == "-") Some(Seq.empty[(String, Long)])
        else Some(f(2).split(',').toSeq.map { e =>
          val i = e.lastIndexOf(':')
          (e.substring(0, i), e.substring(i + 1).toLong)
        })
      val stats =
        if (f.length < 4) None else Some(ZoneMaps.decodeField(f(3)))
      f(0).toInt -> BucketFiles(f(1).toInt, files, stats)
    }.toMap
  }

  /** Bounded-parallel map over per-bucket filesystem round-trips —
    * independent small RPCs; serially, a thousands-of-buckets store on
    * an object store pays minutes of latency. Shared by the write-time
    * stats collection below and the FileIndex's legacy-listing
    * fallback. */
  private[graft] def parEach[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    import scala.collection.parallel.CollectionConverters._
    val pool = new java.util.concurrent.ForkJoinPool(
      math.min(32, items.size))
    try {
      val par = items.par
      par.tasksupport =
        new scala.collection.parallel.ForkJoinTaskSupport(pool)
      par.map(f).toList
    } finally pool.shutdown()
  }

  /** Write `state` hash-partitioned by bucket under `dir` (one
    * `_graft_bucket=k/` leaf per non-empty bucket; the virtual column
    * is partition metadata, not data, so bucket files carry the clean
    * state schema). Returns the buckets actually written with their
    * data files' (name, bytes) — the manifest persists the stats so
    * serving reads never re-list (a bucket whose rows all disappeared
    * produces no leaf and must be recorded as empty in the manifest).
    * The stats listing costs one listStatus per WRITTEN bucket, on the
    * write path that just created those dirs — dirty-bucket-bounded
    * per apply, paid once so every subsequent read pays zero. */
  private[graft] def writeBuckets(
      state: DataFrame, stateKeys: Seq[String], numBuckets: Int,
      dir: String): Map[Int, Seq[(String, Long)]] = {
    // partitioned BY the bucket id, so each bucket's rows land in one
    // shuffle partition and one file, into at most as many tasks as
    // the cluster runs at once rather than one task per bucket (each
    // task pays a fixed Hadoop Configuration deserialization); an
    // explicit count, so AQE on or off runs the same write
    val tasks = math.min(numBuckets,
      state.sparkSession.sparkContext.defaultParallelism)
    state
      .withColumn("_graft_bucket", bucketCol(stateKeys, numBuckets))
      .repartition(tasks, col("_graft_bucket"))
      .write.partitionBy("_graft_bucket").mode("overwrite").parquet(dir)
    val (fs, p) = hadoopFs(state.sparkSession, dir)
    val present = fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_graft_bucket="))
      .map(_.stripPrefix("_graft_bucket=").toInt)
    parEach(present) { k =>
      k -> fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/_graft_bucket=$k"))
        .toSeq.collect {
          case st if st.isFile && !st.getPath.getName.startsWith("_") &&
              !st.getPath.getName.startsWith(".") =>
            (st.getPath.getName, st.getLen)
        }
    }.toMap
  }

  private[graft] def bucketPath(stateDir: String, version: Int, bucket: Int) =
    s"$stateDir/v$version/_graft_bucket=$bucket"

  // ----- per-bucket key Bloom sidecars (probe miss-skipping) -----
  //
  // The LSM read-path optimization for miss-heavy point probes (an
  // ingest screen asking "which of these 10k keys already exist?"
  // hits mostly-absent keys): each bucket file gets an immutable
  // `_bloom` sidecar over its key set, and a probe tests its anchors
  // against the sidecars of the buckets they hash to — a bucket whose
  // bloom rejects every anchor aimed at it is DEFINITELY miss and is
  // never opened (a false positive just reads the bucket; the
  // left-semi join keeps the answer exact either way, so the bloom
  // can only skip I/O, never change a result). Sidecars live INSIDE
  // the version's bucket directory — immutable with it, pinned by the
  // same manifest, vacuumed with it, and invisible to every data
  // reader (the `_` prefix is Spark's own hidden-file convention).
  // Missing sidecar → no skip (legacy buckets degrade gracefully).

  /** Bloom hash count (k). With the default 2^17 bits per bucket this
    * gives ~1% false positives at ~13k keys/bucket and degrades
    * gracefully (weaker skipping, never wrong) when a bucket outgrows
    * it; a rebucket restores the ratio. */
  private[graft] val BloomHashes = 6

  /** Double-hashing positions from one xxhash64 of the key tuple:
    * g_i = (low32 + i · (high32|1)) mod bits — the standard
    * Kirsch-Mitzenmacher scheme; |1 keeps the stride odd. The SQL
    * builder below and this driver-side prober MUST stay the same
    * arithmetic (both operate on Spark's xxhash64(seed 42) value). */
  private def bloomPositions(h: Long, k: Int, bits: Long): Seq[Long] = {
    val h1 = h & 0xFFFFFFFFL
    val h2 = (h >>> 32) | 1L
    (0 until k).map(i => (h1 + i * h2) % bits)
  }

  /** Build and publish the `_bloom` sidecar of every bucket under the
    * just-written version dir `vdir` — ONE codegen'd job over the
    * written buckets (column-pruned read of the key columns, explode
    * to k positions, hash-agg collect_set per bucket), then one small
    * sidecar write per bucket. Driver transfer is ≤ `bits` set
    * positions per dirty bucket (16 KiB of bitset at the default
    * width), dirty-bucket-bounded like the write itself. */
  private[graft] def writeBucketBlooms(spark: SparkSession,
      vdir: String, keys: Seq[String], bits: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Unit = {
    // the write path knows the bucket files' schema — an explicit
    // schema (plus the partition column) skips per-call parquet
    // footer inference over every bucket dir (r15 opt; stateAt makes
    // the same trade)
    val rd = schema.fold(spark.read)(s => spark.read.schema(
      s.add("_graft_bucket", org.apache.spark.sql.types.IntegerType)))
    val perBucket = rd.parquet(vdir)
      .select(col("_graft_bucket").cast("int").as("_b"),
        xxhash64(keys.map(col): _*).as("_h"))
      .select(col("_b"),
        col("_h").bitwiseAND(lit(0xFFFFFFFFL)).as("_h1"),
        shiftrightunsigned(col("_h"), 32).bitwiseOR(lit(1L)).as("_h2"))
      .select(col("_b"), col("_h1"), col("_h2"),
        explode(array((0 until BloomHashes).map(i => lit(i.toLong)): _*))
          .as("_i"))
      .select(col("_b"),
        pmod(col("_h1") + col("_i") * col("_h2"), lit(bits.toLong))
          .cast("int").as("_p"))
      .groupBy("_b").agg(collect_set(col("_p")).as("_ps"))
      .collect()
    parEach(perBucket.toSeq) { row =>
      val b = row.getInt(0)
      val bs = new java.util.BitSet(bits)
      row.getSeq[Int](1).foreach(bs.set)
      writeSmallFile(spark, s"$vdir/_graft_bucket=$b/_bloom",
        s"$bits $BloomHashes\n" +
          java.util.Base64.getEncoder.encodeToString(bs.toByteArray) +
          "\n")
    }
    ()
  }

  /** A crash-orphaned AtomicCommit temp (`.<name>.tmp-<uuid>`), old
    * enough that no in-flight commit can still hold it (the
    * write→link window is milliseconds; the hour gate keeps a live
    * writer's temp safe). Inert if left — every reader's name filter
    * excludes them — but one accumulates per crash. */
  private[graft] def staleTmp(
      st: org.apache.hadoop.fs.FileStatus): Boolean = {
    val n = st.getPath.getName
    n.startsWith(".") && n.contains(".tmp-") &&
      st.getModificationTime < System.currentTimeMillis() - 3600 * 1000L
  }

  /** GC one versioned store dir's exclusive-commit control files —
    * ONE definition of the subtle keep rule, shared by
    * [[graft.graph.GraphStore.vacuum]] and the streaming sink's
    * vacuum (divergence here is a lost-update hazard): a claim is GC'd
    * only when its version is BOTH below the surviving-manifest floor
    * AND referenced by no surviving manifest — bucket INHERITANCE
    * means a below-floor version's bucket dir can still be live, and
    * deleting that claim would let a stalled pre-claim writer
    * re-claim the version and overwrite files current manifests point
    * to. Crash-orphaned commit temps ([[staleTmp]]) are swept too.
    * Call AFTER cdcVacuum (the rule is judged against what survived).
    * Returns claims deleted. */
  private[graft] def sweepClaims(spark: SparkSession,
      tdir: String): Int = {
    val survived = manifestVersions(spark, tdir)
    val floor = survived.min
    val liveVers: Set[Int] = survived.toSet[Int].flatMap(v =>
      readManifest(spark, s"$tdir/manifest/v$v").values.filter(_ >= 0))
    val (mfs, mdir) = hadoopFs(spark, s"$tdir/manifest")
    var claims = 0
    mfs.listStatus(mdir).toSeq.foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith(".claim_v")) {
        val v = n.stripPrefix(".claim_v").toInt
        if (v < floor && !liveVers(v) && mfs.delete(st.getPath, false))
          claims += 1
      } else if (staleTmp(st)) {
        mfs.delete(st.getPath, false)
        ()
      }
    }
    claims
  }

  /** Nullability-erased type shape for schema-drift comparison — ONE
    * definition shared by the batch applier (GraphStore.applyTable)
    * and the streaming sink: nullability is NOT drift (the parquet
    * round-trip behind `_empty` reads everything nullable while
    * in-memory plans carry non-null arrays), so stores compare shape
    * only. */
  private[graft] def normShape(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, normShape(f.dataType), nullable = true)))
      case a: ArrayType => ArrayType(normShape(a.elementType), true)
      case m: MapType =>
        MapType(normShape(m.keyType), normShape(m.valueType), true)
      case other => other
    }
  }

  /** [[normShape]] over a whole schema, keyed by column name — the
    * comparison form both writers use. */
  private[graft] def shapeMap(s: org.apache.spark.sql.types.StructType)
      : Map[String, org.apache.spark.sql.types.DataType] =
    s.fields.map(f => f.name -> normShape(f.dataType)).toMap

  /** Per-bucket anchor-hash cap for the probe-side gate: a bucket
    * aimed at by more distinct anchors than this is read UNTESTED
    * (the gate exists for miss-heavy point reads; a frontier that
    * large hits the bucket anyway with near-certainty, and the cap
    * bounds the driver transfer to width × cap longs — the previous
    * unbounded per-anchor collect could OOM the driver on a grown
    * traversal frontier). Tunable for tests via -Dgraft.bloom.probeCap. */
  private[graft] def bloomProbeCap: Int =
    sys.props.get("graft.bloom.probeCap").map(_.toInt).getOrElse(1024)

  /** Probe-side sidecar test: can `bucketDir` possibly contain a row
    * whose key tuple xxhash64's to any of `hashes`? Missing sidecar →
    * true (no skip — pre-bloom buckets stay readable); an unparseable
    * one fails loudly (a half-written sidecar should never silently
    * disable skipping forever). */
  private[graft] def bloomMightContain(spark: SparkSession,
      bucketDir: String, hashes: Seq[Long]): Boolean = {
    val (fs, p) = hadoopFs(spark, s"$bucketDir/_bloom")
    if (!fs.exists(p)) return true
    val lines = readSmallFile(spark, s"$bucketDir/_bloom")
      .linesIterator.toSeq
    require(lines.length >= 2 && lines.head.split(' ').length == 2,
      s"$bucketDir/_bloom: malformed bloom sidecar — delete it to " +
        "disable skipping for this bucket, or rewrite the version")
    val Array(bits, k) = lines.head.split(' ').map(_.toInt)
    val bs = java.util.BitSet.valueOf(
      java.util.Base64.getDecoder.decode(lines(1)))
    hashes.exists(h =>
      bloomPositions(h, k, bits.toLong).forall(pos => bs.get(pos.toInt)))
  }

  /** Store-width default for every bucket store ([[cdcApply]],
    * [[graft.graph.GraphStore.init]], the `graftstore` sink): 16 at
    * fixture scale (thousands on a 100 TB store — `numBuckets` trades
    * per-batch write amplification against small-file count; a
    * caller's explicit width always wins). Env-tunable
    * (`GRAFT_CDC_BUCKETS`) so the bucketing's constant overhead is
    * measurable without a code edit: a 1-bucket store is exactly the
    * pre-bucketing single-table layout. */
  private[graft] def defaultNumBuckets: Int =
    sys.env.getOrElse("GRAFT_CDC_BUCKETS", "16").toInt

  /** Generic continuous CDC apply over a KEY-PARTITIONED versioned
    * state store — the streaming form of
    * [[graft.operators.MergeInto]]. State lives at `stateDir` as
    * `numBuckets` hash-buckets of the merge key(s): each micro-batch
    * maps to a keyed delta via `toDelta`, only the buckets containing
    * delta keys are read, merged (`merge(stateBucket, delta)` must be
    * key-local, which every per-key merge policy is), and rewritten;
    * the per-version manifest points unchanged buckets at the version
    * that last wrote them. Per-batch I/O is therefore
    * O(|dirty buckets|) ≈ O(|batch| · |state|/numBuckets), not
    * O(|state|) — the property that keeps a 1k-row change batch from
    * rewriting 100 TB of keyed state.
    *
    * Replay contract: the version is derived from the micro-batch id
    * (read manifest v{id}, write bucket files + manifest v{id+1}), so
    * a foreachBatch retry deterministically re-reads the pre-batch
    * state and overwrites the same outputs, and a `_chk` restart
    * resumes from the last committed manifest — exactly-once by
    * construction, with no driver-side mutable cursor.
    *
    * Scale shape: `toDelta` runs once per batch (checkpointed), the
    * dirty-bucket set is a ≤`numBuckets` driver list, and the merge
    * is ONE keyed job over the union of dirty buckets (hash-join on
    * the merge key; the delta side is batch-sized and broadcastable).
    * `numBuckets` trades write amplification against small-file
    * count: 16 here for fixture scale, thousands for a 100 TB store.
    */
  def cdcApply(
      spark: SparkSession,
      changes: DataFrame,
      initState: DataFrame,
      stateDir: String,
      stateKeys: Seq[String],
      toDelta: DataFrame => DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame,
      numBuckets: Int = defaultNumBuckets): DataFrame = {
    import BucketStore.StoreMeta
    val stateSchema = initState.schema
    def manifestPath(v: Int) = s"$stateDir/manifest/v$v"
    // Init is write-once: a `_chk` restart of a partially-processed
    // stream must NOT re-materialize v0 — committed manifests
    // inherit unchanged v0 buckets by reference, and the overwrite
    // deletes those files before rewriting them, so a crash in that
    // window would leave committed versions pointing at nothing (and
    // a changed `initState` would silently splice into history).
    // Resume detection is "ANY manifest exists", not "manifest v0
    // exists" — cdcVacuum legitimately deletes superseded manifests
    // (v0 first) while kept manifests still inherit v0 bucket files,
    // so keying on v0 alone would re-run the destructive init on a
    // restart-after-vacuum. The v0 manifest is written LAST within
    // init, so on the creation path its existence certifies the
    // bucket files and `_empty` schema are complete on disk.
    val (initFs, mdir) = hadoopFs(spark, s"$stateDir/manifest")
    val resumed = initFs.exists(mdir) && initFs.listStatus(mdir).nonEmpty
    // The store's bucket count is a LAYOUT property: every manifest
    // and bucket dir encodes it, so a restart must use the count the
    // store was created with, whatever today's parameter/env says —
    // a mismatched bucketCol would route keys to the wrong bucket
    // and duplicate state. Persisted at creation, read on resume.
    val meta =
      if (!resumed) StoreMeta(numBuckets)
      else StoreMeta.read(spark, stateDir) match {
        case None => StoreMeta(numBuckets) // pre-meta store: trust caller
        case Some(m) =>
          require(m.keys.forall(_ == stateKeys),
            s"$stateDir is bucketed by (${m.keys.get.mkString(",")}) per " +
              s"its meta; stateKeys (${stateKeys.mkString(",")}) would " +
              "route keys to the wrong buckets")
          if (m.buckets != numBuckets) System.err.println(
            s"[cdcApply] $stateDir was created with ${m.buckets} " +
              s"buckets; ignoring requested $numBuckets")
          m
      }
    if (!resumed) {
      // Schema-carrying empty state: the read side for buckets that
      // have never held rows (an empty partitionBy write creates no
      // leaf directory to point at).
      initState.limit(0).coalesce(1)
        .write.mode("overwrite").parquet(s"$stateDir/_empty")
      StoreMeta.write(spark, stateDir, meta)
      writeManifestFull(spark, manifestPath(0),
        BucketStore.writeVersion(spark, stateDir, 0, initState, stateKeys,
          meta.buckets, meta, stateSchema))
    }
    val q = changes.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        val ss = batch.sparkSession
        // version = batch id + 1 (the replay contract above); the
        // manifest write OVERWRITES, so a retry of this batch replaces
        // its own partial commit
        // checkpointed lazily: the dirty-set collect is its first
        // action and materializes it, so the merge reads the blocks
        val delta = toDelta(batch.toDF()).localCheckpoint(eager = false)
        val base = readManifestFull(ss, manifestPath(id.toInt))
        val next = BucketStore.rewriteDirty(ss, stateDir, base,
          id.toInt + 1, delta, BucketStore.bucketsFor(ss, stateDir, base,
            stateKeys, Right(delta), None), stateKeys, meta,
          stateSchema)(merge)
        writeManifestFull(ss, manifestPath(id.toInt + 1), next)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", s"$stateDir/_chk")
    q.start().awaitTermination()
    cdcState(spark, stateDir)
  }

  private[graft] def manifestVersions(spark: SparkSession, stateDir: String): Seq[Int] = {
    val (fs, mdir) = hadoopFs(spark, s"$stateDir/manifest")
    fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filter(_.matches("v\\d+")) // skip GraphStore's .claim_v* files
      .map(_.stripPrefix("v").toInt).sorted
  }

  // ----- additive schema evolution (raw/sink-maintained stores) -----
  //
  // The store's read schema is fixed at creation (`_empty`) — the
  // right contract for the GRAPH layout, whose merge policies are
  // column-typed, but a standing SINK pipeline that gains a column
  // must not need a 100 TB rebuild. Evolution is APPEND-ONLY: each
  // step writes the full evolved schema as a new `_empty_e{k}` footer
  // (published by atomic directory RENAME — readers either see the
  // complete dir or none), and every read resolves the NEWEST footer;
  // old bucket files served under the evolved schema yield NULL for
  // the appended columns (explicit-schema parquet reads — exactly why
  // stateAt's schema parameter exists). Append-only keeps zone-map
  // ordinals, bloom keys, and bucket hashing all stable.

  /** The store's CURRENT read schema: the newest `_empty_e{k}`
    * evolution footer, or the creation `_empty`. */
  private[graft] def storeSchema(spark: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType = {
    val (fs, root) = hadoopFs(spark, dir)
    val es = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("_empty_e\\d+"))
      .map(_.stripPrefix("_empty_e").toInt)
    val src = if (es.isEmpty) s"$dir/_empty" else s"$dir/_empty_e${es.max}"
    spark.read.parquet(src).schema
  }

  /** Publish `evolved` as the store's next schema footer — write to a
    * `__tmp` sibling, then RENAME into `_empty_e{k+1}` (atomic on
    * HDFS and local FS: a reader never lists a half-written footer).
    * Single-writer like every store mutation; a rename loss (a
    * concurrent writer won the same k) re-resolves and accepts an
    * identical winner, else fails loudly. Crash-orphaned `__tmp` dirs
    * are inert (the resolver's name filter excludes them) and swept
    * by the sink's vacuum. */
  private[graft] def evolveStoreSchema(spark: SparkSession, dir: String,
      evolved: org.apache.spark.sql.types.StructType): Unit = {
    val (fs, root) = hadoopFs(spark, dir)
    val k = fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.matches("_empty_e\\d+"))
      .map(_.stripPrefix("_empty_e").toInt)
      .foldLeft(0)(math.max) + 1
    val tmp = s"$dir/_empty_e${k}__tmp-${java.util.UUID.randomUUID}"
    spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], evolved)
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val ok = fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$dir/_empty_e$k"))
    if (!ok) fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    // verify REGARDLESS of the rename result: local-FS rename onto an
    // existing directory can report success while moving the tmp
    // INSIDE the racing winner's footer (POSIX mv semantics; the
    // `_`-prefixed name keeps it invisible to readers) — re-resolving
    // makes either race outcome loud unless the winner's schema is
    // identical (then this writer's intent is already served)
    val now = storeSchema(spark, dir)
    require(now == evolved,
      s"$dir: schema evolution raced a concurrent writer and the " +
        s"surviving footer differs (${now.simpleString} vs " +
        s"${evolved.simpleString}) — the store is single-writer; " +
        "quiesce writers and retry")
  }

  /** Read the newest committed state version of a [[cdcApply]] store —
    * the serve-side API: resolve the latest manifest, read exactly the
    * bucket files it references. */
  def cdcState(spark: SparkSession, stateDir: String): DataFrame = {
    val last = manifestVersions(spark, stateDir).max
    // read at the store's CURRENT schema (evolution-aware): on an
    // evolved store the bucket files are mixed-footer and inference
    // would serve whichever file it sampled; pre-evolution buckets
    // yield NULL for appended columns under the explicit schema
    BucketStore.stateAt(spark, stateDir,
      readManifestFull(spark, s"$stateDir/manifest/v$last"),
      Some(storeSchema(spark, stateDir)))
  }

  /** Symmetric row delta between two RETAINED versions of a versioned
    * bucket store — the rows present at `to` but not `from`
    * (`change = '+'`) and vice versa (`'-'`). MANIFEST-PRUNED: a
    * bucket whose version pointer is equal in both manifests
    * references the SAME immutable file and is never opened, so both
    * sides read only the buckets some apply/batch rewrote in between
    * — the downstream-invalidation read ("which index postings moved
    * since version v") is O(changed buckets), never 2 × store. Set
    * semantics, exact; tombstoned rows diff like any other row (a
    * key's delete surfaces as '-' live + '+' tombstone).
    * [[graft.graph.GraphStore.diff]] is the release-marker-resolved
    * form of this same read. */
  private[graft] def cdcDiff(spark: SparkSession, stateDir: String,
      from: Map[Int, BucketFiles], to: Map[Int, BucketFiles],
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions.lit
    // pointer-equality pruning is only meaningful when both manifests
    // share one layout width — across a re-bucketing, bucket id 3
    // names DIFFERENT key sets on the two sides, so the diff falls
    // back to comparing every live bucket (exact, just unpruned)
    val changed =
      if (from.size != to.size) from.keySet ++ to.keySet
      else (from.keySet ++ to.keySet)
        .filter(b => from.get(b).map(_.version) != to.get(b).map(_.version))
    def side(m: Map[Int, BucketFiles]) = BucketStore.stateAt(spark,
      stateDir, m.filter { case (b, _) => changed(b) }, schema)
    val (f, t) = (side(from), side(to))
    t.except(f).withColumn("change", lit("+"))
      .unionByName(f.except(t).withColumn("change", lit("-")))
  }

  /** [[cdcDiff]] between two committed version numbers of a
    * [[cdcApply]] store (e.g. two micro-batch commits of a streaming
    * index maintain) — vacuumed versions fail loudly on the manifest
    * read. */
  def cdcDiffVersions(spark: SparkSession, stateDir: String,
      fromV: Int, toV: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame =
    cdcDiff(spark, stateDir,
      readManifestFull(spark, s"$stateDir/manifest/v$fromV"),
      readManifestFull(spark, s"$stateDir/manifest/v$toV"),
      // both sides of the diff MUST read one schema — on an evolved
      // store, footer inference could give the two sides different
      // column sets and except() would throw (or worse, misalign)
      Some(schema.getOrElse(storeSchema(spark, stateDir))))

  /** Vacuum superseded state versions: keep the newest `keepVersions`
    * manifests plus every bucket file they reference; delete
    * unreferenced bucket directories and older manifests. The GC dual
    * of [[cdcApply]]'s copy-on-write — without it a long-running
    * stream accumulates one rewritten bucket set per batch forever.
    * Readers of kept versions are untouched (their manifests only
    * reference kept files; unchanged buckets inherited from OLD
    * versions stay because the kept manifests reference them).
    * Returns (buckets deleted, manifests deleted).
    *
    * `keepFrom`: an ABSOLUTE floor — every version ≥ it survives, on
    * top of the newest-`keepVersions` count. GraphStore.vacuum pins
    * this to the newest release marker's version so a concurrent
    * applier committing v+1 between the caller's decision and this
    * listing can never shrink the count-based window below a
    * marker-pinned manifest (the count alone is a TOCTOU: `keep the
    * newest 1` keeps a version that did not exist when the caller
    * checked what the marker pins). */
  def cdcVacuum(spark: SparkSession, stateDir: String,
      keepVersions: Int = 2, keepFrom: Option[Int] = None): (Int, Int) = {
    val versions = manifestVersions(spark, stateDir)
    val keep = (versions.takeRight(math.max(1, keepVersions)) ++
      keepFrom.fold(Seq.empty[Int])(f => versions.filter(_ >= f))).toSet
    val referenced: Set[(Int, Int)] = keep.flatMap { v =>
      // .toSeq first: collecting (ver, b) tuples straight off the Map
      // would re-key by ver and silently collapse all of a version's
      // buckets to one entry
      readManifest(spark, s"$stateDir/manifest/v$v").toSeq
        .collect { case (b, ver) if ver >= 0 => (ver, b) }
    }
    val (fs, root) = hadoopFs(spark, stateDir)
    // a CLAIMED version with no committed manifest is an in-flight
    // writer's directory (GraphStore claims v+1 before its bucket
    // writes; the manifest commits after): deleting its bucket files
    // here would let the writer commit a manifest pointing at a hole.
    // Vacuum DEFERS on those versions; they become vacuumable the
    // moment their manifest commits (committed) or their claim is
    // GC'd (crashed writer, operator-cleared).
    val committed = versions.toSet
    def inFlight(ver: Int): Boolean = !committed(ver) && {
      val (cfs, cp) = hadoopFs(spark, s"$stateDir/manifest/.claim_v$ver")
      cfs.exists(cp)
    }
    var droppedBuckets = 0
    fs.listStatus(root).filter { st =>
      val n = st.getPath.getName
      st.isDirectory && n.startsWith("v") && n.drop(1).forall(_.isDigit)
    }.foreach { vd =>
      val ver = vd.getPath.getName.stripPrefix("v").toInt
      if (!inFlight(ver)) {
        fs.listStatus(vd.getPath)
          .filter(_.getPath.getName.startsWith("_graft_bucket="))
          .foreach { bd =>
            val b = bd.getPath.getName.stripPrefix("_graft_bucket=").toInt
            if (!referenced((ver, b))) {
              fs.delete(bd.getPath, true); droppedBuckets += 1
            }
          }
        if (!fs.listStatus(vd.getPath)
            .exists(_.getPath.getName.startsWith("_graft_bucket=")))
          fs.delete(vd.getPath, true) // version fully superseded
      }
      ()
    }
    var droppedManifests = 0
    versions.filterNot(keep).foreach { v =>
      val (mfs, mp) = hadoopFs(spark, s"$stateDir/manifest/v$v")
      if (mfs.delete(mp, false)) droppedManifests += 1
    }
    (droppedBuckets, droppedManifests)
  }

  /** Lift the customer snapshot into CDC state: payload columns plus
    * the bookkeeping a robust CDC consumer needs — `deleted`
    * tombstones (so an out-of-order older change can never resurrect
    * a deleted key) and the (`last_ts_us`, `last_event_id`) monotonic
    * guard (so a change older than what the state already absorbed is
    * a no-op, making the fold idempotent and arrival-order-proof). */
  private[graft] def initCdcState(snapshot: DataFrame): DataFrame =
    snapshot.select(
      col("c_custkey").as("custkey"), col("c_name").as("name"),
      col("c_nationkey").cast("int").as("nationkey"),
      floor(col("c_acctbal") * 100).cast("bigint").as("acctbal_cents"),
      col("c_mktsegment").as("mktsegment"),
      lit(true).as("was_snapshot"), lit(false).as("touched"),
      lit(false).as("deleted"),
      lit(Long.MinValue).as("last_ts_us"),
      lit(Long.MinValue).as("last_event_id"))

  /** Map one micro-batch of raw events to a keyed CDC delta (same
    * feed as `o_merge_upsert`), compacted to the newest change per
    * key. Key-local by construction, so per-bucket compaction equals
    * global compaction restricted to the bucket. */
  private[graft] def cdcDelta(batch: DataFrame): DataFrame = {
    val ch = batch.select(
      when(col("event_type") === "signup", col("user_id") + 1500)
        .otherwise(col("user_id") * 10).as("custkey"),
      when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
      col("event_type"), col("value"),
      unix_micros(col("ts")).as("ts_us"), col("event_id"))
    graft.operators.MergeInto.latestPerKey(ch, "custkey",
      Seq(col("ts_us").desc, col("event_id").desc))
  }

  /** One CDC batch: full-outer apply a compacted delta onto the
    * state — changes at-or-below the state's monotonic guard are
    * dropped, deletes become tombstones. `private[graft]` so the
    * batching-invariance property test can fold arbitrary batch
    * splits without the streaming machinery. */
  private[graft] def applyCdcBatch(state: DataFrame, batch: DataFrame): DataFrame =
    mergeCdcState(state, cdcDelta(batch))

  private[graft] def mergeCdcState(state: DataFrame, latest: DataFrame): DataFrame = {
    val newer = col("c.ts_us") > col("t.last_ts_us") ||
      (col("c.ts_us") === col("t.last_ts_us") &&
        col("c.event_id") > col("t.last_event_id"))
    val hit = col("c.custkey").isNotNull &&
      (col("t.custkey").isNull || newer)
    state.alias("t")
      .join(latest.alias("c"), col("t.custkey") === col("c.custkey"), "full_outer")
      .select(
        coalesce(col("t.custkey"), col("c.custkey")).as("custkey"),
        when(col("t.custkey").isNull,
          concat(lit("cdc#"), col("c.custkey").cast("string")))
          .otherwise(col("t.name")).as("name"),
        when(col("t.custkey").isNull, (col("c.custkey") % 25).cast("int"))
          .otherwise(col("t.nationkey")).as("nationkey"),
        when(hit && col("c.op") === "U",
          floor(col("c.value") * 100).cast("bigint"))
          .otherwise(col("t.acctbal_cents")).as("acctbal_cents"),
        when(hit && col("c.op") === "U", col("c.event_type"))
          .otherwise(col("t.mktsegment")).as("mktsegment"),
        coalesce(col("t.was_snapshot"), lit(false)).as("was_snapshot"),
        when(hit, lit(true))
          .otherwise(coalesce(col("t.touched"), lit(false))).as("touched"),
        when(hit, col("c.op") === "D")
          .otherwise(coalesce(col("t.deleted"), lit(false))).as("deleted"),
        when(hit, col("c.ts_us")).otherwise(col("t.last_ts_us")).as("last_ts_us"),
        when(hit, col("c.event_id"))
          .otherwise(col("t.last_event_id")).as("last_event_id"))
  }

  /** End-to-end continuous MERGE of the events feed into the customer
    * snapshot. Converges to the batch `o_merge_upsert` result for ANY
    * micro-batch partitioning or arrival order of the events (the
    * monotonic guard makes per-key application commutative up to the
    * (ts, event_id) total order); EventStreamsSpec pins this with a
    * deliberately time-shuffled 3-batch run. */
  def cdcCustomerStream(
      spark: SparkSession,
      eventsPath: String,
      snapshot: DataFrame,
      stateDir: String,
      sourceOptions: Map[String, String] = Map.empty): DataFrame = {
    val changes = graft.Tables.normalizeTs(
      streamSource(spark, eventsPath, sourceOptions))
    val state = cdcApply(
      spark, changes, initCdcState(snapshot), stateDir,
      Seq("custkey"), cdcDelta, mergeCdcState)
    state.where(!col("deleted")).select(
      col("custkey").as("c_custkey"), col("name").as("c_name"),
      col("nationkey").as("c_nationkey"), col("acctbal_cents"),
      col("mktsegment").as("c_mktsegment"),
      when(!col("touched"), lit("kept"))
        .when(col("was_snapshot"), lit("updated"))
        .otherwise(lit("inserted")).as("action"))
  }
}
