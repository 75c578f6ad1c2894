package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.graph.GraphStore
import graft.streaming.EventStreams

/** The store's CHANGE FEED as a Structured Streaming source —
  * `spark.readStream.format("graftstore")` — turning every committed
  * release (or cdcApply version) into a micro-batch of `change`-tagged
  * rows ('+'/'-', [[EventStreams.cdcDiff]] semantics). This closes the
  * pipeline loop the maintain twins (`st_index_maintain`,
  * `st_ann_maintain`, `st_vec_index_maintain`) consume from: a release
  * MERGEs into the standing store, the feed emits exactly what it
  * changed, and downstream incremental re-processing (re-embed,
  * re-index, re-pack) keys off those rows — at 100 TB the feed read is
  * manifest-pruned to the buckets the release actually rewrote
  * (O(changed buckets), never the table), because each batch IS a
  * [[GraphStore.diff]] / [[EventStreams.cdcDiffVersions]] read. The
  * reference's own cadence is exactly this shape — one pipeline
  * execution per release, state machine serialized
  * (gfe-db pipeline.asl.json:153) — re-expressed as a stream of
  * per-release micro-batches.
  *
  * Offsets are RELEASE MARKERS (graph layout) or manifest VERSIONS
  * (raw layout) — both immutable once committed, so every batch is
  * deterministic on replay and the feed is exactly-once under
  * checkpointing with no source-side state at all.
  *
  * Batch granularity contract:
  *  - '''bootstrap''' (fresh checkpoint): batch 1 is the full state at
  *    the newest committed offset, all '+' — the feed is
  *    self-initializing ("the feed IS the table, incrementally"):
  *    folding its batches from empty reproduces the served state.
  *  - '''live''': ONE offset per micro-batch — a downstream consumer
  *    applies each release atomically, the same granularity
  *    [[GraphStore.applyRelease]] commits at.
  *  - '''catch-up after restart''': one NET batch (diff from the
  *    committed offset straight to the newest) — sound because diffs
  *    compose: net-folding diff(a,b) and diff(b,c) equals diff(a,c);
  *    a consumer that needs strictly per-release batches runs the
  *    feed continuously (or one AvailableNow pass per release, the
  *    reference's cadence) rather than restarting cold.
  *
  * Retention: a batch replay needs BOTH end manifests retained —
  * [[GraphStore.vacuum]]'s keepVersions window bounds how far back a
  * stopped feed can resume; past it, the read fails loudly naming the
  * knob (never a silent gap). */
class GraftStoreChangeSource(
    spark: SparkSession,
    parameters: Map[String, String],
    override val schema: StructType) extends Source {

  // (dir, table) for the GraphStore layout; None → raw cdcApply store
  // (ONE resolution shared with the batch relation and the stream
  // schema — see GraftStoreSource.resolveLayout)
  private val graphTable: Option[(String, String)] =
    GraftStoreSource.resolveLayout(parameters) match {
      case GraftStoreSource.GraphLayout(dir, t) => Some((dir, t))
      case GraftStoreSource.RawLayout(_) => None
    }
  private val rawDir: String =
    if (graphTable.isDefined) null
    else GraftStoreSource.resolveLayout(parameters)
      .asInstanceOf[GraftStoreSource.RawLayout].path

  /** Committed offsets, oldest → newest — re-listed per poll (small
    * control-file listings, the same cost an applier pays). */
  private def availableIds: Seq[Long] = graphTable match {
    case Some((dir, _)) => GraphStore.markers(spark, dir).map(_.toLong)
    case None =>
      EventStreams.manifestVersions(spark, rawDir).map(_.toLong)
  }

  /** Historical REPLAY: a fresh checkpoint normally bootstraps at the
    * newest offset; `startingMarker` (graph layout) /
    * `startingVersion` (raw layout) pins the bootstrap snapshot to a
    * retained HISTORICAL offset instead, and the feed then steps
    * forward through retained history one offset per batch — "replay
    * the release history from k" for backfills and retraining-corpus
    * reconstruction. Ignored once a checkpoint exists (the engine's
    * committed offset wins); a vacuumed starting offset fails loudly
    * via the same marker/manifest resolution every read uses. */
  private val startOverride: Option[Long] =
    parameters.get("startingMarker")
      .orElse(parameters.get("startingVersion")).map(_.trim.toLong)

  /** `stepCatchUp` (default false): a resumed checkpoint that is
    * several offsets behind steps ONE retained offset per micro-batch
    * instead of netting straight to the newest — for order-dependent
    * consumers (st_pack_maintain-style folds) that need the live
    * path's per-release granularity across a restart. The default
    * stays the net batch (diffs compose; one batch is the cheaper
    * catch-up for order-free consumers). Retention caveat is the
    * net path's, only stronger: EVERY intermediate marker in the gap
    * must still be retained (vacuum keepVersions), not just the two
    * ends — a vacuumed step fails loudly on its manifest read.
    * Under Trigger.AvailableNow the engine fixes its end offset at
    * the first poll, so one pass advances one release; run the feed
    * continuously (or one pass per release, the reference's cadence)
    * to drain a long gap. */
  private val stepCatchUp: Boolean =
    parameters.get("stepCatchUp").exists(_.trim.toBoolean)

  /** Newest offset this source has handed to the engine — advanced in
    * [[getBatch]]/[[commit]], deliberately NOT recovered on restart:
    * the engine owns durable progress (its checkpoint WAL) and passes
    * it back as `start`; this cursor only drives the live one-offset-
    * per-batch pacing. */
  private var cursor: Option[Long] = None

  /** True once THIS instance has served a LIVE batch. On restart the
    * engine first REPLAYS `getBatch` for the last write-ahead-logged
    * batch (and `commit` for committed ones) before ever polling
    * `getOffset` — replay must not arm the live per-offset pacing, or
    * a catch-up run (whose end offset AvailableNow fixes at its first
    * poll) would stop one marker past the replayed batch instead of
    * netting to the newest state. A recovery `getBatch` is exactly one
    * that arrives before this instance has answered a poll
    * ([[polled]]); only post-poll batches switch the source to
    * stepping. */
  private var served = false
  private var polled = false

  override def getOffset: Option[Offset] = {
    val ids = availableIds
    polled = true
    if (ids.isEmpty) None
    else cursor match {
      // live (this instance is mid-stream): step one committed
      // offset per micro-batch
      case Some(c) if served =>
        if (c >= ids.last) Some(LongOffset(c))
        else Some(LongOffset(ids.filter(_ > c).min))
      // genuinely fresh stream (no recovery replay seen): bootstrap —
      // at the newest offset, or at the replay override when given
      case None if !served =>
        Some(LongOffset(startOverride.getOrElse(ids.last)))
      // restart (recovery set the cursor without arming pacing):
      // everything committed is available as one NET catch-up batch
      // (diffs compose) — or, under stepCatchUp, as one retained
      // offset per batch, re-entering the live pacing immediately
      case Some(c) if stepCatchUp =>
        if (c >= ids.last) Some(LongOffset(c))
        else Some(LongOffset(ids.filter(_ > c).min))
      case _ => Some(LongOffset(ids.last))
    }
  }

  private def offsetId(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  // raw-layout reads pin the QUERY's declared schema (the feed schema
  // minus the trailing change column) — a streaming source's schema
  // is fixed at start, so an upstream schema EVOLUTION mid-query must
  // not change what batches carry: evolved bucket files read under
  // the pinned schema simply ignore appended columns (explicit-schema
  // parquet), and a restarted query picks the evolved set up through
  // changeSchema. Footer inference would instead make the batch
  // column set depend on which file got sampled.
  private lazy val pinnedState = org.apache.spark.sql.types.StructType(
    schema.fields.filterNot(_.name == "change"))

  private def snapshotAt(id: Long): DataFrame = graphTable match {
    case Some((dir, t)) => GraphStore.tableAt(spark, dir, t, id.toInt)
    case None => graft.streaming.BucketStore.stateAt(spark, rawDir,
      EventStreams.readManifestFull(spark, s"$rawDir/manifest/v$id"),
      Some(pinnedState))
  }

  private def diffBetween(from: Long, to: Long): DataFrame =
    graphTable match {
      case Some((dir, t)) => GraphStore.diff(spark, dir, t,
        from.toInt, to.toInt)
      case None => EventStreams.cdcDiffVersions(spark, rawDir,
        from.toInt, to.toInt, Some(pinnedState))
    }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val e = offsetId(end)
    cursor = Some(cursor.fold(e)(math.max(_, e)))
    served = served || polled
    val rows = start.map(offsetId) match {
      case None => snapshotAt(e).withColumn("change", lit("+"))
      case Some(s) if s == e =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      // defense in depth: a batch must never run BACKWARDS — the one
      // way to construct one is a startingMarker/startingVersion
      // below a checkpoint's committed progress on an engine that
      // polls before recovery replay; a reversed diff would emit
      // INVERSE changes ('+' for deletions) and silently corrupt
      // every downstream consumer, so refuse loudly instead
      case Some(s) if s > e => throw new IllegalStateException(
        s"graftstore stream: batch end offset $e is behind the " +
          s"checkpoint's committed offset $s — remove the " +
          "startingMarker/startingVersion option when resuming an " +
          "existing checkpoint (it only applies to a fresh one)")
      case Some(s) => diffBetween(s, e)
    }
    // bind by the declared source schema's exact column order, then
    // flag the computed plan streaming (see StreamShim)
    val aligned = rows.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.graft.StreamShim.streamingFrame(
      spark, aligned.queryExecution.toRdd, schema)
  }

  override def commit(end: Offset): Unit =
    cursor = Some(cursor.fold(offsetId(end))(math.max(_, offsetId(end))))

  override def stop(): Unit = ()
}

object GraftStoreChangeSource {
  /** Feed schema: the table's state schema plus the trailing `change`
    * marker column ('+' row now present / '-' row no longer present —
    * an ON-MATCH update is its '-' old row plus its '+' new row). */
  private[sources] def changeSchema(spark: SparkSession,
      parameters: Map[String, String]): StructType = {
    val base = GraftStoreSource.resolveLayout(parameters) match {
      case GraftStoreSource.GraphLayout(dir, t) =>
        GraphStore.pin(spark, dir, None)(t).schema
      case GraftStoreSource.RawLayout(sd) =>
        // resolve through rawManifest, not a bare `$sd/_empty` read:
        // schema resolution is the STREAM's startup path (sourceSchema
        // runs before any batch), so a non-store path must surface the
        // same "not a cdcApply/GraphStore bucket store" remedy the
        // batch relation gives, not a raw parquet FileNotFound — and a
        // never-committed store fails here, at start, not at batch 1
        GraftStoreSource.rawManifest(spark, sd, None)._2
    }
    StructType(base.fields :+ StructField("change", StringType,
      nullable = true))
  }
}
