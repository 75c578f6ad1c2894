package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{StringType, StructType}

import graft.streaming.{BucketStore, EventStreams}
import graft.streaming.BucketStore.StoreMeta

/** The versioned bucket store as a Structured Streaming SINK —
  * `df.writeStream.format("graftstore").option("path", dir)` — the
  * write-side dual of [[GraftStoreChangeSource]]: every micro-batch
  * commits ONE new store version through the same claim-arbitrated
  * manifest protocol the batch appliers use, rewriting only the
  * buckets the batch's keys hash to (O(dirty), never O(state)).
  *
  * This closes the store loop declaratively: `readStream` a store's
  * change feed → transform → `writeStream` into another store is a
  * complete incremental pipeline in plain Spark code — the
  * replication / derived-table shape a 100 TB deployment runs
  * continuously (re-embed what changed, maintain a downstream index,
  * mirror a table across regions), with no graft API beyond the
  * format name. The batch relation stays read-only (a bare INSERT has
  * no batch identity and no merge policy — the refusal documented on
  * [[GraftStoreSource]]); the SINK is the sanctioned write path
  * precisely because it has both: the engine's micro-batch id keys
  * idempotent replay, and `policy` declares the merge.
  *
  * Options:
  *  - `path` (required): the target store directory — a raw
  *    [[EventStreams.cdcApply]]-layout store, created on first batch
  *    if absent. Graph-layout stores (`dir`+`table`) are REFUSED:
  *    their writes carry release identity and a per-table policy
  *    matrix that only [[graft.graph.GraphStore.applyRelease]] knows.
  *  - `keys`: comma-separated merge/bucket key columns, in
  *    declaration order (the bucket hash is order-sensitive).
  *    Required when the sink CREATES the store; persisted in the
  *    store meta (the two-line GraphStore form, so every later
  *    reader/writer cross-checks instead of trusting callers) and
  *    thereafter optional — a mismatching option fails loudly.
  *  - `policy`: how a batch merges into standing state —
  *    '''upsert''' (default; batch rows replace state rows with equal
  *    keys — compact multi-row keys upstream, the survivor among
  *    in-batch duplicates is otherwise arbitrary), '''createOnly'''
  *    (existing keys win, new keys append), '''cdc''' (rows carry the
  *    change feed's `change` column: '-' rows leave the state, '+'
  *    rows enter it, set semantics — folding a graftstore change feed
  *    under this policy reproduces the source table exactly,
  *    spec-pinned in GraftStoreSinkSpec).
  *  - `buckets`: bucket count when creating (default
  *    [[EventStreams.defaultNumBuckets]]); an existing store's
  *    persisted count always wins.
  *  - `keyBlooms` (+ optional `bloomBits`, default 2^17): when
  *    creating, persist a bloom declaration so every batch's bucket
  *    writes also publish `_bloom` key sidecars — miss-heavy reads
  *    against the maintained store (the probe gate, the SQL source's
  *    literal pruning) then skip definitely-miss buckets with zero
  *    data I/O. An existing store's persisted declaration always
  *    wins (the sink maintains whatever the store was created with).
  *  - `zoneMaps`: when creating, persist the zone-map declaration so
  *    every batch's manifest carries per-bucket min/max column stats
  *    ([[graft.streaming.ZoneMaps]]) — range predicates through the
  *    SQL surface then skip buckets at planning with zero filesystem
  *    I/O. Same persisted-declaration-wins rule as keyBlooms.
  *  - `mergeSchema`: opt into ADDITIVE schema evolution — a batch
  *    carrying columns beyond the persisted schema appends them
  *    (nullable) by publishing a new schema footer atomically
  *    ([[EventStreams.evolveStoreSchema]]); every read thereafter
  *    serves the appended columns, NULL from pre-evolution bucket
  *    files, so a standing pipeline gains a column with NO store
  *    rebuild. Append-only by construction: dropping or retyping a
  *    persisted column stays the loud rebuild remedy (standing files
  *    cannot serve it), and keys/bucket-hashing/bloom sidecars/
  *    zone-map ordinals are all unaffected. Without the option, new
  *    columns fail loudly naming it.
  *
  * Exactly-once: a committed batch writes a `_sink_commits/b{id}`
  * record AFTER its manifest commit, so an engine replay of that
  * batch is a no-op. A crash INSIDE the commit window re-applies the
  * batch on restart — convergent, because every policy is idempotent
  * per batch (upsert/createOnly by key, cdc by row set), so the state
  * is exactly-once even when the version history carries the retry.
  * Concurrent writers are excluded by the same create-exclusive
  * version claim the batch appliers use (single-writer per store,
  * like the reference's MaxConcurrency-1 pipeline); the sink
  * recognizes its OWN crashed claim by the batch id it records and
  * resumes through it instead of deadlocking on itself.
  *
  * Output mode: Append and Update both treat the batch as a delta
  * (the policy decides the semantics). Complete is refused — a
  * whole-state replace every trigger forfeits the O(dirty) layout;
  * re-init the store instead.
  */
object GraftStoreSink {
  /** GC for a sink-maintained store — the standing-stream dual of
    * [[graft.graph.GraphStore.vacuum]]: [[EventStreams.cdcVacuum]]
    * prunes superseded versions and manifests, then the sink's own
    * control files are swept — a standing stream otherwise
    * accumulates one claim and one commit record per batch FOREVER
    * (millions of tiny files on a long-lived pipeline).
    *
    *  - '''version claims''' (`manifest/.claim_v*`) are permanent
    *    commit records while their version can still be re-claimed:
    *    GC only claims BELOW the surviving-manifest floor AND
    *    referenced by no surviving manifest — bucket INHERITANCE
    *    means a below-floor version's bucket dir can still be live,
    *    and deleting that claim would let a stalled writer re-claim
    *    the version and overwrite referenced files (the same rule
    *    GraphStore.vacuum applies).
    *  - '''commit records''' (`_sink_commits/b{id}`) exist to make an
    *    engine REPLAY a no-op, and the engine only ever replays the
    *    last write-ahead-logged batch on restart — records older than
    *    the newest `keepRecords` are dead weight.
    *
    * Returns (claims deleted, records deleted); run it from the same
    * maintenance cadence as cdcVacuum (never concurrently with the
    * sink's own query — single-writer, like every store writer). */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      keepRecords: Int = 2): (Int, Int) = {
    EventStreams.cdcVacuum(spark, dir, keepVersions)
    // claims + orphaned commit temps: the shared keep rule
    // (EventStreams.sweepClaims — one definition with GraphStore.vacuum)
    val claims = EventStreams.sweepClaims(spark, dir)
    locally { // crash-orphaned schema-evolution temp dirs (inert —
      // the footer resolver's name filter excludes them — but one
      // accumulates per crashed evolution; hour-gated like every
      // temp sweep so an in-flight writer's temp is never raced)
      val (fs, root) = EventStreams.hadoopFs(spark, dir)
      fs.listStatus(root).toSeq
        .filter(st => st.getPath.getName.matches("_empty_e\\d+__tmp-.*") &&
          st.getModificationTime <
            System.currentTimeMillis() - 3600 * 1000L)
        .foreach(st => fs.delete(st.getPath, true))
    }
    var records = 0
    val (rfs, rdir) = EventStreams.hadoopFs(spark, s"$dir/_sink_commits")
    if (rfs.exists(rdir)) {
      val ids = rfs.listStatus(rdir).toSeq.map(_.getPath.getName)
        .filter(_.startsWith("b")).map(_.stripPrefix("b").toLong).sorted
      ids.dropRight(math.max(1, keepRecords)).foreach { id =>
        if (rfs.delete(new org.apache.hadoop.fs.Path(s"$rdir/b$id"),
            false)) records += 1
      }
    }
    (claims, records)
  }
}

class GraftStoreSink(
    spark: SparkSession,
    parameters: Map[String, String],
    outputMode: OutputMode) extends Sink {

  require(!parameters.contains("table"),
    "graftstore sink: graph-layout stores (dir+table) are written by " +
      "GraphStore.applyRelease (release identity + per-table policy " +
      "matrix), not the sink; pass path=<raw store dir> to maintain a " +
      "cdcApply-layout store")
  private val dir: String = parameters.getOrElse("path",
    sys.error("graftstore sink: option 'path' (target store dir) is " +
      "required"))
  private val policy: String =
    parameters.getOrElse("policy", "upsert") match {
      case p @ ("upsert" | "createOnly" | "cdc") => p
      case other => sys.error(s"graftstore sink: unknown policy " +
        s"'$other' — pass upsert, createOnly, or cdc")
    }
  require(outputMode != OutputMode.Complete(),
    "graftstore sink: Complete mode re-emits the WHOLE result every " +
      "trigger — writing it would rewrite the entire store each batch, " +
      "forfeiting the versioned layout's O(dirty-bucket) contract; use " +
      "Append/Update (the batch is a delta under the declared policy)")

  private def commitRecord(id: Long) = s"$dir/_sink_commits/b$id"

  /** Creation-fixed store facts — (keys, persisted schema, store meta
    * with its bloom and zone-map declarations) — resolved ONCE per
    * query: the Sink instance lives for the query's lifetime and the
    * store is single-writer, so re-reading the meta file and `_empty`
    * schema every micro-batch would pay small-file round trips per
    * trigger for immutable data (pure added latency on a remote
    * store). */
  @volatile private var resolved
      : Option[(Seq[String], StructType, StoreMeta)] = None

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    // re-wrap the IncrementalExecution-planned frame as a plain batch
    // frame (the ForeachBatchSink technique) — everything below joins
    // it against standing state, which a streaming-flagged plan
    // cannot do
    val batch = org.apache.spark.sql.graft.StreamShim.batchFrame(
      spark, data.queryExecution.toRdd, data.schema)

    val hasChange = batch.schema.fieldNames.contains("change")
    if (policy == "cdc") require(hasChange &&
        batch.schema("change").dataType == StringType,
      "graftstore sink: policy=cdc needs the change feed's string " +
        "'change' column ('+'/'-') on every row")
    else require(!hasChange,
      s"graftstore sink: the batch carries a 'change' column but " +
        s"policy=$policy would upsert the tags as payload — pass " +
        "policy=cdc to apply them (or rename the column)")
    val dataSchema = StructType(batch.schema.fields
      .filterNot(f => policy == "cdc" && f.name == "change"))

    // ---- resolve or create the store (once per query) ----
    val (keys, storeSchema, meta) = resolved.getOrElse {
      val (mfs, mdir) = EventStreams.hadoopFs(spark, s"$dir/manifest")
      val exists = mfs.exists(mdir) && mfs.listStatus(mdir).nonEmpty
      val optKeys = parameters.get("keys").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
      // the persisted declaration (creation-time, this store's or an
      // earlier writer's) decides sidecar/stats maintenance — never
      // the per-query option
      val persisted =
        if (!exists) None
        else Some(StoreMeta.read(spark, dir).getOrElse(
          throw new java.io.FileNotFoundException(StoreMeta.path(dir))))
      val ks: Seq[String] = persisted match {
        case None =>
          require(optKeys.nonEmpty,
            "graftstore sink: creating a store needs option 'keys' " +
              "(comma-separated merge/bucket columns, declaration order)")
          optKeys
        case Some(StoreMeta(_, Some(pk), _, _)) =>
          require(optKeys.isEmpty || optKeys == pk,
            s"graftstore sink: $dir is keyed (${pk.mkString(",")}) per " +
              s"its persisted meta; keys option " +
              s"(${optKeys.mkString(",")}) would bucket and merge " +
              "wrong — pass the persisted keys in that order, or omit")
          pk
        case Some(_) =>
          require(optKeys.nonEmpty,
            s"graftstore sink: $dir predates key persistence (one-line " +
              "meta) — pass option 'keys' (the store's cdcApply " +
              "stateKeys, declaration order)")
          optKeys
      }
      ks.foreach(k => require(dataSchema.fieldNames.contains(k),
        s"graftstore sink: key '$k' is not a column of the stream " +
          s"(columns: ${dataSchema.fieldNames.mkString(",")})"))

      val m = persisted.getOrElse {
        val buckets = parameters.get("buckets").map(_.trim.toInt)
          .getOrElse(EventStreams.defaultNumBuckets)
        require(buckets > 0, "graftstore sink: buckets must be positive")
        batch.select(dataSchema.fieldNames.map(col).toIndexedSeq: _*)
          .limit(0).coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/_empty")
        // the two-line (GraphStore-form) meta: count + keys — every
        // later reader/writer cross-checks keys instead of trusting
        // its caller, the validation hole the raw one-line layout
        // has. keyBlooms adds the bloom declaration (every batch's
        // bucket writes publish `_bloom` key sidecars); zoneMaps the
        // zone-map one (every batch's manifest carries per-bucket
        // min/max stats and the SQL surface range-prunes the store)
        def opt(k: String) = parameters.get(k).exists(_.trim.toBoolean)
        val created = StoreMeta(buckets, Some(ks),
          if (!opt("keyBlooms")) None
          else Some(parameters.get("bloomBits").map(_.trim.toInt)
            .getOrElse(1 << 17)),
          opt("zoneMaps"))
        StoreMeta.write(spark, dir, created)
        // v0 = the empty state; the first batch commits v1. Manifest
        // LAST: its existence certifies _empty + meta are complete.
        EventStreams.writeManifestFull(spark, s"$dir/manifest/v0",
          (0 until buckets).map(_ -> EventStreams.BucketFiles(-1, None))
            .toMap)
        created
      }
      val r = (ks, EventStreams.storeSchema(spark, dir), m)
      resolved = Some(r)
      r
    }
    // ---- schema check, with opt-in ADDITIVE evolution ----
    // Every persisted column must arrive with a matching shape (a
    // missing or retyped column is still the loud rebuild remedy —
    // dropping/retyping cannot be served by the standing files). A
    // batch carrying EXTRA columns evolves the store when
    // `mergeSchema` is set: the evolved footer publishes atomically
    // (EventStreams.evolveStoreSchema) and every read thereafter
    // serves the appended columns — NULL from pre-evolution bucket
    // files — so a standing pipeline gains a column with no rebuild.
    // Append-only keeps keys, bucket hashing, bloom sidecars, and
    // zone-map ordinals all stable.
    locally {
      val common = dataSchema.fields
        .filter(f => storeSchema.fieldNames.contains(f.name))
      val missingOrRetyped =
        EventStreams.shapeMap(storeSchema) !=
          EventStreams.shapeMap(StructType(common))
      require(!missingOrRetyped,
        s"graftstore sink: the stream's schema " +
          s"(${dataSchema.simpleString}) drops or retypes columns of " +
          s"$dir's persisted schema (${storeSchema.simpleString}) — " +
          "only ADDITIVE evolution is servable from standing files; " +
          "rebuild the store for any other change")
    }
    val extras = dataSchema.fields
      .filterNot(f => storeSchema.fieldNames.contains(f.name))
    val effSchema: StructType =
      if (extras.isEmpty) storeSchema
      else {
        require(parameters.get("mergeSchema").exists(_.trim.toBoolean),
          s"graftstore sink: the stream carries new column(s) " +
            s"${extras.map(_.name).mkString(",")} beyond $dir's " +
            s"persisted schema (${storeSchema.simpleString}); pass " +
            "option mergeSchema=true to EVOLVE the store additively " +
            "(appended columns read as NULL from pre-evolution rows), " +
            "or drop the columns")
        val evolved = StructType(storeSchema.fields ++ extras.map(f =>
          org.apache.spark.sql.types.StructField(
            f.name, f.dataType, nullable = true)))
        EventStreams.evolveStoreSchema(spark, dir, evolved)
        // later batches of THIS query must see the evolved schema, or
        // each would re-detect extras and publish a duplicate footer
        resolved = Some((keys, evolved, meta))
        evolved
      }

    // ---- exactly-once: a committed batch replays as a no-op ----
    // The record is scoped by the query's checkpoint (its body), like
    // the claim below: a NEW query (fresh checkpoint) writing to an
    // existing store restarts its batch ids at 0, and an unscoped
    // exists-check would mistake the old query's records for its own
    // commits and silently DROP its first batches — id collision must
    // only ever no-op a replay of the same query's batch.
    val recordBody = "sink " +
      parameters.getOrElse("checkpointLocation", "-") + "\n"
    locally {
      val (fs, p) = EventStreams.hadoopFs(spark, commitRecord(batchId))
      if (fs.exists(p) &&
          EventStreams.readSmallFile(spark, commitRecord(batchId)) ==
            recordBody)
        return
    }

    // ---- claim the next version (single-writer, crash-reentrant) ----
    val v = EventStreams.manifestVersions(spark, dir).max
    // the claim body identifies THIS query's attempt at THIS batch:
    // scoped by the checkpoint location (stable across restarts of
    // the same query, distinct across queries), so a second sink
    // query that happens to be at the same batch id can never be
    // mistaken for our own crashed attempt — it stays a loud
    // single-writer exclusion like any foreign claim
    val claimBody = s"sink b$batchId " +
      parameters.getOrElse("checkpointLocation", "-") + "\n"
    // our own crashed attempt at THIS batch may hold the claim — the
    // engine serializes a checkpoint's batches, so a claim recording
    // this batch id can only be ours: resume through it (the rewrite
    // below overwrites our own partial bucket files)
    BucketStore.claim(spark, dir, v + 1, claimBody) {
      claim =>
        s"graftstore sink: version ${v + 1} of $dir is already " +
          "claimed by another writer — the store is single-writer " +
          "(one sink query, or one batch applier, at a time); if no " +
          s"writer is alive, delete $claim and retry"
    }

    val delta = batch.localCheckpoint()
    // every state-facing frame binds the PERSISTED schema's column
    // order — except() and the parquet write align by position, and a
    // later query's select order must not be able to skew them
    def storeOrder(df: DataFrame) =
      df.select(effSchema.fieldNames.map(col).toIndexedSeq: _*)
    val (_, next) = BucketStore.rewriteDirty(spark, dir,
        EventStreams.readManifestFull(spark, s"$dir/manifest/v$v"), v + 1,
        delta, keys, meta, effSchema) { (state, d) =>
      policy match {
        case "upsert" =>
          val rows = storeOrder(d).dropDuplicates(keys)
          rows.unionByName(
            state.join(rows.select(keys.map(col): _*), keys, "left_anti"))
        case "createOnly" =>
          state.unionByName(
            storeOrder(d).dropDuplicates(keys).join(
              state.select(keys.map(col): _*), keys, "left_anti"))
        case "cdc" =>
          // row-SET semantics, the change feed's own: '-' rows leave,
          // '+' rows enter; except/distinct make the fold idempotent
          // (a crash-window re-apply of the same diff is a no-op),
          // matching cdcDiff's set-based emission
          state.except(storeOrder(d.where(col("change") === "-")))
            .unionByName(storeOrder(d.where(col("change") === "+")))
            .distinct()
      }
    }
    // manifest commits exclusively like every store writer; a loss
    // here (claim raced a writer that somehow bypassed claims) stays
    // loud rather than silently splicing history
    EventStreams.writeManifestExclusiveFull(
      spark, s"$dir/manifest/v${v + 1}", next)
    // record LAST — its existence (under THIS query's scope)
    // certifies the manifest committed; overwriting a predecessor
    // query's same-id record is correct (serial handoff — concurrent
    // queries are excluded by the claim above)
    EventStreams.writeSmallFile(spark, commitRecord(batchId), recordBody)
  }
}
