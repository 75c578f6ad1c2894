package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, Expression, In, InSet, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.SQLContext

import graft.streaming.{BucketStore, EventStreams}

/** The versioned bucket store as a first-class Spark DATA SOURCE —
  * `spark.read.format("graftstore")` and
  * `CREATE TEMPORARY VIEW g USING graftstore OPTIONS (...)`, so plain
  * DataFrame/SQL users (BI tools, notebooks, downstream pipelines that
  * know nothing of [[graft.graph.GraphStore]]'s API) read the SAME
  * marker-pinned, manifest-resolved state the probe API serves. The
  * reference exposes its loaded graph to ad-hoc consumers through a
  * query endpoint (gfe-db docs/source/reference.rst:34-37 — Cypher over
  * the standing Neo4j graph); this source is that serving surface
  * re-expressed Spark-first: the store's transaction log (manifest →
  * immutable bucket files) becomes a [[FileIndex]], exactly the
  * integration style of log-structured Spark table formats.
  *
  * Scale behavior — all three of the store's read guarantees survive
  * the translation into plain SQL, because they live in PLANNING, not
  * in the consumer's code:
  *
  *  - '''manifest resolution''': the scan reads exactly the live
  *    bucket files of one committed version — never `_temporary`
  *    half-writes, never superseded versions — so a query racing an
  *    applier sees a consistent snapshot;
  *  - '''bucket pruning''': an equality/IN predicate on the table's
  *    full bucket key (its traversal anchor) prunes the file listing
  *    to the buckets those literals hash to, at PLANNING time inside
  *    [[FileIndex.listFiles]] — `WHERE name IN (...)` on a 100 TB
  *    vertex table opens a handful of files, the declarative twin of
  *    [[graft.graph.GraphStore.probe]]. Non-anchor predicates still
  *    push down to parquet (row-group skip), they just can't skip
  *    whole buckets;
  *  - '''time travel''': `OPTION (marker k)` pins the scan to a
  *    retained release marker — [[graft.graph.GraphStore.readAt]] for
  *    SQL consumers, same I/O cost as the newest state.
  *
  * Two layouts, one source:
  *  - `dir` + `table` (+ optional `marker`): a [[graft.graph.GraphStore]]
  *    table — bucket keys come from the persisted table meta, the
  *    manifest from the release marker.
  *  - `path` (+ optional `version`, `keys`): any raw
  *    [[EventStreams.cdcApply]] store (streaming-maintained LSH bands,
  *    ANN postings, SRP buckets…) — the manifest is the store's newest
  *    (or `version`-pinned) commit; `keys` (comma-separated, in the
  *    store's cdcApply `stateKeys` DECLARATION ORDER — the bucket hash
  *    is order-sensitive) opts into bucket pruning and MUST be that
  *    bucket key: the raw layout does not persist it, so beyond column
  *    existence it cannot be validated here — wrong keys silently
  *    prune wrong (the GraphStore layout exists precisely to close
  *    that hole; prefer it when serving ad-hoc readers).
  *
  * BATCH-read-only by design: a bare INSERT has no batch identity and
  * no merge policy, so the batch relation refuses to be a write path
  * rather than offer one that corrupts the version history. The
  * STREAMING sink ([[GraftStoreSink]], `df.writeStream
  * .format("graftstore")`) is the sanctioned declarative write path —
  * it has both (the engine's micro-batch id and a declared `policy`),
  * and commits through the same claim-arbitrated manifest protocol.
  */
class GraftStoreSource extends RelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graftstore"

  // ---- streaming: the change feed (see GraftStoreChangeSource) ----

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(GraftStoreChangeSource
      .changeSchema(sqlContext.sparkSession, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftStoreChangeSource(sqlContext.sparkSession, parameters,
      schema.getOrElse(GraftStoreChangeSource
        .changeSchema(sqlContext.sparkSession, parameters)))

  // ---- streaming sink: the store as a write path (GraftStoreSink) ----

  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graftstore sink: partitionBy is not supported — the store's " +
        "layout is its bucket hash (option 'keys'), not a directory " +
        "partitioning")
    new GraftStoreSink(sqlContext.sparkSession, parameters, outputMode)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val relation =
      GraftStoreSource.resolveLayout(parameters) match {
        // resolved EXACTLY like the native reads: one marker pin, the
        // same meta and the same loud failures on vacuumed markers and
        // legacy meta
        case GraftStoreSource.GraphLayout(dir, t) =>
          graft.graph.GraphStore.pin(spark, dir,
            parameters.get("marker").map(_.trim.toInt))(t)
            .relation(parameters)
        case GraftStoreSource.RawLayout(sd) =>
          val (m, schema) = GraftStoreSource.rawManifest(spark, sd,
            parameters.get("version").map(_.trim.toInt))
          val keys = parameters.get("keys").toSeq
            .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
          // fail at relation construction, not from inside planning:
          // a key outside the schema can never have been the store's
          // bucket key, so pruning by it would be wrong twice over
          keys.foreach(k => require(
            schema.fieldNames.exists(_.equalsIgnoreCase(k)),
            s"graftstore: keys option names '$k', which is not a column " +
              s"of $sd (columns: ${schema.fieldNames.mkString(",")}); " +
              "pass the store's cdcApply bucket key(s) or omit keys to " +
              "read without pruning"))
          // when the target dir carries a store meta with a bucket-key
          // line (GraphStore tables, sink-created stores), the TRUE
          // bucket key is knowable — cross-check it (including
          // declaration ORDER: the hash is order-sensitive) and fail
          // loudly like GraphStore.requireBucketKeys' 'would miss rows',
          // instead of silently pruning to wrong buckets and dropping
          // rows. Bare cdcApply stores persist only the count (one
          // line) — existence-check above is all that's possible there.
          val meta =
            if (keys.isEmpty) None
            else graft.streaming.BucketStore.StoreMeta.read(spark, sd)
          meta.flatMap(_.keys).foreach { pk =>
            require(keys == pk,
              s"graftstore: $sd is bucketed by (${pk.mkString(",")}) " +
                s"per its persisted table meta; keys option " +
                s"(${keys.mkString(",")}) would prune the wrong " +
                "buckets and silently miss rows — pass the persisted " +
                "key(s) in that exact order, or omit keys")
          }
          // raw layout: the bloom declaration (when the store was
          // created with one — GraphStore tables read raw, or
          // sink-created stores with the keyBlooms option) gates the
          // literal pruning on the same sidecars; the native reads'
          // relation, with the bucket keys that arm the index's
          // literal pruning
          BucketStore.relation(spark, sd, m, schema, keys,
            meta.flatMap(_.bloomBits), parameters)
      }
    // every graftstore read arms the runtime bucket-pruning rule on
    // its session (idempotent): a BI tool's plain `spark.read.format`
    // gets join-driven pruning without ever importing a graft API
    GraftStoreSource.armRuntimePruning(spark)
    relation
  }
}

object GraftStoreSource {
  /** Append [[graft.plans.StoreBucketPruning]] to the session's
    * user-provided optimizer batch, once per session — the rule turns
    * a join/subquery anchor predicate over a graftstore relation into
    * a DynamicPruningSubquery on its `_graft_bucket` partition column
    * (runtime bucket pruning; see the rule's doc for semantics and
    * the size gate). `experimental.extraOptimizations` is public
    * Spark API and the batch runs after every built-in rule, so this
    * composes with stock optimization instead of patching it. */
  private[graft] def armRuntimePruning(spark: SparkSession): Unit =
    synchronized {
      if (!spark.experimental.extraOptimizations
          .contains(graft.plans.StoreBucketPruning))
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+
            graft.plans.StoreBucketPruning
    }

  /** The source's two layouts — resolved in ONE place so the batch
    * relation, the stream schema, and the stream source can never
    * parse the dir/table/path options differently. */
  private[sources] sealed trait Layout
  private[sources] final case class GraphLayout(dir: String,
      table: String) extends Layout
  private[sources] final case class RawLayout(path: String) extends Layout

  private[sources] def resolveLayout(
      parameters: Map[String, String]): Layout =
    parameters.get("table") match {
      case Some(t) => GraphLayout(
        parameters.getOrElse("dir", parameters.getOrElse("path",
          sys.error("graftstore: option 'dir' (store root) is required " +
            "with 'table'"))), t)
      case None => RawLayout(parameters.getOrElse("path",
        sys.error("graftstore: pass either dir+table (GraphStore " +
          "layout) or path (raw cdcApply store)")))
    }

  /** Raw-layout manifest + schema resolution with the loud failures
    * the rest of the store uses: a non-store path or a vacuumed /
    * never-committed version names the problem and the remedy instead
    * of surfacing `empty.max` or a bare FileNotFoundException. */
  private[sources] def rawManifest(spark: SparkSession, sd: String,
      version: Option[Int])
      : (Map[Int, EventStreams.BucketFiles], StructType) = {
    val vsAll =
      try EventStreams.manifestVersions(spark, sd)
      catch {
        case e: java.io.IOException => throw new IllegalArgumentException(
          s"graftstore: $sd has no manifest/ directory — not a " +
            "cdcApply/GraphStore bucket store (check the path)", e)
      }
    require(vsAll.nonEmpty,
      s"graftstore: $sd/manifest holds no committed version — the " +
        "store's init never committed; rebuild it (cdcApply/init)")
    val v = version.getOrElse(vsAll.max)
    require(vsAll.contains(v),
      s"graftstore: $sd has no manifest v$v (versions on disk: " +
        s"${vsAll.mkString(",")}) — vacuumed or never committed; omit " +
        "'version' to read the newest")
    (EventStreams.readManifestFull(spark, s"$sd/manifest/v$v"),
      // the CURRENT schema (newest evolution footer, else `_empty`):
      // a version-pinned or historical read still serves the evolved
      // column set — pre-evolution bucket files yield NULL for
      // appended columns, the append-only contract
      EventStreams.storeSchema(spark, sd))
  }
}

/** [[FileIndex]] over one manifest-pinned version of a bucket store.
  *
  * The listing is resolved ONCE at construction: a manifest references
  * only immutable bucket files (versions never rewrite in place), so
  * the index cannot go stale — a concurrent apply commits a NEW
  * manifest that this pinned scan deliberately does not see (snapshot
  * isolation, the same contract as [[graft.graph.GraphStore.read]]).
  *
  * `listFiles` is where the store's index-probe read meets Catalyst:
  * the planner hands every scan predicate down as `dataFilters`, and a
  * conjunction that pins EVERY bucket key to literals (`=`, `IN`,
  * `<=>`) is resolved to buckets by the resolver probes use
  * ([[BucketStore.bucketsFor]]: the writers' murmur3(keys) mod width,
  * hashed on the driver, the width taken from THIS manifest so the
  * read stays correct across a rebucket) — only the hit buckets' files
  * survive planning. Anything
  * else — a miss on one key, a non-literal comparison, a cross-product
  * of IN-lists past [[GraftStoreFileIndex.MaxKeyCombos]] — falls back
  * to the full live listing, never to a wrong answer.
  *
  * NON-LITERAL anchor predicates (a join against a dim frame, an IN
  * subquery) are the [[partitionSchema]] + [[graft.plans
  * .StoreBucketPruning]] path instead: the rule derives a runtime
  * DynamicPruningSubquery on the `_graft_bucket` partition column and
  * the scan node itself drops non-hit buckets at execution — so both
  * probe shapes prune, each at the earliest point its anchor values
  * exist.
  */
class GraftStoreFileIndex(
    spark: SparkSession,
    tdir: String,
    manifest: Map[Int, EventStreams.BucketFiles],
    bucketKeys: Seq[String],
    schema: StructType,
    bloomBits: Option[Int] = None) extends FileIndex {

  // manifest width, not meta width: a manifest always carries every
  // bucket id of its layout (see BucketStore.bucketsFor)
  private val width = manifest.size

  /** How many buckets this index had to LIST at construction — 0 on a
    * stats-carrying store (every commit since the format extension
    * records per-file sizes in the manifest); >0 only for legacy
    * manifest entries. Exposed for the zero-listing spec. */
  private[graft] var listedBucketCount: Int = 0

  /** bucket id → live data files. STATS-SERVED: a manifest entry that
    * carries per-file (name, bytes) — recorded once on the write path
    * — synthesizes its FileStatus list with ZERO filesystem calls, so
    * relation construction (which must answer [[sizeInBytes]] for CBO
    * on every query) pays no listing round-trips however many
    * thousands of buckets the store holds. Legacy (pre-stats) entries
    * fall back to listing their immutable version dir, bounded-
    * parallel; a mixed manifest (stats-carrying apply on top of a
    * legacy base) lists only its legacy-entry buckets. */
  private val filesByBucket: Map[Int, Seq[FileStatus]] = {
    val live = manifest.toSeq.collect {
      case (k, bf) if bf.version >= 0 => (k, bf) }
    val (carried, legacy) = live.partition(_._2.files.isDefined)
    val fromStats = carried.map { case (k, bf) =>
      val bdir = EventStreams.bucketPath(tdir, bf.version, k)
      k -> bf.files.get.map { case (name, bytes) =>
        // modTime 0 / synthetic block size: the scan consumes only
        // path + length (split planning is maxPartitionBytes-driven)
        new FileStatus(bytes, false, 1, 134217728L, 0L,
          new Path(s"$bdir/$name"))
      }
    }
    listedBucketCount = legacy.size
    val listed =
      if (legacy.isEmpty) Seq.empty
      else {
        val (fs, _) = EventStreams.hadoopFs(spark, tdir)
        EventStreams.parEach(legacy) { case (k, bf) =>
          k -> fs.listStatus(
              new Path(EventStreams.bucketPath(tdir, bf.version, k)))
            .toSeq.filter { st =>
              val n = st.getPath.getName
              st.isFile && !n.startsWith("_") && !n.startsWith(".")
            }
        }
      }
    (fromStats ++ listed).toMap
  }

  private def allFiles: Seq[FileStatus] =
    filesByBucket.toSeq.sortBy(_._1).flatMap(_._2)

  override def rootPaths: Seq[Path] = Seq(new Path(tdir))

  /** The bucket id surfaces as a PARTITION column — that is what lets
    * RUNTIME filters prune the scan: a join-shaped or subquery anchor
    * predicate becomes a [[org.apache.spark.sql.catalyst.expressions
    * .DynamicPruningSubquery]] on `_graft_bucket` (inserted by
    * [[graft.plans.StoreBucketPruning]]), which FileSourceScanExec
    * evaluates against these partition values at EXECUTION time — the
    * engine's own dynamic-partition-pruning machinery, fed by the
    * store's key→bucket derivation. [[graft.graph.GraphStore.sqlTable]]
    * / createViews drop the column to keep the public schema contract;
    * raw `format("graftstore")` loads expose it (harmless, sometimes
    * useful — `GROUP BY _graft_bucket` is a free skew census). */
  override def partitionSchema: StructType =
    GraftStoreFileIndex.bucketPartitionSchema

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def inputFiles: Array[String] =
    allFiles.map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  /** Manifest-carried zone maps (per-bucket min/max column stats) —
    * present only for commits written by a zones-declared store;
    * decoded once per relation. */
  private val zoneStats
      : Map[Int, graft.streaming.ZoneMaps.BucketStats] =
    manifest.collect { case (k, bf) if bf.stats.isDefined =>
      k -> bf.stats.get }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // literal anchor-key pruning (planning-time, driver-hashed)
    val byAnchor = prunedBuckets(dataFilters)
    // ZONE pruning (independent of the anchor hash — any supported
    // column, range shapes included): a bucket whose manifest-carried
    // min/max provably cannot satisfy a pushed conjunct is dropped at
    // planning with zero filesystem I/O; buckets without stats are
    // kept (legacy entries / undeclared stores), so pruning can skip
    // work, never change an answer (graft.streaming.ZoneMaps)
    val zoneCs =
      if (zoneStats.isEmpty) Nil
      else graft.streaming.ZoneMaps.harvest(dataFilters, schema, resolver)
    def zoneKeep(k: Int): Boolean =
      zoneCs.isEmpty || zoneStats.get(k).forall(bs =>
        graft.streaming.ZoneMaps.keep(bs, zoneCs, schema))
    val dirs = filesByBucket.toSeq.sortBy(_._1).collect {
      case (k, fs) if byAnchor.forall(_(k)) && zoneKeep(k) => (k, fs) }
    // static predicates on the partition column itself (runtime
    // DynamicPruning ones are evaluated by the scan node, not here —
    // exclude anything carrying a plan expression)
    val static = partitionFilters.filterNot(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions
        .PlanExpression[_]]))
    val kept =
      if (static.isEmpty) dirs
      else {
        val bound = org.apache.spark.sql.catalyst.expressions.Predicate
          .create(static.reduce(org.apache.spark.sql.catalyst
            .expressions.And).transform {
              case _: Attribute =>
                org.apache.spark.sql.catalyst.expressions
                  .BoundReference(0,
                    org.apache.spark.sql.types.IntegerType,
                    nullable = false)
            }, Nil)
        dirs.filter { case (k, _) => bound.eval(InternalRow(k)) }
      }
    kept.map { case (k, fs) =>
      PartitionDirectory(InternalRow(k), fs.toArray) }
  }

  /** Manifest-derived layout facts [[graft.plans.StoreBucketPruning]]
    * builds its runtime bucket-hash expression from. */
  private[graft] def bucketWidth: Int = width
  private[graft] def anchorKeys: Seq[String] = bucketKeys

  // name matching honors the session's case-sensitivity setting (the
  // RESOLVER): under caseSensitive=true a predicate on a column that
  // differs from the bucket key only in case must NOT be harvested as
  // constraining it (it is a different column — pruning by it would
  // silently drop rows); under the case-insensitive default the
  // resolver's ignore-case match is exactly what analysis itself used
  // (a schema with case-colliding twins is unreferencable there).
  private val resolver: (String, String) => Boolean =
    spark.sessionState.conf.resolver

  /** The bucket ids `filters` pin, or None when the conjunction does
    * not constrain every bucket key to a literal set (fall back to the
    * full listing — pruning must never be able to change an answer). */
  private def prunedBuckets(filters: Seq[Expression]): Option[Set[Int]] = {
    if (bucketKeys.isEmpty || width == 0) return None
    val sets = equalitySets(filters)
    val perKey = bucketKeys.map { k =>
      val matching = sets.collect { case (n, s) if resolver(n, k) => s }
      if (matching.isEmpty) None
      // several conjuncts constrain one key → intersect
      // (`name = 'a' AND name IN ('a','b')` → {'a'})
      else Some(matching.reduce(_ intersect _))
    }
    if (perKey.exists(_.isEmpty)) return None
    val perKeySets = perKey.map(_.get)
    // cap the cross product BEFORE expanding it — two 5k-element
    // IN-lists on a 2-key anchor would otherwise materialize 25M
    // driver-side tuples just to discover they exceed the cap
    // (an empty set means the conjunction is unsatisfiable; stay
    // conservative and let the engine's own filter return 0 rows)
    val est = perKeySets.map(_.size.toLong).foldLeft(1L)(_ * _)
    if (est == 0 || est > GraftStoreFileIndex.MaxKeyCombos) return None
    // cross product of the per-key literal sets, in bucket-key order
    val combos = perKeySets.map(_.toSeq)
      .foldLeft(Seq(Seq.empty[Any])) { (acc, vs) =>
        for (a <- acc; v <- vs) yield a :+ v
      }
    // the values came out of analyzed literals, so they are already in
    // Catalyst internal form — the resolver's driver-hashed form. On a
    // keyBlooms store the literal pruning is BLOOM-GATED like probe's
    // (one resolver, so the two read paths cannot skip differently):
    // `WHERE name IN (10k new keys)` opens zero files for the absent
    // ones; the engine's own filter keeps the answer exact.
    val types = bucketKeys.map(k => schema(
      schema.fieldNames.find(resolver(_, k)).getOrElse(k)).dataType)
    Some(BucketStore.bucketsFor(spark, tdir, manifest, bucketKeys,
      Left((types, combos)), bloomBits))
  }

  /** Per-column literal equality sets from the scan's conjunctive
    * predicates, keyed by the attribute's EXACT name (the caller
    * matches against bucket keys with the session resolver, and
    * intersects repeated constraints). Only shapes whose literal set
    * is EXACTLY the satisfying set are harvested — a Cast-wrapped
    * column, a null literal, a non-literal IN element all leave the
    * column unconstrained (conservative, never wrong). */
  private def equalitySets(filters: Seq[Expression]): Seq[(String, Set[Any])] = {
    def one(e: Expression): Option[(String, Set[Any])] = e match {
      case EqualTo(a: Attribute, Literal(v, _)) if v != null =>
        Some(a.name -> Set(v))
      case EqualTo(Literal(v, _), a: Attribute) if v != null =>
        Some(a.name -> Set(v))
      case EqualNullSafe(a: Attribute, Literal(v, _)) if v != null =>
        Some(a.name -> Set(v))
      case EqualNullSafe(Literal(v, _), a: Attribute) if v != null =>
        Some(a.name -> Set(v))
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        Some(a.name ->
          list.collect { case Literal(v, _) if v != null => v }.toSet)
      case InSet(a: Attribute, hset) =>
        Some(a.name -> hset.filter(_ != null))
      case _ => None
    }
    filters.flatMap(one)
  }
}

object GraftStoreFileIndex {
  /** The synthesized partition column every graftstore relation
    * carries: the manifest bucket id a row's file lives under. */
  val BucketCol = "_graft_bucket"

  private[graft] val bucketPartitionSchema: StructType =
    StructType(Seq(org.apache.spark.sql.types.StructField(
      BucketCol, org.apache.spark.sql.types.IntegerType,
      nullable = false)))

  /** Cap on the per-key-literal cross product a planning-time prune
    * will hash; past it the scan just reads all live buckets (a
    * 10k-element IN-list is a join-shaped read — `probeJoin` territory
    * — not a point probe, and hashing every combo on the driver would
    * trade scan I/O for planner latency). */
  val MaxKeyCombos = 4096
}
