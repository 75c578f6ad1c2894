package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, XxHash64}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.GraftStoreFileIndex
import EventStreams.{BucketFiles, readSmallFile, writeSmallFile}

/** The key-bucketed, manifest-versioned store layout — ONE definition
  * of what every store writer ([[graft.graph.GraphStore]],
  * [[EventStreams.cdcApply]], the `graftstore` sink, the dedup
  * cluster state) puts on disk per commit:
  *
  *  - [[StoreMeta]]: the `_graft_store_meta` file (bucket count, and
  *    the optional bucket-key, bloom and zone-map declarations);
  *  - [[writeVersion]]: a version's bucket files under `v{n}`, then
  *    the bloom sidecars and zone stats the meta declares, returned as
  *    the version's manifest entries;
  *  - [[rewriteDirty]]: one MERGE step — the buckets a delta's keys
  *    hash to (the caller's dirty set) are read at the base manifest,
  *    merged, rewritten as a new version, and every other bucket is
  *    inherited by reference;
  *  - [[stateAt]] and [[relation]]: the one reader — a pinned manifest
  *    as a relation over its recorded files, for native reads and the
  *    `graftstore` source alike;
  *  - [[bucketsFor]]: the one key → bucket resolver of probes, path
  *    reads, SQL literal pruning and merges.
  *
  * What stays with each writer is what genuinely differs: how it
  * names and claims a version, and how it commits the manifest. */
object BucketStore {

  /** A store's persisted layout declaration. On disk, one value per
    * line: the bucket count; the comma-joined bucket keys in hash
    * order (absent in the one-line form [[EventStreams.cdcApply]] and
    * the dedup state write, whose keys are the caller's); then
    * optional `bloom=<bits>` (every bucket write publishes `_bloom`
    * key sidecars) and `zones=*` (every manifest entry carries
    * zone-map stats) lines. */
  final case class StoreMeta(buckets: Int, keys: Option[Seq[String]] = None,
      bloomBits: Option[Int] = None, zones: Boolean = false) {
    // the declaration lines sit after the key line; without one they
    // would parse back as keys
    require(keys.nonEmpty || (bloomBits.isEmpty && !zones),
      "a store meta declaring blooms or zone maps must carry its keys")

    def body: String =
      s"$buckets\n" + keys.fold("")(k => s"${k.mkString(",")}\n") +
        bloomBits.fold("")(b => s"bloom=$b\n") +
        (if (zones) "zones=*\n" else "")
  }

  object StoreMeta {
    def path(dir: String): String = s"$dir/_graft_store_meta"

    def parse(body: String): StoreMeta = {
      val lines = body.linesIterator.filter(_.nonEmpty).toSeq
      val decl = lines.drop(2)
      StoreMeta(lines.head.trim.toInt,
        lines.lift(1).map(_.split(',').map(_.trim).toSeq),
        decl.find(_.startsWith("bloom="))
          .map(_.stripPrefix("bloom=").trim.toInt),
        decl.exists(_.startsWith("zones=")))
    }

    /** The meta of the store at `dir`; None when it has none (a
      * meta-less dir, or a store that predates the file). One
      * filesystem round-trip either way. */
    def read(spark: SparkSession, dir: String): Option[StoreMeta] =
      try Some(parse(readSmallFile(spark, path(dir))))
      catch { case _: java.io.FileNotFoundException => None }

    def write(spark: SparkSession, dir: String, meta: StoreMeta): Unit =
      writeSmallFile(spark, path(dir), meta.body)
  }

  /** Claim version `v` of the store at `dir` create-exclusively,
    * BEFORE its bucket directory is touched: the loser of a writer
    * race fails here, before its bucket write could overwrite the
    * winner's files. A claim is permanent (GC'd by vacuum below the
    * kept window), so a crashed writer's anonymous claim (empty
    * `body`) blocks every retry; a writer that names its attempt in
    * `body` (the sink: batch id and checkpoint) resumes through a
    * claim holding exactly that name. `refusal` words the loud
    * failure from the claim's path. */
  private[graft] def claim(spark: SparkSession, dir: String, v: Int,
      body: String = "")(refusal: String => String): Unit = {
    val path = s"$dir/manifest/.claim_v$v"
    try EventStreams.writeSmallFileExclusive(spark, path, body)
    catch {
      case e: java.util.ConcurrentModificationException =>
        val own = body.nonEmpty &&
          (try readSmallFile(spark, path) == body
           catch { case _: java.io.IOException => false })
        if (!own)
          throw new java.util.ConcurrentModificationException(
            refusal(path), e)
    }
  }

  /** Write `rows` as version `version` of the store at `dir`: hashed
    * by `keys` into `width` buckets under `v{version}`, then the bloom
    * sidecars and zone stats `meta` declares — both read the buckets
    * just written and are independent, so they run as concurrent job
    * streams; the sidecars are awaited, so a returned version always
    * has them on disk. Returns the manifest entry of every bucket id
    * in `0 until width` (version −1 where the write left no rows).
    * `schema` is the bucket files' own, which spares both passes a
    * footer inference. */
  private[graft] def writeVersion(spark: SparkSession, dir: String,
      version: Int, rows: DataFrame, keys: Seq[String], width: Int,
      meta: StoreMeta, schema: StructType): Map[Int, BucketFiles] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val vdir = s"$dir/v$version"
    val written = EventStreams.writeBuckets(rows, keys, width, vdir)
    val blooms = meta.bloomBits.filter(_ => written.nonEmpty) match {
      case None => Future.successful(())
      case Some(bits) => Future(
        EventStreams.writeBucketBlooms(spark, vdir, keys, bits, Some(schema)))
    }
    val zs =
      if (!meta.zones || written.isEmpty) Map.empty[Int, ZoneMaps.BucketStats]
      else ZoneMaps.collect(spark, vdir, schema)
    Await.result(blooms, Duration.Inf)
    (0 until width).map(k => k -> written.get(k).fold(BucketFiles(-1, None))(
      fs => BucketFiles(version, Some(fs), zs.get(k)))).toMap
  }

  /** True when `df` is a local (or materialized reliable) checkpoint —
    * its plan is a LogicalRDD over an RDD that is checkpointed, or
    * persisted as a local checkpoint is. A plain LogicalRDD (a
    * foreachBatch or sink batch) re-runs its pipeline per action and
    * does not count. */
  private[graft] def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.isCheckpointed ||
          l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  /** One MERGE step of a store: read the `dirty` buckets at the base
    * version, `merge(state, delta)` them (key-local), and
    * [[writeVersion]] the result as `version`. Every other bucket
    * inherits its base entry (version, file and zone stats) by
    * reference, so the I/O is O(dirty buckets), never O(state).
    * Returns the next manifest for the caller to commit.
    *
    * `dirty` is the caller's: every bucket `delta`'s `keys` hash to at
    * the BASE manifest's width (the delta must land in the buckets
    * the base's rows were hashed into, whatever the meta says now — a
    * merge stays consistent right after a crashed rebucket), as
    * [[bucketsFor]] finds it without bloom gating. A superset only
    * rewrites unchanged rows; a merged row outside the set fails
    * loudly before the caller can commit. The delta is read by the
    * merge-and-write alone, so a delta used once needs no checkpoint;
    * one several stores share (the dual-anchor twins) is checkpointed
    * once by its caller. */
  private[graft] def rewriteDirty(spark: SparkSession, dir: String,
      base: Map[Int, BucketFiles], version: Int, delta: DataFrame,
      dirty: Set[Int], keys: Seq[String], meta: StoreMeta,
      schema: StructType)(merge: (DataFrame, DataFrame) => DataFrame)
      : Map[Int, BucketFiles] =
    if (dirty.isEmpty) base
    else {
      val state = stateAt(spark, dir,
        base.filter { case (k, _) => dirty(k) }, Some(schema))
      val written = writeVersion(spark, dir, version, merge(state, delta),
        keys, base.size, meta, schema)
      val stray = written.collect {
        case (k, bf) if bf.version >= 0 && !dirty(k) => k }
      require(stray.isEmpty, s"$dir: merged rows landed in buckets " +
        s"${stray.toSeq.sorted.mkString(",")} outside the dirty set " +
        s"${dirty.toSeq.sorted.mkString(",")} — the caller's dirty set " +
        "missed some of the delta's keys")
      base ++ dirty.map(k => k -> written(k))
    }

  // ---- the read side: one relation, one key → bucket resolver ----

  /** The one relation every store read plans over: a
    * [[HadoopFsRelation]] whose [[GraftStoreFileIndex]] serves
    * `manifest`'s live buckets under `dir` from the files the manifest
    * records (no bucket directory is listed; a legacy entry without
    * file stats lists its own bucket). The bucket id is the
    * `_graft_bucket` partition column. `bucketKeys` and `bloomBits`
    * arm the index's literal pruning, which the `graftstore` source
    * wants; native reads ([[stateAt]]) pass neither. */
  private[graft] def relation(spark: SparkSession, dir: String,
      manifest: Map[Int, BucketFiles], schema: StructType,
      bucketKeys: Seq[String] = Nil, bloomBits: Option[Int] = None,
      options: Map[String, String] = Map.empty): HadoopFsRelation =
    HadoopFsRelation(
      location = new GraftStoreFileIndex(spark, dir, manifest, bucketKeys,
        schema, bloomBits),
      partitionSchema = GraftStoreFileIndex.bucketPartitionSchema,
      dataSchema = schema, bucketSpec = None,
      fileFormat = new ParquetFileFormat(), options = options)(spark)

  /** The rows of `manifest`'s live buckets — every native read, the
    * apply's state reads included. [[relation]] without bucket keys,
    * so neither literal pruning nor [[graft.plans.StoreBucketPruning]]
    * fires inside a merge's joins: the caller's restriction of the
    * manifest is the pruning, and `inputFiles` lists exactly the
    * buckets it kept. `schema` defaults to the store's current one
    * ([[EventStreams.storeSchema]]); older bucket files read NULL for
    * appended columns. `_graft_bucket` is projected away. */
  private[graft] def stateAt(spark: SparkSession, dir: String,
      manifest: Map[Int, BucketFiles],
      schema: Option[StructType] = None): DataFrame =
    spark.baseRelationToDataFrame(relation(spark, dir, manifest,
        schema.getOrElse(EventStreams.storeSchema(spark, dir))))
      .drop(GraftStoreFileIndex.BucketCol)

  /** The writers' two hashes of one key tuple, evaluated on the
    * driver: its bucket, `pmod(murmur3(keys), width)`
    * ([[EventStreams.bucketCol]]), and its `_bloom` sidecar hash,
    * xxhash64(keys) ([[EventStreams.writeBucketBlooms]]), both seed
    * 42. `tuple` holds Catalyst internal values of `types`, the STORED
    * key types: a hash depends on its input type (an int 7 and a long
    * 7 land in different buckets). No DataFrame, no job. */
  private[graft] def hashKey(tuple: Seq[Any], types: Seq[DataType],
      width: Int): (Int, Long) = {
    val lits = tuple.zip(types).map { case (v, t) => Literal(v, t) }
    val h = Murmur3Hash(lits, 42).eval().asInstanceOf[Int]
    (((h % width) + width) % width,
      XxHash64(lits, 42L).eval().asInstanceOf[Long])
  }

  /** The one key → bucket resolver: the ids of `manifest`'s buckets
    * (its width is the manifest's size, so a read stays consistent
    * through a rebucket) that hold the rows of some `keys` tuples,
    * given in one of two forms:
    *  - `Left((types, tuples))`: probe-sized tuples in the stored key
    *    types as Catalyst internal values, hashed on the driver
    *    ([[hashKey]]): no DataFrame, no job;
    *  - `Right(frame)`: a frame carrying the `keys` columns, in one job
    *    that collects at most width bucket ids (never bloom-gated).
    *
    * With `bloomBits` (a read that wants the keys' rows from a
    * keyBlooms store) a `Left` set is BLOOM-GATED, the miss-skipping read:
    * a bucket whose `_bloom` sidecar, at its manifest-pinned version,
    * rejects every key aimed at it is definitely-miss and left out; a
    * missing sidecar keeps the bucket, and so does a bucket aimed at
    * by more than [[EventStreams.bloomProbeCap]] keys (read untested —
    * a frontier that dense hits it anyway; the cap bounds the driver
    * transfer to width × (cap + 1) hashes). A false positive only
    * reads a bucket; the caller's key filter keeps answers exact. A
    * merge's dirty set passes None: it must read every dirty bucket
    * whole, empty ones included. */
  private[graft] def bucketsFor(spark: SparkSession, dir: String,
      manifest: Map[Int, BucketFiles], keys: Seq[String],
      tuples: Either[(Seq[DataType], Seq[Seq[Any]]), DataFrame],
      bloomBits: Option[Int]): Set[Int] = {
    val width = manifest.size
    val cap = EventStreams.bloomProbeCap
    val gated = bloomBits.nonEmpty
    val perBucket: Seq[(Int, Seq[Long])] = tuples match {
      case Left((types, ts)) =>
        ts.map(hashKey(_, types, width)).groupMap(_._1)(_._2).toSeq
          .map { case (b, hs) => (b, hs.distinct.sorted.take(cap + 1)) }
      case Right(frame) =>
        require(!gated, s"$dir: a bloom-gated bucket set takes driver tuples")
        frame.select(EventStreams.bucketCol(keys, width)).distinct()
          .collect().toSeq.map(r => (r.getInt(0), Nil))
    }
    if (!gated) perBucket.map(_._1).toSet
    else {
      val (testable, overCap) = perBucket.partition(_._2.size <= cap)
      EventStreams.parEach(testable.filter { case (b, _) =>
          manifest.get(b).exists(_.version >= 0) }) { case (b, hs) =>
        b -> EventStreams.bloomMightContain(spark,
          EventStreams.bucketPath(dir, manifest(b).version, b), hs)
      }.collect { case (b, true) => b }.toSet ++ overCap.map(_._1)
    }
  }
}
