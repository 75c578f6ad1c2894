package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

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
  *    hash to are read at the base manifest, merged, rewritten as a
  *    new version, and every other bucket is inherited by reference.
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
  private def isCheckpoint(df: DataFrame): Boolean =
    df.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.isCheckpointed ||
          l.rdd.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE
      case _ => false
    }

  /** One MERGE step of a store: route `delta` by `keys` at the BASE
    * manifest's width (the delta must land in the buckets the base's
    * rows were hashed into, whatever the meta says now — a merge
    * stays consistent right after a crashed rebucket), read only those
    * dirty buckets at the base version, `merge(state, delta)` them
    * (key-local), and [[writeVersion]] the result as `version`. Every
    * other bucket inherits its base entry (version, file and zone
    * stats) by reference, so the I/O is O(dirty buckets), never
    * O(state). Returns (dirty-bucket count, the next manifest) for
    * the caller to commit.
    *
    * A delta that is not already a checkpoint is checkpointed LAZILY:
    * the dirty-bucket collect is its first action and materializes the
    * blocks as it runs, so the delta pipeline runs once without an
    * extra job; a caller that shares one delta across several stores
    * (the dual-anchor twins) checkpoints it once itself. */
  private[graft] def rewriteDirty(spark: SparkSession, dir: String,
      base: Map[Int, BucketFiles], version: Int, delta: DataFrame,
      keys: Seq[String], meta: StoreMeta, schema: StructType)(
      merge: (DataFrame, DataFrame) => DataFrame)
      : (Int, Map[Int, BucketFiles]) = {
    val d = if (isCheckpoint(delta)) delta
      else delta.localCheckpoint(eager = false)
    val dirty = d.select(EventStreams.bucketCol(keys, base.size).as("_b"))
      .distinct().collect().map(_.getInt(0)).toSet
    if (dirty.isEmpty) (0, base)
    else {
      val state = EventStreams.stateAt(spark, dir,
        EventStreams.versionsOf(base.filter { case (k, _) => dirty(k) }),
        Some(schema))
      val written = writeVersion(spark, dir, version, merge(state, d), keys,
        base.size, meta, schema)
      (dirty.size, base ++ dirty.map(k => k -> written(k)))
    }
  }
}
