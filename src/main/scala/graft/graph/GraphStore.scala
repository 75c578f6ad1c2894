package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.streaming.{BucketStore, EventStreams}
import graft.streaming.BucketStore.StoreMeta

/** Standing-pipeline form of the load plane: the graph persisted as
  * key-bucketed, manifest-versioned parquet stores (one per table,
  * the [[EventStreams.cdcApply]] layout) with [[applyRelease]]
  * MERGE-ing one release at a time under the exact load.cyp policies
  * of [[GraphLoad.applyRelease]].
  *
  * This is the reference's actual operating mode — release N+1 MERGEs
  * into the EXISTING graph (load.cyp:7,93-95; one release at a time,
  * pipeline.asl.json:153 MaxConcurrency 1) — with the I/O shape a
  * 100 TB store needs: each apply reads and rewrites only the buckets
  * containing this release's keys (O(dirty) ≈ O(|delta| ·
  * |state|/numBuckets)), never the whole table; unchanged buckets are
  * inherited by manifest reference. A whole-history refold
  * ([[GraphLoad.loadAll]]) stays the right tool for a one-shot build;
  * this is the O(delta)-per-release tool for every release cycle
  * after it.
  *
  * HAS_SEQUENCE's MATCH-by-sequence (load.cyp:119, hashed to seq_id
  * per SURVEY §4) needs a seq_id → Sequence-node lookup at apply
  * time; a real graph engine answers that from an index, so the store
  * keeps one: an internal `SEQ_INDEX` table bucketed BY seq_id (the
  * probe key), maintained alongside Sequence and probed only at the
  * delta's seq_id buckets.
  *
  * Equality with the refold is spec-pinned (GraphStoreSpec): fold of
  * [[applyRelease]] over N releases == [[GraphLoad.loadAll]] of all N,
  * table for table, and a release touching few keys dirties few
  * buckets.
  */
object GraphStore {

  /** (bucket/merge keys, createOnly?) per public table; IPD_Allele and
    * HAS_IPD_ALLELE carry bespoke merges below. */
  private val featKeys = ReleaseDeltas.featureKeys
  private val hfKeys = ReleaseDeltas.hasFeatureKeys

  // ---- per-table plumbing (the BucketStore layout, batch-driven) ----
  //
  // BUCKET key vs MERGE key (round 13): a table's bucket key is its
  // TRAVERSAL anchor — `dst` for the edge tables a query enters by
  // target (HAS_IPD_ALLELE, anchored on an allele), `src` for the
  // ones it expands forward through (HAS_FEATURE, HAS_SEQUENCE) —
  // while merges stay keyed on the full natural key. Any bucket key
  // that is a FUNCTION OF the merge key keeps the bucket-local merge
  // sound (all rows of one merge key land in one bucket), and it
  // turns an anchored traversal over a 100 TB store into a handful
  // of bucket-file probes per hop instead of edge-table scans. The
  // bucket key is a LAYOUT property like the bucket count, so both
  // persist in the table meta and every reader takes them from
  // there.

  private def initTable(spark: SparkSession, tdir: String,
      snapshot: DataFrame, bucketKeys: Seq[String], buckets: Int,
      bloomBits: Option[Int] = None, zones: Boolean = false): Unit = {
    snapshot.limit(0).coalesce(1)
      .write.mode("overwrite").parquet(s"$tdir/_empty")
    val meta = StoreMeta(buckets, Some(bucketKeys), bloomBits, zones)
    StoreMeta.write(spark, tdir, meta)
    EventStreams.writeManifestFull(spark, s"$tdir/manifest/v0",
      BucketStore.writeVersion(spark, tdir, 0, snapshot, bucketKeys,
        buckets, meta, snapshot.schema))
  }

  /** A graph table's meta — always the two-line form with its bucket
    * keys. */
  private def tableMeta(spark: SparkSession, tdir: String): StoreMeta = {
    val m = StoreMeta.read(spark, tdir).getOrElse(
      throw new java.io.FileNotFoundException(StoreMeta.path(tdir)))
    // pre-round-13 stores wrote a ONE-line meta (bucket count only;
    // bucketing was implicitly the full merge key) — fail with the
    // remedy named instead of probing with no bucket key
    require(m.keys.nonEmpty,
      s"$tdir: legacy one-line store meta (no bucket-key line) — this " +
        "store predates traversal-anchored bucketing; rebuild it with " +
        "GraphStore.init from a refold (GraphLoad.loadAll)")
    m
  }

  private def tableBucketKeys(spark: SparkSession,
      tdir: String): Seq[String] =
    tableMeta(spark, tdir).keys.get

  private def latestVersion(spark: SparkSession, tdir: String): Int =
    EventStreams.manifestVersions(spark, tdir).max

  /** A graph-store table's read schema is FIXED at init (`_empty` is
    * what every read pins to; the apply path's schema guard exists
    * precisely to reject drift) — so the parquet footer read resolves
    * once per `_empty` and is reused while the footer's files are
    * unchanged (r16, §6 small-file round-trips: ~100 ms of driver I/O
    * × tables × releases on the store's hottest write path). Each
    * reuse costs one listing of `_empty`: a table rebuilt by another
    * process (the remedy the guard's own error names) or an `_empty`
    * rewritten by hand shows a new (name, length, mtime) set, and the
    * footer is read again — the guard never checks against a stale
    * schema. */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Set[(String, Long, Long)], org.apache.spark.sql.types.StructType)]()

  private def tableSchema(spark: SparkSession, tdir: String) = {
    val (fs, p) = EventStreams.hadoopFs(spark, s"$tdir/_empty")
    val stamp = fs.listStatus(p).iterator.filter(_.isFile)
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .toSet
    schemaCache.compute(tdir, (_, hit) =>
      if (hit != null && hit._1 == stamp) hit
      else (stamp, spark.read.parquet(s"$tdir/_empty").schema))._2
  }

  private def latestManifest(spark: SparkSession, tdir: String) =
    EventStreams.readManifest(spark,
      s"$tdir/manifest/v${latestVersion(spark, tdir)}")

  private def latestManifestFull(spark: SparkSession, tdir: String) =
    EventStreams.readManifestFull(spark,
      s"$tdir/manifest/v${latestVersion(spark, tdir)}")

  private def manifestAt(spark: SparkSession, tdir: String,
      v: Int): Map[Int, Int] =
    EventStreams.versionsOf(manifestAtFull(spark, tdir, v))

  private def manifestAtFull(spark: SparkSession, tdir: String,
      v: Int): Map[Int, EventStreams.BucketFiles] =
    try EventStreams.readManifestFull(spark, s"$tdir/manifest/v$v")
    catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"$tdir: manifest v$v is pinned by the latest release marker " +
          "but missing on disk — vacuum(keepVersions=1) ran while a " +
          "later apply was half-committed; refold the store", e)
    }

  // hashing anchors with the WRONG key would probe the wrong buckets
  // and silently MISS rows — fail loudly instead
  private def requireBucketKeys(tdir: String, meta: StoreMeta,
      keys: Seq[String]): Unit =
    require(keys == meta.keys.get,
      s"$tdir is bucketed by (${meta.keys.get.mkString(",")}); a probe " +
        s"keyed (${keys.mkString(",")}) would miss rows")

  /** The buckets of manifest `m` a keyed read must open, from the
    * (bucket → anchor key-tuple xxhash64s) its anchors aim at. Without
    * blooms that is every aimed-at bucket. With them the read is
    * BLOOM-GATED (the miss-skipping read): each bucket carries at most
    * bloomProbeCap + 1 hashes (driver transfer stays ≤ width × cap
    * longs; a bucket aimed at by more anchors than the cap is read
    * untested, since a frontier that dense hits it with near-certainty
    * anyway), and a bucket whose `_bloom` sidecar rejects every anchor
    * aimed at it is definitely-miss: skipped with zero data I/O (one
    * small sidecar read instead of the bucket file). A false positive
    * just reads the bucket; the key filter keeps the answer exact, so
    * the gate can only save I/O, never change a result. Sidecars
    * resolve at the bucket's MANIFEST-pinned version (immutable,
    * vacuumed with it); a missing one (pre-bloom version) degrades to
    * a read. */
  private def openBuckets(spark: SparkSession, tdir: String,
      m: Map[Int, Int], meta: StoreMeta,
      perBucket: Seq[(Int, Seq[Long])]): Set[Int] = meta.bloomBits match {
    case None => perBucket.map(_._1).toSet
    case Some(_) =>
      val (testable, overCap) =
        perBucket.partition(_._2.size <= EventStreams.bloomProbeCap)
      EventStreams.bloomGate(spark, tdir, m, testable) ++ overCap.map(_._1)
  }

  /** Read ONLY the buckets a (release-sized) key frame hashes to — the
    * apply path's index read: at scale a handful of bucket files, not
    * the table. The bucket set is one distinct-collect job over the
    * frame (≤ width ints, never the keys); [[probe]] hashes its
    * probe-sized anchors on the driver instead. */
  private def stateForKeys(spark: SparkSession, tdir: String,
      keyRows: DataFrame, keys: Seq[String]): DataFrame = {
    val meta = tableMeta(spark, tdir)
    requireBucketKeys(tdir, meta, keys)
    val m = latestManifest(spark, tdir)
    // hash WIDTH comes from the manifest, not the meta: a manifest
    // always carries every bucket id of its layout, so a read pinned
    // to it hashes with the exact width it was written under —
    // readers stay consistent THROUGH a rebucket (and across a
    // crashed one); the meta width only seeds new layouts
    val perBucket: Seq[(Int, Seq[Long])] = meta.bloomBits match {
      case None =>
        keyRows
          .select(EventStreams.bucketCol(keys, m.size).as("_b"))
          .distinct().collect().map(r => (r.getInt(0), Seq.empty[Long]))
          .toSeq
      case Some(_) =>
        import org.apache.spark.sql.functions.{collect_set, slice, sort_array, xxhash64}
        keyRows
          .select(EventStreams.bucketCol(keys, m.size).as("_b"),
            xxhash64(keys.map(col): _*).as("_h"))
          .groupBy(col("_b"))
          .agg(slice(sort_array(collect_set(col("_h"))), 1,
            EventStreams.bloomProbeCap + 1).as("_hs"))
          .collect()
          .map(r => (r.getInt(0), r.getSeq[Long](1))).toSeq
    }
    val hit = openBuckets(spark, tdir, m, meta, perBucket)
    EventStreams.stateAt(spark, tdir,
      m.filter { case (k, _) => hit(k) },
      Some(tableSchema(spark, tdir)))
  }

  /** One MERGE step on one table: read dirty buckets, merge the
    * (key-local) policy, rewrite only those buckets, commit manifest
    * v+1. The commit is create-EXCLUSIVE: a concurrent applier that
    * read the same base version fails loudly on its manifest publish
    * instead of silently dropping this one's merge (the reference
    * enforces one-release-at-a-time — pipeline.asl.json:153
    * MaxConcurrency 1 — and so does the store, by failing the second
    * writer rather than trusting deployment discipline). Returns
    * (dirty-bucket count — the I/O proportionality evidence the spec
    * asserts — , committed version). */
  private def applyTable(spark: SparkSession, tdir: String,
      delta: DataFrame,
      merge: (DataFrame, DataFrame) => DataFrame): (Int, Int) = {
    // one meta + one `_empty` footer read per apply (r15 opt: the
    // schema guard, the dirty-state read, and the zone/bloom passes
    // each re-read them before — 3-4 small round-trips per table per
    // release on the store's hottest write path)
    val meta = tableMeta(spark, tdir)
    val expectT = tableSchema(spark, tdir)
    // SCHEMA GUARD, before the claim (a mismatched apply must not
    // burn a version claim): the table's READ schema is fixed at init
    // (`_empty` is what every stateAt read pins to), so an apply whose
    // MERGED output drifted — newer pipeline/policy code adding,
    // renaming, or retyping a column against a store laid down by
    // older code — would otherwise write bucket files the pinned read
    // schema silently TRUNCATES (the new column vanishes on read, and
    // the table's files go mixed-schema). The invariant is on the
    // merge OUTPUT, not the delta (deltas legitimately carry
    // merge-input columns like IPD_Allele's G_new/lg_new that the
    // policy consumes), so the check composes merge() against the
    // empty state frame — pure analysis, no job runs — and fails
    // loudly naming the remedy, whether the drift surfaces as a
    // mismatched output schema or as a merge that no longer analyzes.
    locally {
      def remedy(detail: String, cause: Throwable = null): Nothing =
        throw new IllegalArgumentException(
          s"requirement failed: $tdir: $detail the table's persisted " +
            s"schema is ${expectT.simpleString}, fixed at init — an " +
            "evolved column set would be silently truncated on read; " +
            "rebuild the store with GraphStore.init from a refold " +
            "(GraphLoad.loadAll) under the new schema", cause)
      val merged =
        try merge(spark.read.schema(expectT)
          .parquet(s"$tdir/_empty"), delta).schema
        catch {
          case e: org.apache.spark.sql.AnalysisException => remedy(
            s"the delta (${delta.schema.simpleString}) no longer " +
              s"composes with the stored state (${e.getMessage});", e)
        }
      // nullability is NOT schema drift — the shared shape-only
      // comparison (EventStreams.normShape, one definition with the
      // streaming sink's)
      if (EventStreams.shapeMap(expectT) != EventStreams.shapeMap(merged))
        remedy(s"the merged output schema (${merged.simpleString}) " +
          "does not match;")
    }
    val v = latestVersion(spark, tdir)
    // The claim is PERMANENT and anonymous, so never reentrant —
    // deleting it after commit would let a straggler that read the
    // old base re-claim the version and overwrite committed bucket
    // files — so a crash between claim and commit leaves a stale
    // claim that fails retries loudly with the remedy named
    // (deliberate: a blocked retry beats a silent lost update, and
    // only an operator can know no writer is alive). vacuum() clears
    // claims below the kept-version window.
    BucketStore.claim(spark, tdir, v + 1) { claim =>
      s"$tdir: version ${v + 1} is already claimed — a concurrent " +
        "applier is committing it (the store is single-writer, like " +
        "the reference's MaxConcurrency-1 pipeline), or a crashed one " +
        s"left a stale claim; if no writer is alive, delete $claim and " +
        "retry"
    }
    val (dirty, next) = BucketStore.rewriteDirty(spark, tdir,
      latestManifestFull(spark, tdir), v + 1, delta, meta.keys.get, meta,
      expectT)(merge)
    EventStreams.writeManifestExclusiveFull(
      spark, s"$tdir/manifest/v${v + 1}", next)
    (dirty, v + 1)
  }

  // ---- release markers: store-level atomicity ----
  //
  // Per-table manifests commit independently, so a mid-apply failure
  // leaves some tables at v+1 and others at v. The marker makes a
  // RELEASE the unit of visibility: applyRelease publishes
  // `_release/r{k}` (create-exclusive, LAST, after every table's
  // commit) recording each table's committed version, and serving
  // reads ([[read]]/[[probe]]) pin to the newest marker — a
  // half-applied release is invisible until its marker lands, and a
  // retry of the same release converges (policies are idempotent)
  // and publishes the next marker.

  private def markerDir(dir: String) = s"$dir/_release"

  private def markerIds(spark: SparkSession, dir: String): Seq[Int] = {
    val (fs, md) = EventStreams.hadoopFs(spark, markerDir(dir))
    if (!fs.exists(md)) Seq.empty
    else fs.listStatus(md).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("r")).map(_.stripPrefix("r").toInt).sorted
  }

  private def readMarker(spark: SparkSession, dir: String,
      k: Int): Map[String, Int] =
    EventStreams.readSmallFile(spark, s"${markerDir(dir)}/r$k")
      .linesIterator.filter(_.nonEmpty).map { l =>
        val i = l.lastIndexOf(' ')
        l.substring(0, i) -> l.substring(i + 1).toInt
      }.toMap

  /** Newest complete release: table → committed manifest version.
    * None on a pre-marker store (serve latest manifests instead). */
  private def latestMarker(spark: SparkSession,
      dir: String): Option[Map[String, Int]] =
    markerIds(spark, dir).lastOption.map(readMarker(spark, dir, _))

  private def writeMarker(spark: SparkSession, dir: String,
      versions: Map[String, Int]): Unit = {
    val next = markerIds(spark, dir).lastOption.fold(0)(_ + 1)
    EventStreams.writeSmallFileExclusive(spark,
      s"${markerDir(dir)}/r$next",
      versions.toSeq.sorted.map { case (t, v) => s"$t $v" }
        .mkString("", "\n", "\n"))
  }

  /** One table's manifest under an already-RESOLVED marker pin — the
    * single definition of "marker → manifest, latest-manifest
    * fallback for tables the marker does not record"; both
    * [[servingManifest]] and the pinned multi-table readers
    * ([[read]]) route through it so the fallback semantics cannot
    * drift between them. */
  private def manifestFor(spark: SparkSession, dir: String,
      table: String, pinned: Option[Map[String, Int]]): Map[Int, Int] =
    pinned match {
      case Some(vs) if vs.contains(table) =>
        manifestAt(spark, s"$dir/$table", vs(table))
      case _ => latestManifest(spark, s"$dir/$table")
    }

  /** The manifest VERSION a serving read of `table` pins to: the
    * newest release marker's when one exists (or an explicit
    * historical marker's, for time-travel reads), else the table's
    * own latest — the same fallback semantics as [[manifestFor]]. */
  private def servingVersion(spark: SparkSession, dir: String,
      table: String, asOf: Option[Int]): Int =
    asOf match {
      case Some(k) =>
        val vs = markerOrFail(spark, dir, k)
        require(vs.contains(table),
          s"$dir: marker r$k records no version for $table")
        vs(table)
      case None => latestMarker(spark, dir) match {
        case Some(vs) if vs.contains(table) => vs(table)
        case _ => latestVersion(spark, s"$dir/$table")
      }
    }

  /** The manifest a serving read uses for `table`: pinned to the
    * newest release marker when one exists, or to an explicit
    * historical marker (`asOf`) for time-travel reads. */
  private def servingManifest(spark: SparkSession, dir: String,
      table: String, asOf: Option[Int] = None): Map[Int, Int] =
    manifestAt(spark, s"$dir/$table",
      servingVersion(spark, dir, table, asOf))

  // Merge policies and delta derivation live in [[MergePolicies]] /
  // [[ReleaseDeltas]] — ONE definition shared with
  // [[GraphLoad.applyRelease]], so the two incremental paths cannot
  // drift on what a release means.
  import MergePolicies.{createOnly, overwrite, mergeAllele, mergeReleases}

  // ---- public API ----

  /** One-shot store creation from a built graph (normally
    * `loadAll(firstRelease)`). Bucket keys are the TRAVERSAL anchors
    * (see the layout comment above initTable): vertices by `name`,
    * reverse-anchored edges by `dst` (an allele/accession query
    * enters HAS_IPD_ALLELE / HAS_IPD_ACCESSION / SUBMITTED by
    * target), forward-expanded edges by `src` (a GFE expands through
    * HAS_FEATURE / HAS_SEQUENCE), Feature by its 4-part lookup key
    * (the HAS_FEATURE edge payload resolves it without the long
    * `sequence` column). Every choice is a function of the table's
    * merge key, so bucket-local merges stay exact. */
  def init(spark: SparkSession, dir: String, g: GraphLoad.Graph,
      buckets: Int = EventStreams.defaultNumBuckets, dualAnchor: Boolean = false,
      keyBlooms: Boolean = false, bloomBits: Int = 1 << 17,
      zoneMaps: Boolean = false): Unit = {
    // keyBlooms (opt-in): every bucket write also publishes a
    // `_bloom` key sidecar, and probes skip definitely-miss buckets
    // with zero data I/O — the LSM read-path trade (a per-apply bloom
    // build job bought back by every miss-heavy probe; see
    // EventStreams.writeBucketBlooms). bloomBits sizes each sidecar
    // (default 2^17 bits = 16 KiB, ~1% fp at ~13k keys/bucket).
    // zoneMaps (opt-in): every commit also records per-bucket min/max
    // column stats IN THE MANIFEST, and the SQL serving surface skips
    // buckets a range predicate cannot hit with zero filesystem
    // round-trips — one extra agg pass per rewritten bucket, bought
    // back by every selective range scan (see graft.streaming
    // .ZoneMaps).
    val bb = if (keyBlooms) Some(bloomBits) else None
    val zm = zoneMaps
    // The per-table inits are independent stores (disjoint
    // directories) — run them as concurrent job streams, exactly like
    // applyRelease's per-table MERGEs (r15 opt: serialized, a 12-17
    // table init paid every table's write+bloom+zones job latency
    // back-to-back; the input graph's caches are populated by
    // loadAll before this fan-out, so the concurrent jobs read hot
    // cache). writeMarker still publishes LAST, after every table's
    // manifest committed.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val inits = scala.collection.mutable.ArrayBuffer[Future[Unit]](
      Future(initTable(spark, s"$dir/GFE", g.gfe, Seq("name"), buckets,
        bb, zm)),
      Future(initTable(spark, s"$dir/Sequence", g.sequence, Seq("name"),
        buckets, bb, zm)),
      Future(initTable(spark, s"$dir/Feature", g.feature,
        Seq("locus", "rank", "term", "accession"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/IPD_Allele", g.ipdAllele,
        Seq("name"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/IPD_Accession", g.ipdAccession,
        Seq("name"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/Submitter", g.submitter,
        Seq("name"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/HAS_IPD_ALLELE", g.hasIpdAllele,
        Seq("dst"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/HAS_IPD_ACCESSION",
        g.hasIpdAccession, Seq("dst"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/SUBMITTED", g.submitted,
        Seq("dst"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/HAS_SEQUENCE", g.hasSequence,
        Seq("src"), buckets, bb, zm)),
      Future(initTable(spark, s"$dir/HAS_FEATURE", g.hasFeature,
        Seq("src"), buckets, bb, zm)),
      // the seq_id-keyed Sequence-node index HAS_SEQUENCE probes
      Future(initTable(spark, s"$dir/SEQ_INDEX",
        g.sequence.select(col("seq_id"), col("name")), Seq("seq_id"),
        buckets, bb, zm)))
    // DUAL-ANCHOR layout (opt-in): each traversal edge table gets a
    // `__rev` twin holding the SAME rows bucketed by the OPPOSITE
    // anchor, so EITHER traversal direction is a bucket-pruned probe
    // — the classic adjacency-both-ways graph-store trade (2× edge
    // storage for all-probe reads; the reference's Neo4j pays the
    // same via its per-direction relationship chains). [[probe]]
    // routes a reverse-key probe to the twin transparently;
    // [[applyRelease]] applies every edge delta to both layouts, so
    // the twins can never drift (fold equality spec-pinned).
    // SUBMITTED gets no twin: its reverse fan-out is table-sized by
    // nature (one submitter vertex) — a bucket layout cannot help it,
    // and [[probeJoin]] stays the honest read for that shape.
    if (dualAnchor) {
      val src = Map[String, DataFrame](
        "HAS_IPD_ALLELE" -> g.hasIpdAllele,
        "HAS_IPD_ACCESSION" -> g.hasIpdAccession,
        "HAS_SEQUENCE" -> g.hasSequence,
        "HAS_FEATURE" -> g.hasFeature)
      revAnchors.foreach { case (t, keys) =>
        inits += Future(initTable(spark, s"$dir/${t}__rev", src(t),
          keys, buckets, bb, zm))
      }
    }
    // completion barrier BEFORE failure propagation (applyRelease's
    // discipline): a caller's cleanup/retry must never race a
    // still-running sibling initTable on the same store dir
    inits.foreach(f => Await.ready(f, Duration.Inf))
    inits.foreach(Await.result(_, Duration.Inf))
    writeMarker(spark, dir, tablesOf(spark, dir).map(_ -> 0).toMap)
  }

  /** Reverse-twin anchor keys: the opposite traversal end of each
    * edge table that has an enterable one (HAS_FEATURE's far end is
    * the Feature composite key — its twin serves "which GFEs carry
    * feature F"). */
  private val revAnchors: Seq[(String, Seq[String])] = Seq(
    "HAS_IPD_ALLELE" -> Seq("src"),
    "HAS_IPD_ACCESSION" -> Seq("src"),
    "HAS_SEQUENCE" -> Seq("dst"),
    "HAS_FEATURE" -> Seq("locus", "rank", "term", "accession"))

  private def hasTwin(spark: SparkSession, dir: String,
      table: String): Boolean =
    StoreMeta.read(spark, s"$dir/${table}__rev").nonEmpty

  /** Every table directory the store keeps — dynamic, because the
    * dual-anchor layout adds `__rev` twins (a directory is a table
    * iff it carries a store meta file). */
  private def tablesOf(spark: SparkSession, dir: String): Seq[String] = {
    val (fs, root) = EventStreams.hadoopFs(spark, dir)
    fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != "_release")
      .map(_.getPath.getName)
      .filter(t => StoreMeta.read(spark, s"$dir/$t").nonEmpty)
      .sorted
  }

  /** Per-table dirty-bucket counts and committed manifest versions of
    * one [[applyRelease]]. */
  final case class ApplyStats(dirtyBuckets: Map[String, Int],
      versions: Map[String, Int]) {
    def total: Int = dirtyBuckets.values.sum
  }

  /** MERGE one release into the store — O(dirty buckets) read+write
    * per table. Same policy set as [[GraphLoad.applyRelease]]; fold
    * equality with the refold is spec-pinned. */
  def applyRelease(
      spark: SparkSession,
      dir: String,
      release: (String, DataFrame, DataFrame, DataFrame),
      submitDate: java.sql.Date = java.sql.Date.valueOf("2026-01-01"))
      : ApplyStats = {
    val (_, seqs0, featRel0, groups0) = release
    // deltas are release-sized; checkpoint so the (possibly 15-stage)
    // build pipeline feeding them runs once, not once per table
    val seqs = seqs0.localCheckpoint()
    val featRel = featRel0.localCheckpoint()
    val groups = groups0.localCheckpoint()

    val d = new ReleaseDeltas(seqs, featRel, groups)
    val gfeDelta = d.gfeDelta
    val seqDelta = d.seqDelta

    // The per-table MERGEs are independent stores (disjoint
    // directories, own manifests) — run them as concurrent job
    // streams. Each step is a handful of small jobs (dirty-bucket
    // collect, bucket rewrite, manifest commit) whose cost at any
    // scale is dominated by per-job latency, not compute; serialized
    // they cost 11 × that latency per release (measured 10 s/release
    // at fixture scale), interleaved the scheduler overlaps them
    // (same trick as SCC's fwd/bwd fixpoints). Only ordering
    // constraint: SEQ_INDEX commits before HAS_SEQUENCE probes it (a
    // new Sequence node must be visible to its own release's pairs).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val stats =
      new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()
    def apply1(table: String, delta: DataFrame,
        merge: (DataFrame, DataFrame) => DataFrame): Future[Unit] =
      Future {
        stats.put(table, applyTable(spark, s"$dir/$table", delta, merge))
        ()
      }
    // Dual-anchor twins receive the SAME delta under the SAME merge —
    // sound because every twin bucket key is a function of the merge
    // key, so both layouts' bucket-local merges compute the identical
    // relation. The delta is checkpointed once so the (possibly deep)
    // delta pipeline doesn't run once per layout (the dirty rewrite
    // sees the checkpoint and does not copy it again).
    val twins = revAnchors.map(_._1)
      .filter(t => hasTwin(spark, dir, t)).toSet
    def applyEdge(table: String, delta: DataFrame,
        merge: (DataFrame, DataFrame) => DataFrame): Seq[Future[Unit]] =
      if (!twins(table)) Seq(apply1(table, delta, merge))
      else {
        val d = delta.localCheckpoint()
        Seq(apply1(table, d, merge), apply1(s"${table}__rev", d, merge))
      }

    // Bijection guard BEFORE any apply commits (serial — probing the
    // Sequence store while its own overwrite apply runs would race
    // and could read post-merge state, masking the violation): the
    // incremental HAS_SEQUENCE probe is sound iff seq_id ↔ name
    // stays 1:1 across releases (see GraphLoad.applyRelease — a
    // repeated seq_id under a new name needs a reverse probe this
    // release-sized join cannot see; a renamed seq_id strands
    // accumulated edges). Both checks are O(dirty-bucket) index
    // reads, the same I/O class as the apply itself.
    locally {
      // the two directions are independent index probes over disjoint
      // tables (SEQ_INDEX, Sequence) — concurrent job streams (r15
      // opt); both still complete BEFORE any apply commits (probing
      // Sequence while its own overwrite apply runs would race)
      val crossNameF = Future {
        stateForKeys(spark, s"$dir/SEQ_INDEX",
          seqDelta.select("seq_id"), Seq("seq_id"))
          .withColumnRenamed("name", "_oname")
          .join(broadcast(seqDelta.select(col("seq_id"), col("name"))),
            Seq("seq_id"))
          .where(col("name") =!= col("_oname")).limit(1).count()
      }
      val reIdF = Future {
        stateForKeys(spark, s"$dir/Sequence",
          seqDelta.select("name"), Seq("name"))
          .select(col("name"), col("seq_id").as("_oid"))
          .join(broadcast(seqDelta.select(col("name"), col("seq_id"))),
            Seq("name"))
          .where(col("seq_id") =!= col("_oid")).limit(1).count()
      }
      require(Await.result(crossNameF, Duration.Inf) == 0,
        "GraphStore.applyRelease: a sequence (seq_id) reappeared " +
          "under a new GFE name — the incremental HAS_SEQUENCE probe " +
          "cannot see old pairs; rebuild the store from a refold")
      require(Await.result(reIdF, Duration.Inf) == 0,
        "GraphStore.applyRelease: a GFE name changed its sequence " +
          "(seq_id) — accumulated HAS_SEQUENCE edges would go stale; " +
          "rebuild the store from a refold")
    }

    // SEQ_INDEX first, then the HAS_SEQUENCE delta from the probe
    // (chained so the probe reads this release's committed index);
    // the main table and its dual-anchor twin then apply as TWO
    // dependent futures off the one checkpointed delta — concurrent,
    // like every other twin pair (they are disjoint stores)
    val hsDeltaF = apply1("SEQ_INDEX",
        seqDelta.select(col("seq_id"), col("name")),
        createOnly(Seq("seq_id", "name")))
      .map { _ =>
        val pairs = d.pairsDelta.localCheckpoint()
        val hsDelta = stateForKeys(
          spark, s"$dir/SEQ_INDEX", pairs, Seq("seq_id"))
          .withColumnRenamed("name", "dst")
          .join(broadcast(pairs), Seq("seq_id"))
          .select("src", "dst")
        if (twins("HAS_SEQUENCE")) hsDelta.localCheckpoint() else hsDelta
      }
    val hsApplies = ("HAS_SEQUENCE" +:
        (if (twins("HAS_SEQUENCE")) Seq("HAS_SEQUENCE__rev") else Nil))
      .map(t => hsDeltaF.map { hs =>
        stats.put(t, applyTable(spark, s"$dir/$t", hs,
          createOnly(Seq("src", "dst"))))
        ()
      })

    val independent = (Seq(
      apply1("GFE", gfeDelta, createOnly(Seq("name"))),
      apply1("Sequence", seqDelta, overwrite(Seq("name"))),
      apply1("Feature", d.featDelta, createOnly(featKeys)),
      apply1("IPD_Allele", d.alleleDelta, mergeAllele),
      apply1("IPD_Accession", d.accDelta, createOnly(Seq("name"))),
      // SUBMITTED create-only on dst: only this release's genuinely-
      // new GFEs land (existing dsts keep their first submit_date)
      apply1("SUBMITTED", d.submittedDelta(lit(submitDate)),
        createOnly(Seq("src", "dst")))) ++ hsApplies) ++
      applyEdge("HAS_IPD_ALLELE", d.relsDelta, mergeReleases) ++
      applyEdge("HAS_IPD_ACCESSION", d.hasAccDelta,
        createOnly(Seq("src", "dst"))) ++
      applyEdge("HAS_FEATURE", d.hasFeatDelta, createOnly(hfKeys))
    // Completion BARRIER before failure propagation: if one table's
    // apply fails, the others must finish (or fail) before this call
    // returns — a caller's retry must never race a still-running
    // sibling applyTable on the same table directory (two writers
    // would both read manifest v and both commit v+1).
    independent.foreach(f => Await.ready(f, Duration.Inf))
    independent.foreach(Await.result(_, Duration.Inf))
    import scala.jdk.CollectionConverters._
    val applied = stats.asScala.toMap
    // Publish the release marker LAST — the store-level commit point.
    // Tables this release did not apply (Submitter) carry their
    // version forward from the previous marker.
    val carried = latestMarker(spark, dir).getOrElse(Map.empty)
    val versions = tablesOf(spark, dir).map { t =>
      t -> applied.get(t).map(_._2)
        .orElse(carried.get(t))
        .getOrElse(latestVersion(spark, s"$dir/$t"))
    }.toMap
    writeMarker(spark, dir, versions)
    ApplyStats(applied.map { case (t, (n, _)) => t -> n }, versions)
  }

  /** The graph as of the newest COMPLETE release — reads pin to the
    * latest release marker, so a half-applied (failed or in-flight)
    * release is invisible until its marker commits. */
  def read(spark: SparkSession, dir: String): GraphLoad.Graph = {
    // Resolve the newest marker ONCE and pin every table to it —
    // resolving per table would let an applyRelease that publishes
    // its marker between two table reads produce a MIXED-marker
    // graph (GFE at release k+1 joined to HAS_FEATURE at k): the
    // cross-table snapshot must come from one marker, exactly like
    // readAt's.
    val pinned = latestMarker(spark, dir)
    def t(n: String) = EventStreams.stateAt(spark, s"$dir/$n",
      manifestFor(spark, dir, n, pinned),
      Some(tableSchema(spark, s"$dir/$n")))
    GraphLoad.Graph(t("GFE"), t("Sequence"), t("Feature"), t("IPD_Allele"),
      t("IPD_Accession"), t("Submitter"), t("HAS_IPD_ALLELE"),
      t("HAS_IPD_ACCESSION"), t("SUBMITTED"), t("HAS_SEQUENCE"),
      t("HAS_FEATURE"))
  }

  // ---- time travel + CDC reads ----
  //
  // Each release marker is a complete, immutable snapshot pointer
  // (table → manifest version; manifests reference immutable bucket
  // files), so every RETAINED marker is a servable as-of state for
  // free — the store already IS a multi-version store, these reads
  // just address the axis. The training-data use is reproducibility:
  // "rebuild the exact corpus release k trained on" is [[readAt]];
  // "what must be re-embedded/re-indexed since release j" is
  // [[diff]]. Retention is vacuum's kept-version window (a vacuumed
  // marker fails loudly here, naming the knob).

  /** Every committed release marker id, oldest → newest — the as-of
    * axis [[readAt]] and [[diff]] address. Marker k is the state
    * after the (k+1)-th completed release ([[init]] publishes r0). */
  def markers(spark: SparkSession, dir: String): Seq[Int] =
    markerIds(spark, dir)

  private def markerOrFail(spark: SparkSession, dir: String,
      k: Int): Map[String, Int] = {
    val ids = markerIds(spark, dir)
    require(ids.contains(k),
      s"$dir: release marker r$k is not on disk (markers present: " +
        s"${ids.mkString(",")}) — it was never published, or vacuum() " +
        "GC'd it with its superseded manifests; raise keepVersions to " +
        "retain a longer as-of history")
    readMarker(spark, dir, k)
  }

  /** One table pinned to release marker `marker` — [[read]]'s as-of
    * form. Same I/O shape as a serving read: resolve the marker's
    * manifest, read exactly the bucket files it references (version
    * immutability makes an old state no more expensive than the
    * newest one). */
  def tableAt(spark: SparkSession, dir: String, table: String,
      marker: Int): DataFrame = {
    val vs = markerOrFail(spark, dir, marker)
    require(vs.contains(table),
      s"$dir: marker r$marker records no version for $table " +
        s"(tables: ${vs.keys.toSeq.sorted.mkString(",")})")
    EventStreams.stateAt(spark, s"$dir/$table",
      manifestAt(spark, s"$dir/$table", vs(table)),
      Some(tableSchema(spark, s"$dir/$table")))
  }

  /** The whole graph as of release marker `marker` — time travel. */
  def readAt(spark: SparkSession, dir: String,
      marker: Int): GraphLoad.Graph = {
    def t(n: String) = tableAt(spark, dir, n, marker)
    GraphLoad.Graph(t("GFE"), t("Sequence"), t("Feature"), t("IPD_Allele"),
      t("IPD_Accession"), t("Submitter"), t("HAS_IPD_ALLELE"),
      t("HAS_IPD_ACCESSION"), t("SUBMITTED"), t("HAS_SEQUENCE"),
      t("HAS_FEATURE"))
  }

  /** CDC between two marker-pinned states of one table: the rows
    * present at `toMarker` but not `fromMarker` (`change = '+'`) and
    * vice versa (`change = '-'`) — an ON-MATCH update (HAS_IPD_ALLELE
    * accumulating a release) surfaces as its '-' old row plus its '+'
    * new row. Set semantics, exact.
    *
    * MANIFEST-PRUNED: a bucket whose version pointer is the same in
    * both manifests references the SAME immutable file — it cannot
    * contribute a diff row and is never read. Both sides therefore
    * read only the buckets some apply rewrote in between, so the I/O
    * is O(changed buckets) ≈ O(Σ deltas · |state|/numBuckets), never
    * 2 × table — the incremental-reprocessing read ("re-embed what
    * release k touched") stays delta-sized at 100 TB. (A rewritten
    * bucket CAN be row-identical — a createOnly merge whose keys all
    * existed — and then contributes nothing; pointer equality prunes
    * reads, row equality decides the diff.) */
  def diff(spark: SparkSession, dir: String, table: String,
      fromMarker: Int, toMarker: Int): DataFrame = {
    val tdir = s"$dir/$table"
    def manifestOf(k: Int): Map[Int, Int] = {
      val vs = markerOrFail(spark, dir, k)
      require(vs.contains(table),
        s"$dir: marker r$k records no version for $table")
      manifestAt(spark, tdir, vs(table))
    }
    EventStreams.cdcDiff(spark, tdir, manifestOf(fromMarker),
      manifestOf(toMarker), Some(tableSchema(spark, tdir)))
  }

  /** Public index-probe read: the rows of `table` whose `keys` match
    * `keyRows`, served from ONLY the buckets those keys hash to — at
    * any scale the I/O is a handful of bucket files, never the table.
    * This is the read an anchored motif/traversal query wants against
    * a 100 TB store (resolve the anchor, expand hop by hop — each hop
    * one probe; gfe_incremental_2hop runs exactly that); the
    * plan-shape guarantee (scan touches hit buckets only) is
    * spec-pinned in GraphStoreSpec. `keys` must be the table's BUCKET
    * key (its traversal anchor, persisted in the table meta — `dst`
    * for HAS_IPD_ALLELE/HAS_IPD_ACCESSION/SUBMITTED, `src` for
    * HAS_FEATURE/HAS_SEQUENCE, `name`/`seq_id` for vertices/index);
    * any other key would hash to the wrong buckets and fails loudly.
    * Like [[read]], pinned to the newest release marker — or, with
    * `asOf = Some(marker)`, to a retained historical marker (the
    * anchored form of [[readAt]]: "run this traversal as release k
    * saw the graph").
    *
    * `keyRows` is collected to the driver once — it must be
    * probe-sized (an anchor list), not a table; a local frame (a
    * `Seq.toDF`) collects with no job. Each key column is cast to the
    * table's STORED type first (an int anchor against a long column
    * hashes as the long the writer hashed, instead of missing its
    * bucket), and the deduplicated anchors are hashed on the driver
    * ([[EventStreams.localBuckets]]). The returned frame is one scan
    * of the hit buckets filtered by the anchor values (an IN-list), so
    * building it runs no Spark job and collecting it runs one. Anchors
    * with a NULL key part, or a value the stored type cannot hold,
    * match nothing (equi-join semantics). */
  def probe(spark: SparkSession, dir: String, table: String,
      keyRows: DataFrame, keys: Seq[String],
      asOf: Option[Int] = None): DataFrame =
    keyedRead(spark, dir, table, keyRows, keys, asOf, scanUnservable = false)

  /** [[probe]]'s read, also for a `keys` no layout of `table` is
    * bucketed by when `scanUnservable`: that read opens every live
    * bucket of the serving version ([[probeJoin]]'s I/O class) under
    * the same anchor filter, still with no job to build it. This is
    * the anchored expansion's per-orientation read
    * ([[Motif.varPathAnchored]]); without `scanUnservable` an
    * unservable key fails loudly, as [[probe]] promises. */
  private[graph] def keyedRead(spark: SparkSession, dir: String,
      table: String, keyRows: DataFrame, keys: Seq[String],
      asOf: Option[Int], scanUnservable: Boolean): DataFrame = {
    // dual-anchor routing: a read keyed by the OPPOSITE traversal end
    // is served from the `__rev` twin (same rows, reverse bucket
    // layout) when the store keeps one — both directions of an
    // anchored traversal become bucket-pruned reads
    val meta0 = tableMeta(spark, s"$dir/$table")
    val twin = s"${table}__rev"
    val (t, meta) =
      if (keys != meta0.keys.get && !table.endsWith("__rev") &&
          hasTwin(spark, dir, table) &&
          tableBucketKeys(spark, s"$dir/$twin") == keys)
        (twin, tableMeta(spark, s"$dir/$twin"))
      else (table, meta0)
    val tdir = s"$dir/$t"
    val pruned = keys == meta.keys.get
    if (!scanUnservable) requireBucketKeys(tdir, meta, keys)
    val schema = tableSchema(spark, tdir)
    val anchors = keyRows
      .select(keys.map(k => col(k).try_cast(schema(k).dataType).as(k)): _*)
      .collect().toSeq.distinct.filterNot(_.anyNull)
    val m = servingManifest(spark, dir, t, asOf)
    val live =
      if (!pruned) m
      else {
        val cap = EventStreams.bloomProbeCap
        val keySchema = org.apache.spark.sql.types.StructType(
          keys.map(k => schema(k).copy(nullable = true)))
        val perBucket = EventStreams
          .localBuckets(spark, keySchema, anchors, keys, m.size)
          .groupMap(_._1)(_._2).toSeq
          .map { case (b, hs) => (b, hs.distinct.sorted.take(cap + 1)) }
        val hit = openBuckets(spark, tdir, m, meta, perBucket)
        m.filter { case (k, _) => hit(k) }
      }
    // an IN-list, not a broadcast semi-join: broadcasting even a local
    // relation runs a job, and the values are on the driver already
    val filter = keys match {
      case Seq(k) => col(k).isin(anchors.map(_.get(0)): _*)
      case _ => struct(keys.map(col): _*).isin(anchors.map(r =>
        struct(keys.indices.map(i => lit(r.get(i)).as(keys(i))): _*)): _*)
    }
    EventStreams.stateAt(spark, tdir, live, Some(schema)).where(filter)
  }

  /** True iff [[probe]] can serve `table` entered by `keys` as a
    * bucket-pruned read — by the table's own anchor or a dual-anchor
    * twin's; any other key is a full read ([[probeJoin]]). */
  def probeServable(spark: SparkSession, dir: String, table: String,
      keys: Seq[String]): Boolean =
    tableBucketKeys(spark, s"$dir/$table") == keys ||
      (hasTwin(spark, dir, table) &&
        tableBucketKeys(spark, s"$dir/${table}__rev") == keys)

  /** The persisted traversal-anchor bucket key of `table` — the key
    * [[probe]] accepts. Public so traversal planners
    * ([[Motif.varPathAnchored]]) can choose per orientation between
    * the bucket-pruned [[probe]] (entering by this key) and the
    * semi-join [[probeJoin]] (entering by any other). */
  def anchorKeys(spark: SparkSession, dir: String,
      table: String): Seq[String] =
    tableBucketKeys(spark, s"$dir/$table")

  /** The dual-anchor twin's key order, when `table` has a twin — the
    * exact Seq [[probe]] routes on (bucket hashing is order-
    * sensitive). None on a single-layout store. */
  def twinAnchorKeys(spark: SparkSession, dir: String,
      table: String): Option[Seq[String]] =
    if (hasTwin(spark, dir, table))
      Some(tableBucketKeys(spark, s"$dir/${table}__rev"))
    else None

  /** `table`'s persisted column schema — traversal planners resolve
    * composite far-end keys from it. */
  private[graph] def storeSchema(spark: SparkSession, dir: String,
      table: String): org.apache.spark.sql.types.StructType =
    tableSchema(spark, s"$dir/$table")

  /** Everything [[graft.sources.GraftStoreSource]] needs to plan a
    * scan of one marker-pinned table: (table dir, serving manifest,
    * persisted bucket keys, pinned schema). The data source lives in
    * another package but must resolve tables EXACTLY like the native
    * reads — same marker resolution, same meta, same loud failures on
    * vacuumed markers / legacy meta — so the resolution stays here,
    * next to the readers it must agree with. */
  private[graft] def relationSpec(spark: SparkSession, dir: String,
      table: String, asOf: Option[Int] = None)
      : (String, Map[Int, EventStreams.BucketFiles], Seq[String],
         org.apache.spark.sql.types.StructType, Option[Int]) = {
    val tdir = s"$dir/$table"
    val meta = tableMeta(spark, tdir)
    // FULL manifest (version + persisted file stats): the FileIndex
    // answers sizeInBytes and file enumeration from the stats with
    // zero listStatus round-trips on a stats-carrying store; the
    // bloom bits let its literal pruning also consult the `_bloom`
    // sidecars (declarative miss-gating)
    (tdir, manifestAtFull(spark, tdir,
        servingVersion(spark, dir, table, asOf)),
      meta.keys.get, tableSchema(spark, tdir), meta.bloomBits)
  }

  /** One store table as a plain DataFrame through the registered data
    * source — equal to [[tableAt]]/[[read]]'s table, but planned via
    * [[graft.sources.GraftStoreFileIndex]], so an equality/IN filter
    * on the table's bucket key prunes the scan to the hit buckets at
    * planning time (the declarative [[probe]]). */
  def sqlTable(spark: SparkSession, dir: String, table: String,
      asOf: Option[Int] = None): DataFrame = {
    val r = spark.read.format("graftstore")
      .option("dir", dir).option("table", table)
    // `_graft_bucket` is the relation's synthesized partition column —
    // the hook runtime (join-driven) bucket pruning evaluates against;
    // dropped here so the PUBLIC schema stays the native read's (the
    // Project sits above the relation, pruning fires beneath it)
    asOf.fold(r)(k => r.option("marker", k.toString)).load()
      .drop("_graft_bucket")
  }

  /** Register every public table of the store as a temp view
    * (`prefix` + table name) — the SQL serving surface: after this,
    * `spark.sql("SELECT ... FROM GFE JOIN HAS_FEATURE ...")` runs
    * against the marker-pinned store with bucket pruning, no graft
    * API in sight. `__rev` twins are skipped (same rows as their
    * primary, different layout — a SQL reader never wants both). */
  def createViews(spark: SparkSession, dir: String, prefix: String = "",
      asOf: Option[Int] = None): Seq[String] = {
    // pin ALL views to ONE marker (the newest at entry, unless the
    // caller names one): per-view resolution would let an apply
    // landing mid-loop register a mixed-marker view set — a SQL join
    // across the views must see one consistent release snapshot
    val pin = asOf.orElse(markerIds(spark, dir).lastOption)
    val ts = tablesOf(spark, dir).filterNot(_.endsWith("__rev"))
    ts.foreach { t =>
      sqlTable(spark, dir, t, pin).createOrReplaceTempView(prefix + t)
    }
    ts.map(prefix + _)
  }

  /** JOIN-shaped store read: the rows of `table` whose `keys` values
    * appear in `keyFrame` — [[probe]]'s semantics with NO driver-side
    * materialization of the key side (no anchor collect, no
    * broadcast, fully lazy), so the key frame may itself be
    * table-sized: "HAS_SEQUENCE rows for every GFE in release X" at
    * 100 TB is this call, not [[probe]]. Served as a shuffle
    * semi-join over the manifest-RESOLVED live bucket files of the
    * marker-pinned serving version (superseded versions are never
    * touched). Trade-off, stated not hidden: without a driver-known
    * bucket-id set there is no FILE-level pruning — the right trade
    * exactly when the key frame hits most buckets anyway, which a
    * table-sized frame does; a probe-sized anchor list should keep
    * using [[probe]], whose driver-side collect of the anchors buys
    * the file pruning.
    *
    * Unlike [[probe]], `keys` need not be the table's bucket key:
    * with every live bucket read, any key choice is exact (the
    * wrong-bucket silent-miss hazard is a pruning hazard, and there
    * is no pruning here). */
  def probeJoin(spark: SparkSession, dir: String, table: String,
      keyFrame: DataFrame, keys: Seq[String],
      asOf: Option[Int] = None): DataFrame = {
    val tdir = s"$dir/$table"
    val state = EventStreams.stateAt(spark, tdir,
      servingManifest(spark, dir, table, asOf),
      Some(tableSchema(spark, tdir)))
    state.join(
      keyFrame.select(keys.map(col): _*).dropDuplicates(keys),
      keys, "left_semi")
  }

  /** GC superseded versions of every table (the
    * [[EventStreams.cdcVacuum]] dual, per table) plus superseded
    * release markers. Returns total (buckets, manifests) deleted.
    *
    * APPLIER INTERLOCK: a concurrent [[applyRelease]] commits
    * per-table manifests first and publishes its marker LAST, so
    * mid-apply the newest marker pins versions BEHIND each table's
    * latest manifest. A naive `keepVersions = 1` would then delete
    * the very manifests serving reads pin to (the data loss happens
    * even though read() fails loudly after the fact). Vacuum
    * therefore WIDENS the per-table window to always reach the
    * version the newest marker pins — `keepVersions` is a floor, not
    * an absolute — and the widening is race-safe without any lock:
    * markers only move FORWARD, so a marker read at vacuum start can
    * only pin versions ≤ what any concurrent applier publishes,
    * i.e. a stale read only widens the kept window further.
    *
    * Marker retention is tied to the same window: a superseded
    * marker survives iff every manifest version it pins survived
    * this vacuum (so a reader pinned to it keeps working); markers
    * whose pinned manifests are gone are deleted with the data. */
  /** Re-bucket every table to a new bucket count — the GROWTH lever:
    * the count is a layout property fixed at [[init]], and a store
    * that grew 100× otherwise grows each bucket unboundedly (probe
    * cost is per-bucket size; dirty-bucket apply I/O too). One
    * full-table rewrite per table (the same I/O class as the refold
    * that would otherwise be needed), each under the same permanent
    * version claim appliers use, then ONE fresh marker; the old
    * layout's history is vacuumed away.
    *
    * Contract, stated not hidden:
    *  - HISTORY RESET — old-layout manifests are pruned (with their
    *    markers): the as-of/[[diff]] axis restarts at the rebucketed
    *    marker.
    *  - READERS STAY ONLINE — every read derives its hash width from
    *    the manifest it is pinned to (manifest.size), never the
    *    meta, so a probe racing (or outliving a crash of) the
    *    migration serves the old layout consistently until the new
    *    marker lands; the marker publish is the atomic visibility
    *    point. Concurrent APPLIERS are excluded loudly: every
    *    table's next version is claimed UP FRONT, before any
    *    rewrite, so a mid-migration failure aborts with the store
    *    intact and the stale claims naming the retry remedy. */
  def rebucket(spark: SparkSession, dir: String, newBuckets: Int): Unit = {
    require(newBuckets > 0, "newBuckets must be positive")
    val tables = tablesOf(spark, dir)
    // PHASE 1 — claim every table's next version before touching any
    // data: a concurrent applier (or a second rebucket) fails here,
    // and a claim conflict aborts the whole migration before a
    // single bucket is written
    val claimed = tables.map { t =>
      val tdir = s"$dir/$t"
      val v = latestVersion(spark, tdir)
      BucketStore.claim(spark, tdir, v + 1) { claim =>
        s"$tdir: version ${v + 1} is already claimed — a concurrent " +
          "applier (or crashed one) holds it; rebucket needs the store " +
          s"quiesced of writers. If none is alive, delete $claim and retry"
      }
      t -> v
    }
    // PHASE 2 — rewrite every table under the new width and commit
    // its manifest; readers keep serving the marker-pinned old
    // layout (their width comes from the pinned manifest itself).
    // Per-table rewrites are independent (disjoint dirs, claims all
    // held from PHASE 1) — concurrent job streams, applyRelease's
    // discipline (r15 opt: serialized, the migration paid 12-17
    // full-table rewrite latencies back-to-back).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val rewrites = claimed.map { case (t, v) =>
      Future {
        val tdir = s"$dir/$t"
        val meta = tableMeta(spark, tdir)
        val schema = tableSchema(spark, tdir)
        val state = EventStreams.stateAt(spark, tdir,
          servingManifest(spark, dir, t), Some(schema))
        // bloom sidecars and zone stats rebuild with the layout (every
        // bucket is rewritten — this is also what restores a bloom's
        // fp ratio after the per-bucket key count outgrew its width)
        EventStreams.writeManifestExclusiveFull(spark,
          s"$tdir/manifest/v${v + 1}",
          BucketStore.writeVersion(spark, tdir, v + 1, state,
            meta.keys.get, newBuckets, meta, schema))
        StoreMeta.write(spark, tdir, meta.copy(buckets = newBuckets))
        t -> (v + 1)
      }
    }
    // completion barrier before failure propagation (applyRelease's
    // rule: a retry must never race a still-running sibling rewrite)
    rewrites.foreach(f => Await.ready(f, Duration.Inf))
    val versions = rewrites.map(Await.result(_, Duration.Inf)).toMap
    // PHASE 3 — one marker: the store-level atomic cutover
    writeMarker(spark, dir, versions)
    // old-layout history is superseded — prune it (vacuum keeps the
    // fresh marker's versions and drops markers whose manifests go)
    vacuum(spark, dir, keepVersions = 1)
    ()
  }

  /** One table's layout health, from manifest metadata alone. */
  final case class LayoutStat(table: String, buckets: Int,
      liveBytes: Long, maxBucketBytes: Long, p95BucketBytes: Long,
      recommendedBuckets: Int) {
    def needsRebucket: Boolean = recommendedBuckets > buckets
  }

  /** The [[rebucket]] ADVISOR: per-table live size and bucket-size
    * distribution, read from the serving manifests' PERSISTED file
    * stats — zero data I/O, zero listStatus on a stats-carrying store
    * (legacy entries fall back to one listing per bucket). The bucket
    * count is fixed at [[init]], so a store that grew 100× carries
    * 100× bigger buckets — probe latency, dirty-bucket apply I/O, and
    * bloom fp-rates all degrade with bucket size, and this report says
    * WHEN to pull the growth lever: `recommendedBuckets` is the
    * power-of-two width that brings the AVERAGE bucket under
    * `targetBucketBytes` (pass your deployment's probe-latency
    * budget; default 1 GiB). Hash skew is what p95/max are FOR:
    * p95 ≫ average after a rebucket means key-mass imbalance a width
    * change cannot fix (salting/anchor-choice territory) — size the
    * target with your observed p95/mean ratio if the p95 is the
    * budget you must meet. Advisory only — [[rebucket]] is the
    * operator-invoked migration, with its documented history reset. */
  def layoutReport(spark: SparkSession, dir: String,
      targetBucketBytes: Long = 1L << 30): Seq[LayoutStat] = {
    require(targetBucketBytes > 0, "targetBucketBytes must be positive")
    tablesOf(spark, dir).map { t =>
      val tdir = s"$dir/$t"
      val m = manifestAtFull(spark, tdir,
        servingVersion(spark, dir, t, None))
      val sizes: Seq[Long] = m.toSeq.sortBy(_._1).map {
        case (_, bf) if bf.version < 0 => 0L
        case (k, bf) => bf.files match {
          case Some(fs) => fs.map(_._2).sum
          case None => // legacy (pre-stats) entry: one listing
            val (fs, p) = EventStreams.hadoopFs(spark,
              EventStreams.bucketPath(tdir, bf.version, k))
            fs.listStatus(p).collect {
              case st if st.isFile &&
                  !st.getPath.getName.startsWith("_") &&
                  !st.getPath.getName.startsWith(".") => st.getLen
            }.sum
        }
      }
      val live = sizes.sum
      val sorted = sizes.sorted
      val p95 = if (sorted.isEmpty) 0L
        else sorted(math.min(sorted.size - 1,
          (sorted.size * 0.95).toInt))
      // the width that brings the AVERAGE bucket under target, rounded
      // up to a power of two (hash layouts rebalance cleanly at any
      // width, but powers of two keep growth steps predictable);
      // skew within the hash is what p95/max surface — a max far above
      // p95 means one hot key, which no width fixes (that is salting
      // territory, not rebucketing)
      val needed = math.max(1L,
        (live + targetBucketBytes - 1) / targetBucketBytes)
      var rec = 1
      while (rec < needed && rec < (1 << 30)) rec <<= 1
      LayoutStat(t, m.size, live, sorted.lastOption.getOrElse(0L), p95,
        math.max(rec, m.size))
    }
  }

  def vacuum(spark: SparkSession, dir: String,
      keepVersions: Int = 2): (Int, Int) = {
    val (fs, root) = EventStreams.hadoopFs(spark, dir)
    // marker + marker-id snapshot FIRST (see the race note above) —
    // and read ONCE: a second listing could see a marker an applier
    // published in between, and `pinned` would then come from a
    // marker the intactness loop below never checks (the
    // previously-newest marker could survive pinning deleted
    // manifests while the keep floor protected only the newer one)
    val markerSnapshot = markerIds(spark, dir)
    val pinned = markerSnapshot.lastOption
      .map(readMarker(spark, dir, _)).getOrElse(Map.empty)
    val tdirs = fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName != "_release")
    // the marker-pinned version is an ABSOLUTE keep floor handed to
    // cdcVacuum (not a widened count — a count is a TOCTOU when an
    // applier commits v+1 between this read and cdcVacuum's own
    // version listing); in-flight claimed-but-uncommitted versions
    // are deferred inside cdcVacuum itself
    val counts = tdirs
      .map(st => EventStreams.cdcVacuum(spark, st.getPath.toString,
        keepVersions, keepFrom = pinned.get(st.getPath.getName)))
      .foldLeft((0, 0)) { case ((a, b), (x, y)) => (a + x, b + y) }
    // what survived IS the kept window — claims and markers are
    // judged against it
    val survived: Map[String, Set[Int]] = tdirs.map { st =>
      st.getPath.getName ->
        EventStreams.manifestVersions(spark, st.getPath.toString).toSet
    }.toMap
    // claims are permanent commit records (see applyTable) — GC'd per
    // table under the shared keep rule (EventStreams.sweepClaims: ONE
    // definition with the streaming sink's vacuum — below the
    // surviving floor AND referenced by no surviving manifest; bucket
    // inheritance keeps the rest), which also sweeps crash-orphaned
    // AtomicCommit temps.
    tdirs.foreach(st =>
      EventStreams.sweepClaims(spark, st.getPath.toString))
    locally { // orphan marker-commit temps
      val (mfs, md) = EventStreams.hadoopFs(spark, markerDir(dir))
      if (mfs.exists(md))
        mfs.listStatus(md).toSeq.filter(EventStreams.staleTmp)
          .foreach(st0 => mfs.delete(st0.getPath, false))
    }
    markerSnapshot.dropRight(1).foreach { k =>
      val intact = readMarker(spark, dir, k).forall { case (t, v) =>
        survived.get(t).exists(_.contains(v))
      }
      if (!intact)
        fs.delete(
          new org.apache.hadoop.fs.Path(s"${markerDir(dir)}/r$k"), false)
    }
    counts
  }
}
