package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.graph.{GraphLoad, GraphStore}

/** The `graftstore` data source: plain `spark.read.format` / SQL reads
  * over the versioned bucket store must serve EXACTLY the native reads
  * (read/tableAt/probe) while keeping their plan-shape guarantees —
  * manifest resolution, planning-time bucket pruning on the anchor
  * key, marker time travel. */
class GraftStoreSourceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  /** One store for the whole suite: 3 policy-matrix releases folded
    * through init + 2 applies at 8 buckets (wide enough that pruning
    * is visible in file counts). */
  private lazy val dir: String = {
    val Seq(r1, r2, r3) = LoadFixtures.policyMatrix(spark)
    val d = tmp("graftstore_source")
    GraphStore.init(spark, d, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 8)
    GraphStore.applyRelease(spark, d, r2)
    GraphStore.applyRelease(spark, d, r3)
    d
  }

  /** numFiles the executed scan actually opened + the scan node. */
  private def scanStats(df: DataFrame): (Long, FileSourceScanExec) = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString.take(800))
    (scans.head.metrics("numFiles").value, scans.head)
  }

  private def liveFiles(table: String): Int =
    GraphStore.sqlTable(spark, dir, table).inputFiles
      .count(_.contains("_graft_bucket="))

  test("source scan == native read, schema and rows, vertex + edge") {
    val g = GraphStore.read(spark, dir)
    for ((t, native) <- Seq("Sequence" -> g.sequence,
        "HAS_IPD_ALLELE" -> g.hasIpdAllele, "Feature" -> g.feature)) {
      val src = GraphStore.sqlTable(spark, dir, t)
      assert(src.columns.toSeq == native.columns.toSeq, t)
      assert(LoadFixtures.rowsOf(src) == LoadFixtures.rowsOf(native), t)
    }
  }

  test("equality on the anchor key prunes the scan to the hit bucket " +
      "at planning time, and matches probe()") {
    import spark.implicits._
    val name = GraphStore.read(spark, dir).sequence
      .select("name").orderBy("name").head().getString(0)
    val df = GraphStore.sqlTable(spark, dir, "Sequence")
      .where(col("name") === name)
    val (n, scan) = scanStats(df)
    val total = liveFiles("Sequence")
    assert(n >= 1 && n < total,
      s"anchor equality read $n of $total live files — no bucket pruning")
    // the predicate ALSO pushes into parquet (row-group skip inside
    // the surviving bucket file)
    assert(scan.dataFilters.exists(_.references.exists(_.name == "name")),
      scan.dataFilters.toString)
    val viaProbe = GraphStore.probe(spark, dir, "Sequence",
      Seq(name).toDF("name"), Seq("name"))
    assert(LoadFixtures.rowsOf(df) == LoadFixtures.rowsOf(viaProbe))
  }

  test("IN-list prunes to the union of hit buckets; conjunct sets " +
      "intersect") {
    val names = GraphStore.read(spark, dir).sequence
      .select("name").orderBy("name").collect().map(_.getString(0))
    assert(names.length >= 3, names.toSeq)
    val in2 = GraphStore.sqlTable(spark, dir, "Sequence")
      .where(col("name").isin(names(0), names(1)))
    val (nIn, _) = scanStats(in2)
    val total = liveFiles("Sequence")
    assert(nIn < total, s"IN-list read $nIn of $total")
    assert(in2.count() == 2)
    // name IN (a,b) AND name = a → {a}: intersection, not union
    val both = GraphStore.sqlTable(spark, dir, "Sequence")
      .where(col("name").isin(names(0), names(1)) &&
        col("name") === names(0))
    val (nBoth, _) = scanStats(both)
    assert(nBoth <= nIn, s"intersected conjuncts read $nBoth > $nIn")
    assert(both.count() == 1)
  }

  test("composite anchor (Feature 4-key): full-key equality prunes; a " +
      "partial key falls back to all live buckets, still correct") {
    val f = GraphStore.read(spark, dir).feature
      .select("locus", "term", "rank", "accession").head()
    val keyed = GraphStore.sqlTable(spark, dir, "Feature")
      .where(col("locus") === f.getString(0) &&
        col("term") === f.getString(1) &&
        col("rank") === f.getInt(2) && col("accession") === f.getString(3))
    val (nFull, _) = scanStats(keyed)
    val total = liveFiles("Feature")
    assert(nFull >= 1 && nFull < total,
      s"4-key equality read $nFull of $total Feature files")
    assert(keyed.count() == 1)
    // drop one key part → conservative: every live bucket is read,
    // the answer is unchanged-correct (pruning may only skip, never
    // change results)
    val partial = GraphStore.sqlTable(spark, dir, "Feature")
      .where(col("term") === f.getString(1) && col("rank") === f.getInt(2))
    val (nPart, _) = scanStats(partial)
    assert(nPart == total,
      s"partial key must not prune: read $nPart of $total")
  }

  test("bloom-gated literal pruning: on a keyBlooms store, an all-" +
      "absent IN-list opens ZERO files; mixed literals equal the " +
      "bloom-less store") {
    val Seq(r1, r2, _) = LoadFixtures.policyMatrix(spark)
    val bdir = tmp("graftstore_source_bloom")
    GraphStore.init(spark, bdir, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 8, keyBlooms = true)
    GraphStore.applyRelease(spark, bdir, r2)
    // all-absent IN-list: every combo's bucket sidecar rejects it —
    // the scan plans over zero files (the declarative ingest-screen
    // miss; on the bloom-less suite store the same query reads its
    // hash buckets)
    val absent = (1 to 20).map(i => s"ZZ-miss-$i")
    val miss = GraphStore.sqlTable(spark, bdir, "Sequence")
      .where(col("name").isin(absent: _*))
    val (nMiss, _) = scanStats(miss)
    assert(nMiss == 0L, s"absent-literal scan opened $nMiss files")
    assert(miss.count() == 0)
    val missPlain = GraphStore.sqlTable(spark, dir, "Sequence")
      .where(col("name").isin(absent: _*))
    val (nPlain, _) = scanStats(missPlain)
    assert(nPlain > 0L,
      "premise: the bloom-less store reads hit buckets for the miss")
    // mixed present+absent: same served rows as the bloom-less twin
    // (the gate only skips reads), fewer-or-equal files than the
    // hit-bucket union
    val present = GraphStore.read(spark, bdir).sequence
      .select("name").orderBy("name").collect().map(_.getString(0))
    val mixed = GraphStore.sqlTable(spark, bdir, "Sequence")
      .where(col("name").isin(present(0), "ZZ-miss-1", "ZZ-miss-2"))
    assert(mixed.count() == 1)
    val (nMixed, _) = scanStats(mixed)
    assert(nMixed >= 1, "present literal must still read its bucket")
  }

  test("probe and a sqlTable IN-list open the same bucket files: string " +
      "dst, long accession and 4-part Feature keys; present and absent " +
      "anchors; plain and keyBlooms stores") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.datasources.FileScanRDD
    import org.apache.spark.sql.types.StructType
    def norm(files: Seq[String]) =
      files.map(f => new Path(f).toUri.getPath).sorted
    // the files the executed scan's RDD reads
    def scanned(df: DataFrame) = norm(scanStats(df)._2.inputRDD
      .asInstanceOf[FileScanRDD].filePartitions.flatMap(_.files)
      .map(_.toPath.toString))
    val fk = Seq("locus", "rank", "term", "accession")
    for (longAcc <- Seq(false, true); blooms <- Seq(false, true)) {
      val Seq(r1, r2, _) = LoadFixtures.policyMatrix(spark).map(r =>
        if (!longAcc) r
        else r.copy(_3 = r._3.withColumn("accession",
          col("accession").cast("long"))))
      val d = tmp(s"graftstore_same_files_${longAcc}_$blooms")
      GraphStore.init(spark, d, GraphLoad.loadAll(spark, Seq(r1)),
        buckets = 8, keyBlooms = blooms)
      GraphStore.applyRelease(spark, d, r2)
      val g = GraphStore.read(spark, d)
      val absentAcc: Any = if (longAcc) 987654321L else "987654321"
      val cases = Seq(
        ("dst present", "HAS_IPD_ALLELE", Seq("dst"),
          g.hasIpdAllele.select("dst").distinct().collect().toSeq),
        ("dst absent", "HAS_IPD_ALLELE", Seq("dst"),
          Seq(Row("HLA-Q*01:01"), Row("HLA-Q*02:02"))),
        ("feature present", "Feature", fk,
          g.feature.select(fk.map(col): _*).collect().toSeq.take(1)),
        ("feature absent", "Feature", fk,
          Seq(Row("HLA-Q", 99, "NOPE", absentAcc))))
      for ((name, table, keys, anchors) <- cases) {
        val clue = s"$name, longAcc=$longAcc, blooms=$blooms"
        val stored = GraphStore.sqlTable(spark, d, table).schema
        val keyFrame = spark.createDataFrame(anchors.asJava,
          StructType(keys.map(stored(_))))
        val probed = GraphStore.probe(spark, d, table, keyFrame, keys)
        val sql = GraphStore.sqlTable(spark, d, table).where(
          keys.zipWithIndex.map { case (k, i) =>
            col(k).isin(anchors.map(_.get(i)).distinct: _*) }
            .reduce(_ && _))
        val files = scanned(sql)
        assert(norm(probed.inputFiles.toSeq) == files, clue)
        assert(name.endsWith("absent") || files.nonEmpty,
          s"$clue: premise, present anchors open their buckets")
        assert(LoadFixtures.rowsOf(probed) == LoadFixtures.rowsOf(sql), clue)
      }
    }
  }

  test("non-anchor predicate reads all live buckets but pushes to " +
      "parquet; results correct") {
    val df = GraphStore.sqlTable(spark, dir, "Sequence")
      .where(col("length") >= 4L)
    val (n, _) = scanStats(df)
    assert(n == liveFiles("Sequence"))
    val native = GraphStore.read(spark, dir).sequence
      .where(col("length") >= 4L)
    assert(LoadFixtures.rowsOf(df) == LoadFixtures.rowsOf(native))
  }

  test("marker option is time travel: == tableAt, differs from serving") {
    val m0 = GraphStore.markers(spark, dir).head
    val asOf = GraphStore.sqlTable(spark, dir, "IPD_Allele", Some(m0))
    val native = GraphStore.tableAt(spark, dir, "IPD_Allele", m0)
    assert(LoadFixtures.rowsOf(asOf) == LoadFixtures.rowsOf(native))
    val serving = GraphStore.sqlTable(spark, dir, "IPD_Allele")
    assert(asOf.count() < serving.count(),
      "r2/r3 added alleles; marker-0 state must be smaller")
    val e = intercept[IllegalArgumentException] {
      GraphStore.sqlTable(spark, dir, "IPD_Allele", Some(99)).collect()
    }
    assert(e.getMessage.contains("marker"), e.getMessage)
  }

  test("createViews + plain spark.sql: a join over store views equals " +
      "the native join; DDL CREATE VIEW ... USING graftstore works") {
    val views = GraphStore.createViews(spark, dir, prefix = "gs_")
    assert(views.contains("gs_GFE") && views.contains("gs_HAS_FEATURE"))
    assert(!views.exists(_.endsWith("__rev")))
    val sqlOut = spark.sql(
      """SELECT a.name AS allele, count(*) AS n_feats
        |FROM gs_HAS_IPD_ALLELE e
        |JOIN gs_IPD_Allele a ON a.name = e.dst
        |JOIN gs_HAS_FEATURE hf ON hf.src = e.src
        |GROUP BY a.name ORDER BY allele""".stripMargin)
    val g = GraphStore.read(spark, dir)
    val native = g.hasIpdAllele.join(g.ipdAllele.withColumnRenamed(
        "name", "dst").select("dst"), "dst")
      .join(g.hasFeature.withColumnRenamed("src", "esrc"),
        col("src") === col("esrc"))
      .groupBy("dst").count()
      .select(col("dst").as("allele"), col("count").as("n_feats"))
      .orderBy("allele")
    assert(LoadFixtures.rowsOf(sqlOut) == LoadFixtures.rowsOf(native))
    // the DDL route resolves through the registered short name
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW ddl_seq
      |USING graftstore OPTIONS (dir '$dir', table 'Sequence')"""
      .stripMargin)
    assert(spark.sql("SELECT count(*) AS n FROM ddl_seq").head().getLong(0)
      == GraphStore.read(spark, dir).sequence.count())
  }

  test("raw cdcApply-layout path: path+version+keys options serve a " +
      "bare store dir, keys opt into pruning") {
    // a GraphStore table dir IS a cdcApply-layout store — read it raw
    val tdir = s"$dir/Sequence"
    val latest = graft.streaming.EventStreams
      .manifestVersions(spark, tdir).max
    // (direct format loads expose the `_graft_bucket` partition
    // column; the sqlTable/createViews surface drops it)
    val raw = spark.read.format("graftstore")
      .option("path", tdir).option("version", latest.toString).load()
      .drop("_graft_bucket")
    // latest manifest == serving manifest here (applies commit both)
    assert(LoadFixtures.rowsOf(raw) ==
      LoadFixtures.rowsOf(GraphStore.sqlTable(spark, dir, "Sequence")))
    // without `keys` a key predicate cannot prune (no persisted meta)
    val name = raw.select("name").orderBy("name").head().getString(0)
    val (nNoKeys, _) = scanStats(raw.where(col("name") === name))
    val total = liveFiles("Sequence")
    assert(nNoKeys == total, s"keys-less raw read must not prune: " +
      s"$nNoKeys of $total")
    val keyed = spark.read.format("graftstore")
      .option("path", tdir).option("keys", "name").load()
      .where(col("name") === name)
    val (nKeys, _) = scanStats(keyed)
    assert(nKeys < total, s"keys option must prune: $nKeys of $total")
    assert(keyed.count() == raw.where(col("name") === name).count())
    // a keys option naming a non-column fails at relation
    // construction with the remedy, not from inside planning
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftstore")
        .option("path", tdir).option("keys", "not_a_column").load()
    }
    assert(e.getMessage.contains("not_a_column") &&
      e.getMessage.contains("omit keys"), e.getMessage)
  }

  test("createViews pins every view to ONE marker: an apply after " +
      "registration cannot tear the cross-view snapshot") {
    val Seq(r1, r2, _) = LoadFixtures.policyMatrix(spark)
    val d2 = tmp("graftstore_views_pin")
    GraphStore.init(spark, d2, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    GraphStore.createViews(spark, d2, prefix = "pin_")
    val before = spark.sql("SELECT count(*) AS n FROM pin_HAS_IPD_ALLELE")
      .head().getLong(0)
    GraphStore.applyRelease(spark, d2, r2) // adds GFE C -> A*01:01
    // registered views are a STATIC snapshot of the marker resolved
    // once at registration — the post-apply store does not bleed in
    assert(spark.sql("SELECT count(*) AS n FROM pin_HAS_IPD_ALLELE")
      .head().getLong(0) == before)
    assert(before == GraphStore.tableAt(spark, d2, "HAS_IPD_ALLELE",
      GraphStore.markers(spark, d2).head).count())
    // re-registration advances to the new marker
    GraphStore.createViews(spark, d2, prefix = "pin_")
    assert(spark.sql("SELECT count(*) AS n FROM pin_HAS_IPD_ALLELE")
      .head().getLong(0) > before)
  }

  test("FileIndex sizeInBytes feeds the planner: a store-view join " +
      "against a big probe side broadcasts the store table") {
    // The CBO consequence of an honest sizeInBytes (sum of the live
    // manifest-referenced files): a small store table joined to a
    // large frame plans a BroadcastHashJoin without any hint — at
    // scale this is the difference between a shuffle of the 100 TB
    // side and a broadcast of the dimension-sized probe result.
    val big = spark.range(0, 100000L)
      .selectExpr("cast(id as string) AS dst", "id AS payload")
    val joined = big.join(
      GraphStore.sqlTable(spark, dir, "IPD_Allele")
        .withColumnRenamed("name", "dst"), "dst")
    joined.collect()
    // AQE query stages don't expose the join through collect() —
    // assert on the final executed plan's rendering
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small store side must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"), plan.take(1200))
  }

  test("manifest-persisted file stats: relation construction performs " +
      "ZERO bucket listings on a stats-carrying store, sizeInBytes " +
      "equals the filesystem truth; a legacy manifest falls back to " +
      "listing, same rows") {
    import graft.streaming.EventStreams
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    def indexOf(df: DataFrame): graft.sources.GraftStoreFileIndex =
      df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
          .location.asInstanceOf[graft.sources.GraftStoreFileIndex]
      }.get
    val df = GraphStore.sqlTable(spark, dir, "Sequence")
    val idx = indexOf(df)
    // every commit since the stats extension records per-file sizes —
    // planning answers file enumeration + CBO size with no listStatus
    assert(idx.listedBucketCount == 0,
      s"stats-carrying store listed ${idx.listedBucketCount} buckets")
    val (fs, _) = EventStreams.hadoopFs(spark, dir)
    val truth = df.inputFiles.map(p => fs.getFileStatus(
      new org.apache.hadoop.fs.Path(p)).getLen).sum
    assert(idx.sizeInBytes == truth,
      s"sizeInBytes ${idx.sizeInBytes} != listed truth $truth")
    // LEGACY manifest (pre-stats store): strip the stats field from a
    // copy-store's serving manifest — the index must fall back to
    // listing those buckets and serve identical rows
    val Seq(r1, _, _) = LoadFixtures.policyMatrix(spark)
    val d2 = tmp("graftstore_legacy_manifest")
    GraphStore.init(spark, d2, GraphLoad.loadAll(spark, Seq(r1)),
      buckets = 4)
    val before = LoadFixtures.rowsOf(GraphStore.sqlTable(spark, d2, "GFE"))
    val mpath = s"$d2/GFE/manifest/v0"
    val legacy = EventStreams.readSmallFile(spark, mpath).linesIterator
      .filter(_.nonEmpty)
      .map(_.split(' ').take(2).mkString(" ")).mkString("", "\n", "\n")
    EventStreams.writeSmallFile(spark, mpath, legacy)
    val df2 = GraphStore.sqlTable(spark, d2, "GFE")
    assert(indexOf(df2).listedBucketCount > 0,
      "legacy manifest must fall back to listing")
    assert(LoadFixtures.rowsOf(df2) == before)
  }

  test("an EMPTY manifest file fails loudly (mid-publish read), never " +
      "serves an empty table") {
    import graft.streaming.EventStreams
    val d = tmp("graftstore_empty_manifest")
    val p = s"$d/manifest/v3"
    EventStreams.writeSmallFile(spark, p, "")
    val e = intercept[IllegalArgumentException] {
      EventStreams.readManifest(spark, p)
    }
    assert(e.getMessage.contains("empty") &&
      e.getMessage.contains("retry"), e.getMessage)
  }

  test("raw-layout keys option is cross-checked against a persisted " +
      "GraphStore table meta — wrong keys or wrong ORDER fail loudly " +
      "instead of pruning wrong buckets") {
    // Feature's persisted anchor is (locus,rank,term,accession); the
    // same columns in another order hash differently and would
    // silently miss rows if accepted
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graftstore")
        .option("path", s"$dir/Feature")
        .option("keys", "term,locus,rank,accession").load()
    }
    assert(e.getMessage.contains("persisted") &&
      e.getMessage.contains("order"), e.getMessage)
    // the persisted key order is accepted and prunes
    val ok = spark.read.format("graftstore")
      .option("path", s"$dir/Feature")
      .option("keys", "locus,rank,term,accession").load()
    assert(ok.count() == GraphStore.read(spark, dir).feature.count())
  }

  test("readStream against a non-store path fails at STREAM START with " +
      "the store diagnostic, not a bare parquet FileNotFound") {
    val d = tmp("graftstore_not_a_store")
    val e = intercept[Exception] {
      spark.readStream.format("graftstore").option("path", d).load()
    }
    assert(e.getMessage.contains("manifest") ||
      e.getMessage.contains("bucket store"), e.getMessage)
  }

  /** Every FileSourceScanExec in the FINAL plan, descending through
    * AQE's re-planned root and materialized query stages (both hide
    * their contents from plain collect — children = Nil). */
  private def finalScans(df: DataFrame)
      : Seq[FileSourceScanExec] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case s: FileSourceScanExec => Seq(s); case _ => Nil }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  private def storeScan(df: DataFrame): FileSourceScanExec =
    finalScans(df).find(_.relation.location
      .isInstanceOf[graft.sources.GraftStoreFileIndex])
      .getOrElse(fail(s"no graftstore scan in\n${df.queryExecution}"))

  test("RUNTIME bucket pruning: a JOIN-shaped anchor predicate (the " +
      "values exist only at execution) prunes the scan to hit-bucket " +
      "files via DynamicPruningSubquery, and matches probe()") {
    import spark.implicits._
    spark.conf.set("spark.graft.store.dynamicPrune.minBytes", "0")
    try {
      val names = GraphStore.read(spark, dir).sequence
        .select("name").orderBy("name").limit(2)
        .collect().map(_.getString(0)).toSeq
      val anchors = names.toDF("name")
      val joined = GraphStore.sqlTable(spark, dir, "Sequence")
        .join(anchors, Seq("name"))
      joined.collect()
      val scan = storeScan(joined)
      assert(scan.toString.toLowerCase.contains("dynamicpruning"),
        s"no dynamic pruning on the store scan:\n$scan")
      val n = scan.metrics("numFiles").value
      val total = liveFiles("Sequence")
      assert(n >= 1 && n < total,
        s"join-driven read opened $n of $total live files — no pruning")
      val expected = GraphStore.probe(spark, dir, "Sequence",
        anchors, Seq("name"))
      assert(LoadFixtures.rowsOf(joined.select(expected.columns.map(col)
        .toIndexedSeq: _*)) == LoadFixtures.rowsOf(expected))
    } finally spark.conf.unset("spark.graft.store.dynamicPrune.minBytes")
  }

  test("RUNTIME bucket pruning: WHERE name IN (subquery) through a " +
      "plain SQL view prunes — the BI-tool probe shape") {
    import spark.implicits._
    spark.conf.set("spark.graft.store.dynamicPrune.minBytes", "0")
    try {
      GraphStore.createViews(spark, dir, prefix = "dpp_")
      val names = GraphStore.read(spark, dir).sequence
        .select("name").orderBy("name").limit(2)
        .collect().map(_.getString(0)).toSeq
      names.toDF("name").createOrReplaceTempView("dpp_anchors")
      val q = spark.sql(
        """SELECT name, locus, length FROM dpp_Sequence
          |WHERE name IN (SELECT name FROM dpp_anchors)""".stripMargin)
      q.collect()
      val scan = storeScan(q)
      val n = scan.metrics("numFiles").value
      val total = liveFiles("Sequence")
      assert(n >= 1 && n < total,
        s"IN-subquery read $n of $total live files — no pruning")
      assert(q.count() == names.size.toLong)
    } finally spark.conf.unset("spark.graft.store.dynamicPrune.minBytes")
  }

  test("RUNTIME bucket pruning: composite 4-key anchor join prunes " +
      "when every key is equated; results exact") {
    spark.conf.set("spark.graft.store.dynamicPrune.minBytes", "0")
    try {
      val anchors = GraphStore.read(spark, dir).feature
        .select("locus", "rank", "term", "accession")
        .orderBy("locus", "rank", "term", "accession").limit(1)
        .localCheckpoint()
      val joined = GraphStore.sqlTable(spark, dir, "Feature")
        .join(anchors, Seq("locus", "rank", "term", "accession"))
      joined.collect()
      val n = storeScan(joined).metrics("numFiles").value
      val total = liveFiles("Feature")
      assert(n >= 1 && n < total,
        s"composite join-driven read opened $n of $total")
      assert(joined.count() == 1)
    } finally spark.conf.unset("spark.graft.store.dynamicPrune.minBytes")
  }

  test("RUNTIME bucket pruning size gate: a broadcast-sized store " +
      "skips the subquery (default gate = autoBroadcastJoinThreshold); " +
      "results unchanged") {
    import spark.implicits._
    // fixture stores are far below the 10 MB default threshold — the
    // rule must leave the join alone (no extra dim-side scan)
    val names = GraphStore.read(spark, dir).sequence
      .select("name").orderBy("name").limit(2)
      .collect().map(_.getString(0)).toSeq
    val anchors = names.toDF("name")
    val joined = GraphStore.sqlTable(spark, dir, "Sequence")
      .join(anchors, Seq("name"))
    joined.collect()
    assert(!storeScan(joined).toString.toLowerCase
      .contains("dynamicpruning"),
      "gate must skip pruning a broadcast-sized store")
    assert(joined.count() == 2)
  }

  test("missing options fail loudly naming the remedy") {
    val e1 = intercept[RuntimeException] {
      spark.read.format("graftstore").option("table", "Sequence").load()
    }
    assert(e1.getMessage.contains("dir"), e1.getMessage)
    val e2 = intercept[RuntimeException] {
      spark.read.format("graftstore").load()
    }
    assert(e2.getMessage.contains("dir+table") ||
      e2.getMessage.contains("path"), e2.getMessage)
  }
}
