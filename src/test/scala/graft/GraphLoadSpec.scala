package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.gfe.GfeBuild
import graft.graph.{GraphLoad, GraphQueries}
import graft.ingest.ImgtFlatFile

class GraphLoadSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  lazy val graph: GraphLoad.Graph = {
    val r1 = GfeBuild.run(spark, ImgtFlatFile.fromText(spark,
      ImgtFlatFile.resourceText("/graft/hla.3560.dat")), "3560")
    val r2 = GfeBuild.run(spark, ImgtFlatFile.fromText(spark,
      ImgtFlatFile.resourceText("/graft/hla.3570.dat")), "3570",
      registry = Some(r1.registry))
    GraphLoad.loadAll(spark, Seq(
      ("3560", r1.gfeSequences, r1.allFeatures, r1.allGroups),
      ("3570", r2.gfeSequences, r2.allFeatures, r2.allGroups)))
  }

  test("vertices MERGE by natural key (A5): unique keys per label") {
    assert(GraphQueries.validateConstraints(graph).isEmpty)
    // 3570 adds 2 new alleles -> 9 + 2 distinct GFE names (all fixture
    // alleles have distinct feature sets -> distinct GFEs)
    assert(graph.gfe.count() == 11)
    assert(graph.ipdAllele.count() == 11)
    assert(graph.submitter.count() == 1)
  }

  test("HAS_IPD_ALLELE releases accumulate sorted distinct (A4)") {
    val rels = graph.hasIpdAllele
      .where(col("dst") === "HLA-A*01:01:01:01")
      .select("releases").collect().head.getSeq[Int](0)
    assert(rels == Seq(3560, 3570))
    val only3560 = graph.hasIpdAllele
      .where(col("dst") === "HLA-C*01:02")
      .select("releases").collect().head.getSeq[Int](0)
    assert(only3560 == Seq(3560))
  }

  test("HAS_IPD_ACCESSION release is first-write-wins") {
    val rel = graph.hasIpdAccession
      .where(col("dst") === "HLA00001")
      .select("release").collect().head.getString(0)
    assert(rel == "3.56.0")
  }

  test("validation aggregations (A1-A3)") {
    val counts = GraphQueries.labelCounts(graph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("GFE") == 11 && counts("Submitter") == 1)
    assert(counts("IPD_Accession") == 11)
    val hist = GraphQueries.releasesHistogram(graph).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist(3560) == 9 && hist(3570) == 4)
    val acc = GraphQueries.accessionReleaseCounts(graph).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(acc("3.56.0") == 9 && acc("3.57.0") == 2)
  }

  test("2-hop traversal golden: 17 (term, rank) rows for a full allele (J8)") {
    val fs = GraphQueries.alleleFeatures(graph, "HLA-A*01:01:01:01").collect()
    assert(fs.length == 17)
    assert(fs.map(r => (r.getAs[String]("term"), r.getAs[Int]("rank"))).toSeq ==
      (Seq(("EXON", 1), ("EXON", 2), ("EXON", 3), ("EXON", 4), ("EXON", 5),
        ("EXON", 6), ("EXON", 7), ("EXON", 8)) ++
        Seq(("FIVE_PRIME_UTR", 1)) ++
        (1 to 7).map(r => ("INTRON", r)) ++
        Seq(("THREE_PRIME_UTR", 1))))
  }

  test("HAS_SEQUENCE joins via seq_id hash, not the raw string (§4)") {
    assert(graph.hasSequence.count() == graph.gfe.count())
    // every edge endpoint resolves
    val dangling = graph.hasSequence.join(graph.sequence,
      graph.hasSequence("dst") === graph.sequence("name"), "left_anti").count()
    assert(dangling == 0)
  }

  test("bucketed store: traversal anchor join runs with zero shuffle") {
    GraphLoad.writeBucketed(graph, "bkt", buckets = 4)
    // disable broadcast so the planner exercises the bucket layout
    // (fixture tables are tiny; at scale SMJ is the join that matters)
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val g = spark.table("bkt_gfe")
      val hf = spark.table("bkt_has_feature")
      val joined = g.join(hf, g("name") === hf("src"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"),
        s"bucket-aligned join must not shuffle:\n${plan.take(1500)}")
      assert(joined.count() == graph.hasFeature.count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("Motif.path: generic 2-hop reproduces the fixed-shape traversal golden") {
    import graft.graph.Motif
    val viaMotif = Motif.path(graph, Seq(
      Motif.Hop("HAS_IPD_ALLELE", reverse = true),
      Motif.Hop("HAS_FEATURE")))
      .where(col("n0") === "HLA-A*01:01:01:01")
      .select(col("e1_term").as("term"), col("e1_rank").as("rank"))
      .dropDuplicates("term", "rank")
      .orderBy("term", "rank")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Int]("rank")))
    val viaFixed = GraphQueries.alleleFeatures(graph, "HLA-A*01:01:01:01")
      .collect().map(r => (r.getAs[String]("term"), r.getAs[Int]("rank")))
    assert(viaMotif.toSeq == viaFixed.toSeq && viaMotif.length == 17)
    // attributes of every hop surface with the e{i}_ prefix
    val cols = Motif.path(graph,
      Seq(Motif.Hop("HAS_IPD_ACCESSION"))).columns.toSet
    assert(cols == Set("n0", "n1", "e0_release"))
  }

  test("Motif.varPath: *min..max expansion, either-direction, cycle guard") {
    import graft.graph.Motif
    import spark.implicits._
    // chain a-b-c-d, directed triangle x-y-z-x, diamond p-(q1|q2)-r
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("x", "y"), ("y", "z"), ("z", "x"),
      ("p", "q1"), ("p", "q2"), ("q1", "r"), ("q2", "r"))
      .toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
        .toMap
    val dir = m(Motif.varPath(edges, "src", "dst", 1, 3))
    assert(dir(("a", "d", 3)) == 1L)
    assert(dir(("a", "c", 2)) == 1L)
    assert(dir(("p", "r", 2)) == 2L, "two simple paths via q1/q2")
    assert(!dir.contains(("x", "x", 3)),
      "visited guard: a cycle must not close back onto its start")
    val und = m(Motif.varPath(edges, "src", "dst", 2, 2, either = true))
    assert(und(("d", "b", 2)) == 1L, "either-direction hops")
    assert(!und.contains(("a", "a", 2)), "backtrack a-b-a blocked")
    assert(Motif.varPath(edges, "src", "dst", 2, 3)
      .where(col("len") === 1).count() == 0, "minLen prunes")
    // trail mode (edge-distinct): closed walks over fresh edges count
    val trailDir = m(Motif.varPath(edges, "src", "dst", 1, 3,
      edgeDistinct = true))
    assert(trailDir(("x", "x", 3)) == 1L,
      "trail uniqueness admits the directed triangle's closed walk")
    assert(trailDir(("p", "r", 2)) == 2L, "diamond multiplicity kept")
    val trailUnd = m(Motif.varPath(edges, "src", "dst", 1, 3,
      either = true, edgeDistinct = true))
    assert(!trailUnd.contains(("a", "a", 2)),
      "an undirected relationship's two orientations are ONE edge: " +
        "immediate backtrack a-b-a stays blocked")
    assert(trailUnd(("x", "x", 3)) == 2L,
      "either-direction triangle closes both ways")
  }

  test("varPath: differential vs exhaustive enumeration, random digraph, " +
      "all four (either × uniqueness) modes") {
    import graft.graph.Motif
    import spark.implicits._
    // Seeded random digraph, every mode checked against a driver-side
    // DFS that enumerates the exact walks the semantics admit — the
    // strongest guard against a guard/orientation slip that the fixed
    // fixtures happen not to exercise.
    val rnd = new scala.util.Random(42)
    val n = 10
    val edges0 = (for {
      a <- 0 until n; b <- 0 until n
      if a != b && rnd.nextDouble() < 0.22
    } yield (s"v$a", s"v$b")).distinct.toSeq
    val df = edges0.toDF("src", "dst")
    val verts = edges0.flatMap(e => Seq(e._1, e._2)).distinct
    def enumerate(either: Boolean, edgeDistinct: Boolean)
        : Map[(String, String, Int), Long] = {
      val dir = if (either)
        (edges0 ++ edges0.map(e => (e._2, e._1))).distinct else edges0
      val adj = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      def ekey(a: String, b: String) =
        if (either) { if (a < b) (a, b) else (b, a) } else (a, b)
      val counts = scala.collection.mutable.Map
        .empty[(String, String, Int), Long].withDefaultValue(0L)
      def dfs(start: String, cur: String, vn: Set[String],
          ve: Set[(String, String)], len: Int): Unit = {
        if (len > 0) counts((start, cur, len)) += 1
        if (len < 4) adj.getOrElse(cur, Nil).foreach { nxt =>
          val ok = if (edgeDistinct) !ve(ekey(cur, nxt)) else !vn(nxt)
          if (ok) dfs(start, nxt, vn + nxt, ve + ekey(cur, nxt), len + 1)
        }
      }
      verts.foreach(v => dfs(v, v, Set(v), Set.empty, 0))
      counts.toMap
    }
    for (either <- Seq(false, true); ed <- Seq(false, true)) {
      val got = Motif
        .varPath(df, "src", "dst", 1, 4, either = either, edgeDistinct = ed)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2)) -> r.getLong(3))
        .toMap
      assert(got == enumerate(either, ed), s"either=$either edgeDistinct=$ed")
    }
  }

  test("IPD_Allele G/lg from groups rows; lgx built but never loaded (J2)") {
    import graft.gfe.ArdReduction
    val r1 = GfeBuild.run(spark, ImgtFlatFile.fromText(spark,
      ImgtFlatFile.resourceText("/graft/hla.3560.dat")), "3560",
      ard = Some(ArdReduction.fromNames(
        ImgtFlatFile.fromText(spark,
          ImgtFlatFile.resourceText("/graft/hla.3560.dat"))
          .toDF().select(split(col("description"), ",")
            .getItem(0).as("hla_name")))))
    // lgx rows exist in the BUILD relation (constants.py:30)...
    assert(r1.allGroups.where(col("ard_name") === "lgx" &&
      col("ard_id") =!= "").count() > 0)
    val g = GraphLoad.loadAll(spark,
      Seq(("3560", r1.gfeSequences, r1.allFeatures, r1.allGroups)))
    // ...but the LOADED vertex only carries G and lg (load.cyp:66-83)
    assert(g.ipdAllele.columns.contains("G"))
    assert(g.ipdAllele.columns.contains("lg"))
    assert(!g.ipdAllele.columns.contains("lgx"))
    val a1 = g.ipdAllele.where(col("name") === "HLA-A*01:01:01:01")
      .collect().head
    assert(a1.getAs[String]("G") == "HLA-A*01:01:01G")
    assert(a1.getAs[String]("lg") == "HLA-A*01:01g")
    // 2-field allele stays unreduced → null group ids (left join miss)
    val a2 = g.ipdAllele.where(col("name") === "HLA-A*01:02").collect().head
    assert(a2.getAs[String]("G") == null)
  }

  test("graph snapshot round-trip (S10)") {
    val dir = java.nio.file.Files.createTempDirectory("graphstore").toString
    GraphLoad.write(graph, dir)
    val restored = GraphLoad.read(spark, dir)
    assert(restored.gfe.count() == graph.gfe.count())
    assert(restored.hasIpdAllele.count() == graph.hasIpdAllele.count())
  }

  test("locus-partitioned store prunes partitions for a locus filter") {
    // The hot Feature/Sequence tables land hive-partitioned by locus;
    // a locus-filtered read must resolve against the directory layout
    // (PartitionFilters), never scan other loci's files — the layout
    // decision that turns a full-table scan into a single-partition
    // read at 100 TB.
    val dir = java.nio.file.Files.createTempDirectory("graphstore_p").toString
    GraphLoad.write(graph, dir)
    val loci = spark.read.parquet(s"$dir/Feature")
      .select("locus").distinct().collect().map(_.getString(0)).sorted
    assert(loci.length > 1, "fixture must span multiple loci")
    val df = spark.read.parquet(s"$dir/Feature")
      .where(col("locus") === loci.head)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan.take(1500))
    assert(plan.contains(s"isnotnull(locus") ||
      plan.contains("locus#"), "locus predicate must be a partition filter")
    // the scan must NOT re-check locus as a row predicate (it is
    // resolved at the directory level): data/pushed filter lists are
    // empty, and the read schema omits the partition column entirely
    assert(plan.contains("DataFilters: []") &&
      plan.contains("PushedFilters: []"),
      s"locus must prune partitions, not filter rows: ${plan.take(1500)}")
    assert(plan.linesIterator.find(_.contains("ReadSchema"))
      .exists(!_.contains("locus:")),
      "partition column must not be read from data files")
  }
}
