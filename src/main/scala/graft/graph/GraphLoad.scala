package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gfe.GfeConstants

/** The load plane (SURVEY.md §3.2 "Spark shape"): MERGE the build
  * relations into 6 vertex + 5 edge tables with the exact ON CREATE /
  * ON MATCH policies of gfe-db/database/neo4j/cypher/load.cyp.
  *
  * Per-label tables (GraphFrames convention, one DataFrame per label —
  * schemas differ) rather than a single vertices table.
  *
  * Merge policies (SURVEY §7.4 hard part 2):
  *  - GFE: key `name`, locus create-only (load.cyp:7)
  *  - Sequence: key `name`=gfe_name, props overwrite (load.cyp:23-31)
  *  - Feature: key = all five columns (load.cyp:40-46)
  *  - IPD_Allele: key `name`, gene create-only; G/lg overwrite from
  *    groups rows (load.cyp:54-55, 63-83; lgx never loaded)
  *  - IPD_Accession: key `name` (load.cyp:56-58)
  *  - HAS_IPD_ALLELE.releases: sorted-set accumulate (load.cyp:93-95)
  *  - HAS_IPD_ACCESSION.release: first-write-wins (load.cyp:96-97)
  *  - SUBMITTED.submit_date: first-write-wins date (load.cyp:108-109)
  *
  * Release ordering: the reference serializes loads (MaxConcurrency 1,
  * asl.json:153); here that is an ordered fold over releases —
  * required for first-write-wins and accumulate semantics.
  *
  * Scale design: every MERGE is a groupBy/dropDuplicates on the
  * natural key — one shuffle per table, on fixed-width keys (the
  * long-string HAS_SEQUENCE join of load.cyp:119 is keyed on the
  * hashed seq_id instead, per SURVEY §4). This is the whole-history
  * refold; merging one release into an existing graph is
  * [[GraphStore.applyRelease]], the one incremental MERGE (over
  * key-bucketed storage), spec-pinned equal to this refold.
  */
object GraphLoad {

  final case class Graph(
      gfe: DataFrame,
      sequence: DataFrame,
      feature: DataFrame,
      ipdAllele: DataFrame,
      ipdAccession: DataFrame,
      submitter: DataFrame,
      hasIpdAllele: DataFrame,
      hasIpdAccession: DataFrame,
      submitted: DataFrame,
      hasSequence: DataFrame,
      hasFeature: DataFrame) {
    def vertexTables: Map[String, DataFrame] = Map(
      "GFE" -> gfe, "Sequence" -> sequence, "Feature" -> feature,
      "IPD_Allele" -> ipdAllele, "IPD_Accession" -> ipdAccession,
      "Submitter" -> submitter)
    def edgeTables: Map[String, DataFrame] = Map(
      "HAS_IPD_ALLELE" -> hasIpdAllele,
      "HAS_IPD_ACCESSION" -> hasIpdAccession,
      "SUBMITTED" -> submitted,
      "HAS_SEQUENCE" -> hasSequence,
      "HAS_FEATURE" -> hasFeature)
  }

  /** The singleton Submitter node (load.cyp:11-16). */
  def submitterDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("IPD", "IPD-IMGT", "https://www.ebi.ac.uk/ipd/imgt/hla/", "<email>"))
      .toDF("institution", "name", "url", "email")
  }

  /** First-writer-wins per key under load order (apoc batches preserve
    * input order within a release; across releases order = fold order,
    * tracked by the monotonically increasing `load_seq` column). */
  private def firstWins(df: DataFrame, keys: Seq[String],
      order: String = "load_seq"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(order))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", order)
  }

  private def lastWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("load_seq").desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn", "load_seq")
  }

  /** Load an ordered sequence of releases. Each entry is
    * (compactRelease, gfeSequences, allFeatures, allGroups). */
  def loadAll(
      spark: SparkSession,
      releases: Seq[(String, DataFrame, DataFrame, DataFrame)],
      submitDate: java.sql.Date = java.sql.Date.valueOf("2026-01-01")): Graph = {
    require(releases.nonEmpty, "at least one release required")

    // Tag every relation row with its fold position → all policies
    // become window/agg choices instead of an iterative loop. (The
    // reference's serial fold is semantics, not an execution need.)
    def tagged(pick: ((String, DataFrame, DataFrame, DataFrame)) => DataFrame): DataFrame =
      releases.zipWithIndex.map { case (r, i) =>
        pick(r).withColumn("load_seq", lit(i))
      }.reduce(_ unionByName _)

    // Each input relation feeds 2-4 derived tables; cache them so the
    // upstream build pipeline executes once, not per derived table.
    val seqs = tagged(_._2).cache()
    val featRel = tagged(_._3).cache()
    val groups = tagged(_._4).cache()
    // Populate the shared caches NOW, serially. The derived tables are
    // materialized as concurrent jobs (write / Bench), and a lazily-
    // populated cache under concurrent first access is a stampede:
    // every job blocks on the same BlockManager partition locks while
    // the upstream build pipeline computes, and per-table times become
    // scheduling noise (measured 6 s vs 28 s for identical work). One
    // count each runs the upstream exactly once, then the fan-out
    // reads hot cache.
    seqs.count(); featRel.count(); groups.count()

    // ---- vertices ----
    val gfe = firstWins(seqs.select(col("gfe_name").as("name"),
      col("locus"), col("load_seq")), Seq("name"))

    val sequence = lastWins(seqs.select(col("gfe_name").as("name"),
      col("locus"), col("sequence"), col("length"), col("seq_id"),
      col("load_seq")), Seq("name"))

    val feature = featRel
      .select("locus", "rank", "term", "accession", "sequence")
      .dropDuplicates("locus", "rank", "term", "accession", "sequence")

    // IPD_Allele: name + create-only gene, then G/lg overwritten by the
    // latest groups row of that ard_name (load.cyp:66-83; FOREACH-CASE
    // conditional update ≡ pivot of filtered groups rows).
    val ipdBase = firstWins(seqs.select(col("hla_name").as("name"),
      col("locus").as("gene"), col("load_seq")), Seq("name"))
    // A groups row only updates an EXISTING IPD_Allele node — the
    // reference MATCHes the allele (load.cyp:63), it never creates
    // one from a groups row — so a row arriving in a release BEFORE
    // the allele's first seqs listing is a no-op. The incremental
    // paths already behave this way (MergePolicies.mergeAllele drops
    // gene-null rows); restricting each ard family to rows at or
    // after the allele's first listing keeps the refold in lockstep
    // with the fold on such input (spec: "groups row preceding the
    // allele's first listing is a MATCH no-op"). One extra min-agg
    // over the already-cached seqs; the join side is groups-sized.
    val firstListed = seqs.select(col("hla_name").as("name"), col("load_seq"))
      .groupBy("name").agg(min(col("load_seq")).as("_first_listed"))
    def ardCol(ardName: String): DataFrame = lastWins(
      groups.where(col("ard_name") === ardName)
        .select(col("hla_name").as("name"), col("ard_id"), col("load_seq"))
        .join(firstListed, Seq("name"))
        .where(col("load_seq") >= col("_first_listed"))
        .drop("_first_listed"),
      Seq("name")).withColumnRenamed("ard_id", ardName)
    val ipdAllele = ipdBase
      .join(ardCol("G"), Seq("name"), "left")
      .join(ardCol("lg").withColumnRenamed("lg", "lg_id"), Seq("name"), "left")
      .withColumnRenamed("lg_id", "lg")

    val ipdAccession = seqs.select(col("acc_name").as("name"))
      .dropDuplicates("name")

    val submitter = submitterDf(spark)

    // ---- edges ----
    // HAS_IPD_ALLELE: accumulate sorted distinct compact releases
    // (load.cyp:93-95; histogram query casts to int, so store ints).
    val hasIpdAllele = seqs
      .select(col("gfe_name").as("src"), col("hla_name").as("dst"),
        regexp_replace(col("imgt_release"), "\\.", "").cast("int").as("rel"))
      .groupBy("src", "dst")
      .agg(array_sort(collect_set(col("rel"))).as("releases"))

    // HAS_IPD_ACCESSION: first-write-wins release (dotted form).
    val hasIpdAccession = firstWins(
      seqs.select(col("gfe_name").as("src"), col("acc_name").as("dst"),
        col("imgt_release").as("release"), col("load_seq")),
      Seq("src", "dst"))

    // SUBMITTED: Submitter singleton × each GFE (J7), create-only date.
    val submitted = gfe.select(lit("IPD-IMGT").as("src"),
      col("name").as("dst"), lit(submitDate).as("submit_date"))

    // HAS_SEQUENCE: the reference joins on the full sequence string
    // (load.cyp:119); we key on seq_id (hash) — SURVEY §4 row 2 — and
    // dst is Sequence.name (=gfe_name of the node holding that string).
    val seqNodesById = sequence.select(col("seq_id"),
      col("name").as("dst"))
    val hasSequence = seqs.select(col("gfe_name").as("src"), col("seq_id"))
      .join(seqNodesById, Seq("seq_id"))
      .select("src", "dst").dropDuplicates("src", "dst")

    // HAS_FEATURE: composite natural-key join (load.cyp:130-135).
    val hasFeature = featRel
      .select(col("gfe_name").as("src"), col("locus"), col("rank"),
        col("term"), col("accession"))
      .dropDuplicates("src", "locus", "rank", "term", "accession")

    Graph(gfe, sequence, feature, ipdAllele, ipdAccession, submitter,
      hasIpdAllele, hasIpdAccession, submitted, hasSequence, hasFeature)
  }

  /** Tables partitioned on their pruning key in the store: the big
    * per-locus tables partition by locus so locus-scoped queries
    * (the common traversal anchor) read one directory. */
  private val storePartitioning = Map(
    "Feature" -> "locus", "Sequence" -> "locus")

  /** S10: parquet snapshot of the graph (dump ≡ write, restore ≡ read). */
  def write(g: Graph, dir: String): Unit = {
    // The 11 table writes are independent jobs — submit them
    // concurrently so the scheduler overlaps their (mostly tiny)
    // stages instead of paying 11 sequential job latencies. On a
    // cluster this is also the right shape: each write saturates
    // different executors.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val jobs = (g.vertexTables ++ g.edgeTables).map { case (name, df) =>
      Future {
        val w = df.write.mode("overwrite")
        storePartitioning.get(name).fold(w)(c => w.partitionBy(c))
          .parquet(s"$dir/$name")
      }
    }
    jobs.foreach(Await.result(_, Duration.Inf))
  }

  /** Bucketed variant of the store for the hot traversal tables: GFE
    * keyed by `name` and HAS_FEATURE keyed by `src` land in the same
    * bucket layout, so the anchor join of every traversal
    * (GFE ⨝ HAS_FEATURE) is a zero-shuffle sort-merge join — the
    * Spark equivalent of the co-located storage a graph engine keeps.
    * Tables are registered as `<prefix>_gfe` / `<prefix>_has_feature`
    * in the session catalog (bucketing metadata lives in the
    * catalog, not the parquet files). */
  def writeBucketed(g: Graph, prefix: String, buckets: Int = 8): Unit = {
    g.gfe.write.mode("overwrite")
      .bucketBy(buckets, "name").sortBy("name")
      .saveAsTable(s"${prefix}_gfe")
    g.hasFeature.write.mode("overwrite")
      .bucketBy(buckets, "src").sortBy("src")
      .saveAsTable(s"${prefix}_has_feature")
  }

  def read(spark: SparkSession, dir: String): Graph = {
    def t(n: String) = spark.read.parquet(s"$dir/$n")
    Graph(t("GFE"), t("Sequence"), t("Feature"), t("IPD_Allele"),
      t("IPD_Accession"), t("Submitter"), t("HAS_IPD_ALLELE"),
      t("HAS_IPD_ACCESSION"), t("SUBMITTED"), t("HAS_SEQUENCE"),
      t("HAS_FEATURE"))
  }
}
