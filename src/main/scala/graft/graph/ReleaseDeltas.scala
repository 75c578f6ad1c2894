package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ONE derivation of a release's per-table MERGE deltas — the
  * load.cyp row semantics (gfe-db/database/neo4j/cypher/load.cyp) as
  * release-sized frames, consumed by the one incremental apply,
  * [[GraphStore.applyRelease]] (bucket-local MERGE). What a release
  * *means* — which rows, which keys, which payload columns — is
  * defined exactly once here, beside [[MergePolicies]], and the
  * store fold is spec-pinned equal to [[GraphLoad.loadAll]]'s refold
  * of the same releases.
  *
  * Every frame is release-sized (≤ tens of thousands of rows) and
  * broadcastable; nothing here touches existing graph state.
  */
private[graph] final class ReleaseDeltas(
    seqs: DataFrame, featRel: DataFrame, groups: DataFrame) {

  import ReleaseDeltas._

  /** GFE vertices: (name, locus), create-only downstream. */
  val gfeDelta: DataFrame =
    seqs.select(col("gfe_name").as("name"), col("locus"))
      .dropDuplicates("name")

  /** Sequence vertices: per-key overwrite downstream (ON MATCH SET,
    * load.cyp:23-31). */
  val seqDelta: DataFrame =
    seqs.select(col("gfe_name").as("name"), col("locus"),
      col("sequence"), col("length"), col("seq_id"))
      .dropDuplicates("name")

  /** Feature vertices keyed by the full 5-tuple, create-only. */
  val featDelta: DataFrame =
    featRel.select(featureKeys.map(col): _*).dropDuplicates(featureKeys)

  /** One ARD family's (name, ard_id) rows for this release. */
  def ardNew(ardName: String): DataFrame =
    groups.where(col("ard_name") === ardName)
      .select(col("hla_name").as("name"), col("ard_id"))
      .dropDuplicates("name")

  /** IPD_Allele delta: every allele this release names (its seqs rows
    * ∪ its groups rows — a groups row may update an allele the
    * release does not re-list, load.cyp:63-83's ON MATCH), with the
    * conditional G/lg payload as `G_new`/`lg_new` (null = this
    * release carries no groups value → keep existing). A groups-only
    * name that never appeared in any release's seqs has gene null
    * and is dropped by the consumer's merge (matching loadAll's
    * base-from-seqs join). */
  val alleleDelta: DataFrame = {
    val alleleNames = seqs
      .select(col("hla_name").as("name"), col("locus").as("gene"))
      .dropDuplicates("name")
    alleleNames
      .unionByName(groups.select(col("hla_name").as("name"))
        .dropDuplicates("name")
        .join(alleleNames.select("name"), Seq("name"), "left_anti")
        .withColumn("gene", lit(null).cast("string")))
      .join(ardNew("G").withColumnRenamed("ard_id", "G_new"),
        Seq("name"), "left")
      .join(ardNew("lg").withColumnRenamed("ard_id", "lg_new"),
        Seq("name"), "left")
  }

  /** IPD_Accession vertices: (name), create-only. */
  val accDelta: DataFrame =
    seqs.select(col("acc_name").as("name")).dropDuplicates("name")

  /** HAS_IPD_ALLELE accumulate rows: (src, dst, new_rels) — the
    * release ints this release adds to the edge's sorted set
    * (load.cyp:93-95). */
  val relsDelta: DataFrame = seqs
    .select(col("gfe_name").as("src"), col("hla_name").as("dst"),
      regexp_replace(col("imgt_release"), "\\.", "").cast("int").as("rel"))
    .groupBy("src", "dst")
    .agg(collect_set(col("rel")).as("new_rels"))

  /** HAS_IPD_ACCESSION edges: first-write-wins downstream. */
  val hasAccDelta: DataFrame =
    seqs.select(col("gfe_name").as("src"), col("acc_name").as("dst"),
      col("imgt_release").as("release")).dropDuplicates("src", "dst")

  /** SUBMITTED edges: create-only on dst (an existing dst keeps its
    * first submit_date). */
  def submittedDelta(submitDate: Column): DataFrame =
    gfeDelta.select(lit("IPD-IMGT").as("src"), col("name").as("dst"),
      submitDate.as("submit_date"))

  /** HAS_FEATURE edges keyed by the 5-tuple, create-only. */
  val hasFeatDelta: DataFrame =
    featRel.select(col("gfe_name").as("src"), col("locus"),
      col("rank"), col("term"), col("accession"))
      .dropDuplicates(hasFeatureKeys)

  /** HAS_SEQUENCE probe pairs: (src, seq_id) to resolve against the
    * Sequence state (the MATCH of load.cyp:119, hashed per SURVEY §4). */
  val pairsDelta: DataFrame =
    seqs.select(col("gfe_name").as("src"), col("seq_id"))
      .dropDuplicates("src", "seq_id")
}

private[graph] object ReleaseDeltas {
  val featureKeys: Seq[String] =
    Seq("locus", "rank", "term", "accession", "sequence")
  val hasFeatureKeys: Seq[String] =
    Seq("src", "locus", "rank", "term", "accession")
}

/** The load.cyp ON CREATE / ON MATCH policies as frame-level merges
  * `(state, delta) => merged` — defined once, applied by
  * [[GraphStore.applyRelease]] to dirty-bucket slices (sound
  * bucket-locally because every policy is key-local and the bucket
  * function is a pure function of the merge key). Within one release,
  * rows that tie on a key are assumed to carry the same payload —
  * the assumption [[GraphLoad.loadAll]]'s load_seq-ordered windows
  * make too, since the rows of one release share a load_seq. */
private[graph] object MergePolicies {

  /** ON CREATE only: existing keys win, new keys append. */
  def createOnly(keys: Seq[String])(
      state: DataFrame, delta: DataFrame): DataFrame =
    state.unionByName(
      delta.dropDuplicates(keys).join(
        state.select(keys.map(col): _*), keys, "left_anti"))

  /** ON MATCH SET: per-key overwrite (load.cyp:23-31). */
  def overwrite(keys: Seq[String])(
      state: DataFrame, delta: DataFrame): DataFrame =
    delta.dropDuplicates(keys).unionByName(
      state.join(delta.select(keys.map(col): _*), keys, "left_anti"))

  /** IPD_Allele: gene create-only; G/lg overwritten only when the
    * delta carries a groups value (delta columns G_new/lg_new,
    * load.cyp:63-83's FOREACH-CASE). A delta row whose name is
    * neither in state nor in this release's seqs (gene null both
    * sides — a groups-only name) is dropped, matching
    * [[GraphLoad.loadAll]]'s base-from-seqs join. */
  def mergeAllele(state: DataFrame, delta: DataFrame): DataFrame =
    state
      .select(col("name"), col("gene").as("gene_old"),
        col("G").as("G_old"), col("lg").as("lg_old"))
      .join(delta.dropDuplicates("name"), Seq("name"), "full_outer")
      .select(col("name"),
        coalesce(col("gene_old"), col("gene")).as("gene"),
        coalesce(col("G_new"), col("G_old")).as("G"),
        coalesce(col("lg_new"), col("lg_old")).as("lg"))
      .where(col("gene").isNotNull)

  /** HAS_IPD_ALLELE: sorted-set accumulate of the edge's release
    * ints (delta column new_rels, load.cyp:93-95). */
  def mergeReleases(state: DataFrame, delta: DataFrame): DataFrame = {
    val emptyInts = array().cast("array<int>")
    state.join(delta, Seq("src", "dst"), "full_outer")
      .select(col("src"), col("dst"),
        array_sort(array_distinct(concat(
          coalesce(col("releases"), emptyInts),
          coalesce(col("new_rels"), emptyInts)))).as("releases"))
  }
}
