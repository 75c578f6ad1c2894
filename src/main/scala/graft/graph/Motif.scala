package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Generic ad-hoc traversal — the Cypher-path fragment of the
  * reference's ad-hoc query surface (gfe-db/database/scripts/
  * Makefile:74-89, database/template.yaml:262-263) as an ordered fold
  * of equi-joins over the per-label edge tables. The fixed-shape
  * functions in [[GraphQueries]] are special cases; this is the API a
  * user reaches for when their MATCH pattern isn't one of them.
  *
  * A hop walks `src→dst` (or `dst→src` with `reverse = true`). Node
  * keys surface as columns `n0..nK`; the attributes of hop i surface
  * prefixed `e{i}_`. Edge tables whose far end is a composite natural
  * key (HAS_FEATURE: the Feature node key is its attribute tuple,
  * load.cyp:130-135) get a synthesized `:`-joined key column, the same
  * encoding the PageRank bipartite projection uses.
  *
  * Scale shape: each hop is one equi-join on a node key — Catalyst
  * reorders/broadcasts as sizes dictate, and an anchored pattern
  * (filter on `n0`) prunes before the first join, so a k-hop expansion
  * is k shuffles at worst, zero on the bucketed store's anchor join.
  */
object Motif {

  final case class Hop(edge: String, reverse: Boolean = false)

  def path(g: GraphLoad.Graph, hops: Seq[Hop]): DataFrame = {
    require(hops.nonEmpty, "at least one hop required")
    def hopDf(h: Hop, i: Int): DataFrame = {
      val t = g.edgeTables(h.edge)
      val attrCols = t.columns.filterNot(c => c == "src" || c == "dst")
      val dstExpr =
        if (t.columns.contains("dst")) col("dst")
        else concat_ws(":", attrCols.map(col).toIndexedSeq: _*)
      val (from, to) = if (h.reverse) (dstExpr, col("src"))
        else (col("src"), dstExpr)
      t.select(Seq(from.as(s"n$i"), to.as(s"n${i + 1}")) ++
        attrCols.map(c => col(c).as(s"e${i}_$c")): _*)
    }
    hops.zipWithIndex.map { case (h, i) => hopDf(h, i) }
      .reduceLeft { (acc, next) =>
        acc.join(next, Seq(next.columns.head))
      }
  }

  /** [[path]] against a STANDING [[GraphStore]] instead of in-memory
    * edge DataFrames: every hop's edge rows are served by
    * [[GraphStore.probe]] on the hop table's traversal-anchor bucket
    * key, so an anchored k-hop pattern over a 100 TB store reads a
    * handful of bucket files per hop and never scans an edge table —
    * the generic form of the hand-chained gfe_incremental_2hop
    * composition (the reference's ad-hoc traversal shape,
    * docs/source/reference.rst:34-37, against the standing store).
    *
    * Direction is the store's layout contract: a `reverse` hop enters
    * the edge by `dst` (the dst-anchored tables — HAS_IPD_ALLELE /
    * HAS_IPD_ACCESSION / SUBMITTED), a forward hop by `src` (the
    * src-anchored HAS_FEATURE / HAS_SEQUENCE). A hop keyed against
    * the wrong anchor fails LOUDLY inside probe (hashing the wrong
    * key would silently miss rows). Column contract matches [[path]]:
    * node keys `n0..nK`, hop-i attributes `e{i}_*`; a composite far
    * end (HAS_FEATURE forward) surfaces as the `:`-joined key, its
    * parts still available un-joined as `e{i}_locus` etc. for a
    * follow-up vertex probe.
    *
    * `anchors`: ONE key column, probe-sized (an anchor list — probe
    * collects it to the driver); each hop's frontier is the previous
    * hop's far-end key set, also probe-sized under anchored fan-out.
    * Hops run sequentially by construction (hop i's frontier is data
    * from hop i−1) — at scale each hop is a few bucket-file reads,
    * so the chain's cost is k × probe, not k × scan. */
  def pathAnchored(spark: org.apache.spark.sql.SparkSession, dir: String,
      anchors: DataFrame, hops: Seq[Hop],
      asOf: Option[Int] = None): DataFrame = {
    require(hops.nonEmpty, "at least one hop required")
    require(anchors.columns.length == 1,
      s"anchors must be a single key column, got " +
        s"(${anchors.columns.mkString(",")})")
    var acc = anchors.select(col(anchors.columns.head).as("n0"))
      .dropDuplicates("n0")
    hops.zipWithIndex.foreach { case (h, i) =>
      val enterBy = if (h.reverse) "dst" else "src"
      val frontier = acc.select(col(s"n$i").as(enterBy))
      // asOf threads into EVERY hop's probe: "run this traversal as
      // release k saw the graph" is one marker pin, the anchored form
      // of readAt — no hand-chaining of probes required
      val t = GraphStore.probe(spark, dir, h.edge, frontier,
        Seq(enterBy), asOf)
      val attrCols = t.columns.filterNot(c => c == "src" || c == "dst")
      val farExpr =
        if (h.reverse) col("src")
        else if (t.columns.contains("dst")) col("dst")
        else concat_ws(":", attrCols.map(col).toIndexedSeq: _*)
      val hopDf = t.select(
        Seq(col(enterBy).as(s"n$i"), farExpr.as(s"n${i + 1}")) ++
          attrCols.map(c => col(c).as(s"e${i}_$c")): _*)
      acc = acc.join(hopDf, Seq(s"n$i"))
    }
    acc
  }

  /** Variable-length expansion — the Cypher `-[*min..max]-` /
    * `-[*min..max]->` idiom (template.yaml:240-264 exposes full
    * Cypher; reference.rst:34-37's documented traversal is written
    * with undirected edges), which [[path]]'s fixed-hop fold cannot
    * express. Implemented as the union of fixed-k expansions with a
    * visited guard, in either of Cypher's two uniqueness semantics:
    *
    *  - `edgeDistinct = false` (default): SIMPLE paths — no vertex
    *    revisited; the tighter rule, and the one that bounds state
    *    at 100 TB (visited arrays stay ≤ max+1 node ids).
    *  - `edgeDistinct = true`: TRAILS — Cypher's native
    *    per-RELATIONSHIP uniqueness (`-[*1..k]-` proper): a path may
    *    return to an earlier vertex over fresh edges, but no edge is
    *    traversed twice; with `either = true` an edge's two
    *    orientations are ONE relationship (the visited mark is the
    *    canonical least‖greatest endpoint pair), exactly Cypher's
    *    undirected-traversal rule. On the gfe graph's multipartite
    *    shape the two semantics coincide for max ≤ diameter; on
    *    cyclic subgraphs trails additionally count closed walks
    *    (a triangle's x–y–z–x at len 3).
    *
    * Self-loops are dropped in both modes before expansion.
    *
    * Returns one row per (n_start, n_end, len) with the path count
    * under the chosen uniqueness — the reachability-with-multiplicity
    * relation ad-hoc traversals consume.
    *
    * Scale shape: hop k is ONE equi-join of the length-(k−1) frontier
    * with the edge list on the frontier's end key, guarded by an
    * `array_contains` on a ≤max-element visited array — shuffle keys
    * are single node ids, frontier rows carry O(max) state, and an
    * anchored pattern (filter n_start before expanding) prunes every
    * downstream hop. No transitive-closure materialization.
    */
  def varPath(edges: DataFrame, src: String, dst: String,
      minLen: Int, maxLen: Int, either: Boolean = false,
      edgeDistinct: Boolean = false): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen, "need 1 <= minLen <= maxLen")
    val e0 = edges
      .select(col(src).cast("string").as("a"), col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val e = (if (either) e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      else e0).distinct()
    varExpand(e, (_, _) => e, minLen, maxLen, either, edgeDistinct)
  }

  /** The ONE expansion core both [[varPath]] and [[varPathAnchored]]
    * run — the uniqueness semantics live here once, so the two
    * entrypoints' spec-pinned count equality is structural, not
    * copy-maintained. `firstEdges` seeds the length-1 frontier;
    * `stepEdges(frontier, last)` yields the (a, b) edge pairs incident
    * to the frontier's end keys (`n_end`), `last` telling whether this
    * is the final hop (the whole-table closure ignores both; the
    * store-served path reads the pairs for the frontier's keys).
    *
    * Trail mode's visited mark is the traversed RELATIONSHIP: the
    * canonical endpoint pair when either-direction traversal folds
    * both orientations into one relationship, the ordered pair when
    * direction distinguishes them. The mark is a two-field STRUCT,
    * not a delimited concat — collision-free for ARBITRARY node ids
    * (a separator-based key would silently merge distinct edges whose
    * ids contain the separator). */
  private def varExpand(firstEdges: DataFrame,
      stepEdges: (DataFrame, Boolean) => DataFrame,
      minLen: Int, maxLen: Int, either: Boolean,
      edgeDistinct: Boolean): DataFrame = {
    def ekey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      if (either) struct(least(x, y).as("u"), greatest(x, y).as("v"))
      else struct(x.as("u"), y.as("v"))
    val seed =
      if (edgeDistinct) array(ekey(col("a"), col("b")))
      else array(col("a"), col("b"))
    var frontier = firstEdges.select(
      col("a").as("n_start"), col("b").as("n_end"),
      seed.as("visited"), lit(1).as("len"))
    var out = frontier
    for (l <- 2 to maxLen) {
      val step = stepEdges(frontier, l == maxLen)
        .select(col("a").as("_sa"), col("b").as("_sb"))
      val mark =
        if (edgeDistinct) ekey(col("_sa"), col("_sb")) else col("_sb")
      frontier = frontier
        .join(step, col("n_end") === col("_sa"))
        .where(!array_contains(col("visited"), mark))
        .select(col("n_start"), col("_sb").as("n_end"),
          concat(col("visited"), array(mark)).as("visited"),
          lit(l).as("len"))
      out = out.unionByName(frontier)
    }
    out.where(col("len") >= minLen)
      .groupBy("n_start", "n_end", "len")
      .agg(count(lit(1)).as("n_paths"))
  }

  /** [[varPath]] against a STANDING [[GraphStore]] — the anchored
    * variable-length idiom (`MATCH (a)-[*1..k]-(b) WHERE a.name IN …`)
    * served from the store without ever scanning an edge table when
    * the layout allows it. Each expansion step fetches only the edges
    * incident to the CURRENT frontier: an orientation entering a
    * table by its persisted traversal-anchor key (or its dual-anchor
    * twin's) is a bucket-pruned [[GraphStore.probe]] read (a handful
    * of bucket files at any scale); an orientation entering by the
    * other end reads every live bucket under the same key filter
    * ([[GraphStore.probeJoin]]'s I/O class — exact, but no file
    * pruning: the store's anchor orientation is the hot direction by
    * design, and the fallback's cost is stated, not hidden).
    * Uniqueness semantics, self-loop handling, output relation
    * (n_start, n_end, len, n_paths) and counts are EXACTLY
    * [[varPath]]'s restricted to `n_start ∈ anchors` — the store
    * serving is an I/O strategy, not a semantics change (spec-pinned).
    *
    * Job shape: each hop's frontier key list is collected to the
    * driver once (the anchors with no job when they are a local
    * frame; hop 2's keys come from the collected hop-1 edges, also
    * with none), and every orientation's read is built from that list
    * with no job. Each hop's incident edges are read once: every hop
    * but the last is collected as distinct (a, b) pairs into a local
    * relation, and the last hop's read stays in the returned frame. A
    * 1..2-hop expansion therefore runs one job to build and a few to
    * collect. `anchors`: one key column, probe-sized — each hop's key
    * list and every non-final hop's edge pairs sit on the driver. A
    * COMPOSITE far end (HAS_FEATURE: no dst — the far node key is its
    * attribute tuple) gets [[varPath]]'s own ':'-joined encoding on
    * exit, and reverse entry splits the frontier key back into its
    * parts, read bucket-pruned from the dual-anchor twin when the
    * store keeps one — so label-free variable-length expansion spans
    * feature edges against the standing store too. Node keys are
    * compared as strings, matching [[varPath]]'s cast; the encoding
    * shares varPath's caveat (values must not contain ':').
    *
    * `asOf = Some(marker)` pins EVERY step's read (pruned and full
    * alike) to one retained release marker — time-traveled
    * expansion, equal by construction to running the same expansion
    * over [[GraphStore.readAt]]'s tables. Layout facts (bucket keys,
    * twins, schema) are version-independent: they are fixed at
    * init/rebucket, and a rebucket resets the marker axis. */
  def varPathAnchored(spark: org.apache.spark.sql.SparkSession,
      dir: String, anchors: DataFrame, labels: Seq[String],
      minLen: Int, maxLen: Int, either: Boolean = false,
      edgeDistinct: Boolean = false,
      asOf: Option[Int] = None): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen, "need 1 <= minLen <= maxLen")
    require(anchors.columns.length == 1,
      s"anchors must be a single key column, got " +
        s"(${anchors.columns.mkString(",")})")
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    // orientation plan, resolved once from the store meta/schema:
    // (label, enter-end, far-cols, entering key) with enter-end ∈
    // {src, dst, far} — `far` is a COMPOSITE far end (no dst column:
    // the far node key is the ':'-joined attribute tuple, exactly
    // varPath(g, labels)'s encoding, so counts stay equal between the
    // two entrypoints). Composite reverse entry enters by the twin's
    // persisted key ORDER when the store keeps one (bucket hashing is
    // order-sensitive), else by the far columns, which no layout
    // prunes. Resolved before the expansion: a step re-reading them
    // would pay O(maxLen × labels) driver round-trips to the store's
    // small files for constants.
    final case class Orient(lbl: String, en: String, hasDst: Boolean,
        farCols: Seq[String], keys: Seq[String])
    val orientations = labels.flatMap { lbl =>
      val schema = GraphStore.storeSchema(spark, dir, lbl)
      val hasDst = schema.fieldNames.contains("dst")
      val farCols = schema.fieldNames.toSeq
        .filterNot(c => c == "src" || c == "dst")
      val dirs =
        if (either) Seq("src", if (hasDst) "dst" else "far")
        else Seq("src")
      dirs.map(en => Orient(lbl, en, hasDst, farCols,
        if (en != "far") Seq(en)
        else GraphStore.twinAnchorKeys(spark, dir, lbl).getOrElse(farCols)))
    }
    // distinct (a, b) edge pairs incident to the key list `ks` —
    // varPath's `e` restricted to rows entered by the frontier
    def hop(ks: Seq[String], last: Boolean): DataFrame = {
      val front = spark.createDataFrame(ks.map(Row(_)).asJava,
        StructType(Seq(StructField("k", StringType))))
      val e = orientations.map { o =>
        def read(keyRows: DataFrame) = GraphStore.keyedRead(spark, dir,
          o.lbl, keyRows, o.keys, asOf, scanUnservable = true)
        val farExpr = concat_ws(":", o.farCols.map(col): _*)
        if (o.en == "far")
          // typed parts for PRUNING, string equality for SEMANTICS:
          // the frontier key splits into parts the read casts to the
          // stored types (get() tolerates short arrays; a part the
          // type cannot hold is NULL and matches nothing), which find
          // the candidate rows; the filter on the re-encoded key keeps
          // varPath's string-equality contract exact — a
          // cast-normalized near-miss anchor ('X:01:…' against stored
          // rank 1, whose encoding is 'X:1:…') must NOT match. Rows
          // with NULL far-key parts stay unreachable by reverse entry
          // — their ':'-encoding is ambiguous (concat_ws skips nulls),
          // a limitation of the encoding itself, shared with varPath.
          read(front.select(o.farCols.zipWithIndex.map { case (c, i) =>
              get(split(col("k"), ":"), lit(i)).as(c) }: _*))
            .select(farExpr.as("a"), col("src").cast("string").as("b"))
            .where(col("a").isin(ks: _*))
        else {
          val ex =
            if (o.en == "src") {
              if (o.hasDst) col("dst").cast("string") else farExpr
            } else col("src").cast("string")
          read(front.select(col("k").as(o.en)))
            .select(col(o.en).cast("string").as("a"), ex.as("b"))
        }
      }.reduce(_ unionByName _).where(col("a") =!= col("b"))
      if (last) e.distinct()
      else spark.createDataFrame(e.collect().toSeq.distinct.asJava, e.schema)
    }
    def keyList(df: DataFrame, c: String): Seq[String] =
      df.select(col(c).cast("string")).collect().toSeq
        .map(_.getString(0)).filter(_ != null).distinct
    varExpand(hop(keyList(anchors, anchors.columns.head), maxLen == 1),
      (f, last) => hop(keyList(f, "n_end"), last),
      minLen, maxLen, either, edgeDistinct)
  }

  /** [[varPath]] over the union of a graph's edge labels (Cypher's
    * label-free `-[*1..k]-`): node keys are each label's src/dst
    * (composite-key far ends get the same `:`-joined encoding as
    * [[path]]). */
  def varPath(g: GraphLoad.Graph, labels: Seq[String],
      minLen: Int, maxLen: Int, either: Boolean,
      edgeDistinct: Boolean): DataFrame = {
    val e = labels.map { lbl =>
      val t = g.edgeTables(lbl)
      val dstExpr =
        if (t.columns.contains("dst")) col("dst")
        else concat_ws(":",
          t.columns.filterNot(c => c == "src" || c == "dst")
            .map(col).toIndexedSeq: _*)
      t.select(col("src"), dstExpr.as("dst"))
    }.reduce(_ unionByName _)
    varPath(e, "src", "dst", minLen, maxLen, either, edgeDistinct)
  }
}
