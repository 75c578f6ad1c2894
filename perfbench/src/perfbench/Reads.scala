package perfbench

import java.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphLoad, GraphStore, Motif}

/** One anchored read of the serving mix. `keys` are allele names;
  * some of them are absent from the store by design. */
final case class Read(kind: Read.Kind, keys: IndexedSeq[String]) {
  /** The metric family the read reports under. */
  def family: String = kind match {
    case Read.Probe => "probe"
    case Read.Path => "path"
    case Read.SqlIn | Read.SqlJoin => "sql"
  }
}

object Read {
  sealed trait Kind
  /** `GraphStore.probe` of HAS_IPD_ALLELE by allele. */
  case object Probe extends Kind
  /** `Motif.varPathAnchored` over 1..2 hops, either direction. */
  case object Path extends Kind
  /** An IN-list through `GraphStore.sqlTable`. */
  case object SqlIn extends Kind
  /** A runtime join of two `GraphStore.sqlTable` frames. */
  case object SqlJoin extends Kind
}

/** A read's answer, reduced to its row count and a digest of its rows
  * in canonical (sorted) order. */
final case class Answer(rows: Int, digest: String)

object Reads {

  val pathLabels: Seq[String] = Seq("HAS_IPD_ALLELE", "HAS_FEATURE")

  /** Fixed weights per round: 5 probes, 3 joins, 1 IN-list, 1 path.
    * No record of gfe-db's read traffic exists to derive them from; the
    * mix is built around the one query the reference documents, the
    * features of an allele (the join, so the joins are most of the
    * `sql` reads), and its first hop, allele to GFE (the probe). The
    * IN-list and the path read cover the other serving calls once a
    * round. Every kind appears in every round, so even a short read
    * phase samples all of them. (kind, present keys, absent keys): one
    * key in four is absent. */
  private val round: Seq[(Read.Kind, Int, Int)] =
    Seq.fill(5)((Read.Probe, 12, 4)) ++ Seq.fill(3)((Read.SqlJoin, 3, 1)) ++
      Seq((Read.SqlIn, 12, 4), (Read.Path, 3, 1))

  /** One round of the mix in seeded order, keys drawn from `present`
    * (names the store holds) and `absent` (names it does not). */
  def nextRound(rnd: Random, present: IndexedSeq[String],
      absent: IndexedSeq[String]): Seq[Read] = {
    def draw(from: IndexedSeq[String], k: Int): IndexedSeq[String] =
      Inputs.shuffled(from.length, rnd.nextLong()).take(k).map(from)
    val reads = round.map { case (kind, p, a) =>
      Read(kind, draw(present, p) ++ draw(absent, a))
    }
    Inputs.shuffled(reads.length, rnd.nextLong()).map(reads)
  }

  /** Serve `r` from the store at `dir`, pinned to marker `asOf`. */
  def serve(spark: SparkSession, dir: String, r: Read,
      asOf: Option[Int]): Answer = {
    import spark.implicits._
    def sql(t: String) = GraphStore.sqlTable(spark, dir, t, asOf)
    val layer = r.kind match {
      case Read.Probe => "graph.store.read"
      case Read.SqlIn | Read.SqlJoin => "sources"
      case Read.Path => "graph.motif"
    }
    // probe and varPathAnchored run jobs while building their frame,
    // so the span opens before the call
    Trace.span(layer) {
      val df = r.kind match {
        case Read.Probe => GraphStore.probe(spark, dir, "HAS_IPD_ALLELE",
          r.keys.toDF("dst"), Seq("dst"), asOf)
        case Read.SqlIn => sql("HAS_IPD_ALLELE").where(col("dst").isin(r.keys: _*))
        case Read.SqlJoin => sql("HAS_FEATURE").join(
          sql("HAS_IPD_ALLELE").where(col("dst").isin(r.keys: _*))
            .select("src").distinct(), "src")
        case Read.Path => Motif.varPathAnchored(spark, dir, r.keys.toDF("k"),
          pathLabels, 1, 2, either = true, asOf = asOf)
      }
      val rows = sorted(df).collect()
      Trace.count("rows", rows.length)
      canon(rows.toSeq)
    }
  }

  private def sorted(df: DataFrame): DataFrame =
    df.select(df.columns.sorted.map(col).toIndexedSeq: _*)

  def canon(rows: Seq[Row]): Answer = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach { s =>
      md.update(s.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    Answer(rows.length, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Expected answers for `reads` by plain joins over `g` (a
    * [[GraphStore.read]] or [[GraphStore.readAt]] graph): a few bulk
    * scans for all reads together, then per-read filtering and path
    * enumeration on the driver. Independent of the serving code paths
    * (probe, bucket pruning, anchored expansion) it checks. */
  def expected(g: GraphLoad.Graph, reads: Seq[Read]): Map[Read, Answer] = {
    def keysOf(ks: Read.Kind*) =
      reads.filter(r => ks.contains(r.kind)).flatMap(_.keys).distinct
    val ha = sorted(g.hasIpdAllele)
    val (dstIdx, srcIdx) = (ha.schema.fieldIndex("dst"), ha.schema.fieldIndex("src"))
    val alleleRows = ha.where(col("dst").isin(
      keysOf(Read.Probe, Read.SqlIn, Read.SqlJoin): _*)).collect().toSeq
    val byAllele = alleleRows.groupBy(_.getString(dstIdx))
    val hf = sorted(g.hasFeature)
    val featIdx = hf.schema.fieldIndex("src")
    val featureRows = hf.where(col("src").isin(
      alleleRows.map(_.getString(srcIdx)).distinct: _*)).collect().toSeq
    val adjacency = pathAdjacency(g, keysOf(Read.Path))

    reads.distinct.map { r =>
      val ans = r.kind match {
        case Read.Probe | Read.SqlIn =>
          canon(r.keys.distinct.flatMap(k => byAllele.getOrElse(k, Nil)))
        case Read.SqlJoin =>
          val gfes = r.keys.flatMap(k => byAllele.getOrElse(k, Nil))
            .map(_.getString(srcIdx)).toSet
          canon(featureRows.filter(x => gfes.contains(x.getString(featIdx))))
        case Read.Path => canon(paths(r.keys.distinct, adjacency))
      }
      r -> ans
    }.toMap
  }

  /** Undirected adjacency (either-direction edges of [[pathLabels]],
    * self-loops dropped) of every node within one hop of `anchors`. */
  private def pathAdjacency(g: GraphLoad.Graph,
      anchors: Seq[String]): Map[String, Set[String]] = {
    val edges = pathLabels.map { lbl =>
      val t = g.edgeTables(lbl)
      val far =
        if (t.columns.contains("dst")) col("dst")
        else concat_ws(":", t.columns.filterNot(c => c == "src" || c == "dst")
          .map(col).toIndexedSeq: _*)
      t.select(col("src").cast("string").as("a"), far.cast("string").as("b"))
    }.reduce(_ unionByName _).where(col("a") =!= col("b"))
    def incident(nodes: Seq[String]): Seq[(String, String)] =
      if (nodes.isEmpty) Nil
      else edges.where(col("a").isin(nodes: _*) || col("b").isin(nodes: _*))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val hop1 = incident(anchors)
    val anchorSet = anchors.toSet
    val next = hop1.flatMap { case (a, b) => Seq(a, b) }.distinct
      .filterNot(anchorSet)
    (hop1 ++ incident(next)).flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).map { case (k, v) => k -> v.toSet }
  }

  /** Simple paths of length 1..2 from each anchor, counted per
    * (n_start, n_end, len) — the rows `varPathAnchored` returns. */
  private def paths(anchors: Seq[String],
      adj: Map[String, Set[String]]): Seq[Row] =
    anchors.flatMap { a =>
      val one = adj.getOrElse(a, Set.empty).toSeq.map(b => (b, 1))
      val two = one.flatMap { case (b, _) =>
        adj.getOrElse(b, Set.empty).toSeq.filter(c => c != a && c != b)
          .map(c => (c, 2))
      }
      (one ++ two).groupBy(identity).map { case ((end, len), ps) =>
        Row(len, end, ps.length.toLong, a)
      }
    }
}
