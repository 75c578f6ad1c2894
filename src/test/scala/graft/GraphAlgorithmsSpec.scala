package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.graph.GraphAlgorithms

class GraphAlgorithmsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("connected components: transitive closure with min-label ids") {
    val pairs = Seq(
      ("a", "b"), ("b", "c"), // component a
      ("x", "y"), // component x
      ("m", "n"), ("n", "o"), ("o", "m") // cycle, component m
    ).toDF("d1", "d2")
    val cc = GraphAlgorithms.connectedComponents(pairs, "d1", "d2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x",
      "m" -> "m", "n" -> "m", "o" -> "m"))
  }

  test("DataFrame CC matches GraphX CC (cross-implementation)") {
    val pairs = Seq(
      ("a", "b"), ("b", "c"), ("x", "y"),
      ("m", "n"), ("n", "o"), ("o", "m"),
      ("p", "q"), ("q", "r"), ("r", "s"), ("s", "t") // chain, diameter 4
    ).toDF("d1", "d2")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val viaGraphX = toMap(GraphAlgorithms.connectedComponents(pairs, "d1", "d2"))
    val viaLocal = toMap(GraphAlgorithms.connectedComponentsDF(pairs, "d1", "d2"))
    val viaLoop = toMap(GraphAlgorithms.connectedComponentsDF(
      pairs, "d1", "d2", localThreshold = 0)) // force the distributed path
    assert(viaLocal == viaGraphX)
    assert(viaLoop == viaGraphX)
    assert(viaLocal("t") == "p", "chain must fully converge")
    // the diameter-4 chain needs 4 label rounds: a 2-round bound must
    // fail loudly, never return split components
    val ex = intercept[IllegalStateException](GraphAlgorithms
      .connectedComponentsDF(pairs, "d1", "d2", maxIter = 2,
        localThreshold = 0))
    assert(ex.getMessage.contains("maxIter"), ex.getMessage)
  }

  test("pagerank: sinks rank below hubs, ranks deterministic") {
    // star: everything points at "hub"
    val edges = Seq(("s1", "hub"), ("s2", "hub"), ("s3", "hub"))
      .toDF("src", "dst")
    val pr = GraphAlgorithms.pageRank(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr("hub") > pr("s1"))
    assert(pr("s1") == pr("s2") && pr("s2") == pr("s3"))
    val again = GraphAlgorithms.pageRank(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pr == again)
  }

  test("triangle counts: golden K4 + wedge + duplicate/reversed edges") {
    // K4 on {a,b,c,d}: 4 triangles, each vertex in 3 of them.
    // Wedge x-y-z closes no triangle. Duplicate and reversed edges
    // must not inflate counts (canonicalized + distinct).
    val k4 = for (Seq(u, v) <- Seq("a", "b", "c", "d").combinations(2).toSeq)
      yield (u, v)
    val edges = (k4 ++ Seq(("x", "y"), ("y", "z"), ("b", "a"), ("a", "b")))
      .toDF("s", "t")
    val got = GraphAlgorithms.triangleCountsDF(edges, "s", "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map(
      "a" -> 3, "b" -> 3, "c" -> 3, "d" -> 3,
      "x" -> 0, "y" -> 0, "z" -> 0))
  }

  test("weighted shortest path: lightest path beats fewest hops") {
    //  a --10-- b      direct hop costs 10;
    //  a -1- c -1- d -1- b   the 3-hop detour costs 3.
    //  f isolated via g (weight 5), h unreachable.
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 1L), ("c", "d", 1L), ("d", "b", 1L),
      ("f", "g", 5L)
    ).toDF("s", "t", "w")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = toMap(GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", Seq("a")))
    assert(got == Map("a" -> 0, "c" -> 1, "d" -> 2, "b" -> 3))
    // directed: edges flow s→t only, so nothing reaches back to "a"
    // and b is still cheapest via the chain
    val dir = toMap(GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", Seq("b"), directed = true))
    assert(dir == Map("b" -> 0))
    // multi-source takes the min over sources
    val multi = toMap(GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", Seq("a", "b")))
    assert(multi("d") == 1 && multi("c") == 1 && multi("b") == 0)
    // maxIter bounds the relaxation rounds: one round from "a" only
    // settles the direct neighbors (b via the 10-edge, c via the 1)
    val one = toMap(GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", Seq("a"), maxIter = 1))
    assert(one == Map("a" -> 0, "b" -> 10, "c" -> 1))
  }

  test("node similarity: golden neighbor-set Jaccard + degree cutoff") {
    // u and v share {n1,n2,n3}; u additionally sees w. Exact sets:
    //   N(u)={n1,n2,n3,w} N(v)={n1,n2,n3} N(ni)={u,v} N(w)={u}
    // Duplicate/reversed edge (n1,u) must not inflate counts.
    val edges = Seq(
      ("u", "n1"), ("u", "n2"), ("u", "n3"), ("u", "w"),
      ("v", "n1"), ("v", "n2"), ("v", "n3"), ("n1", "u")
    ).toDF("s", "t")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
    val got = toMap(GraphAlgorithms.nodeSimilarityDF(edges, "s", "t"))
    assert(got == Map(
      ("u", "v") -> (3L, 4L), // J = 0.75
      ("n1", "n2") -> (2L, 2L), ("n1", "n3") -> (2L, 2L),
      ("n2", "n3") -> (2L, 2L), // exact twins, J = 1
      ("n1", "w") -> (1L, 2L), ("n2", "w") -> (1L, 2L),
      ("n3", "w") -> (1L, 2L))) // share only u, J = 0.5
    // upperDegreeCutoff parity: maxDegree=3 drops hub u entirely;
    // kept vertices keep their FULL degrees (GDS semantics).
    val capped = toMap(GraphAlgorithms.nodeSimilarityDF(edges, "s", "t", maxDegree = 3))
    assert(capped == Map(
      ("n1", "n2") -> (1L, 3L), ("n1", "n3") -> (1L, 3L),
      ("n2", "n3") -> (1L, 3L)))
  }

  test("BFS shortest paths: golden distances, undirected vs directed") {
    //   a — b — c — d   (chain)      g — h (disconnected)
    //   a — e — d       (shortcut)
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"),
      ("a", "e"), ("e", "d"),
      ("g", "h")
    ).toDF("s", "t")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val und = toMap(GraphAlgorithms.shortestPathsDF(edges, "s", "t", Seq("a")))
    // d is 2 via e (not 3 via the chain); g/h unreachable → absent
    assert(und == Map("a" -> 0, "b" -> 1, "e" -> 1, "c" -> 2, "d" -> 2))
    // directed: edges only flow s→t, so from "d" nothing is reachable
    val dir = toMap(GraphAlgorithms.shortestPathsDF(
      edges, "s", "t", Seq("d"), directed = true))
    assert(dir == Map("d" -> 0))
    // maxDepth truncates the expansion (not an error)
    val shallow = toMap(GraphAlgorithms.shortestPathsDF(
      edges, "s", "t", Seq("a"), maxDepth = 1))
    assert(shallow == Map("a" -> 0, "b" -> 1, "e" -> 1))
    // multi-source: distance = min over sources
    val multi = toMap(GraphAlgorithms.shortestPathsDF(
      edges, "s", "t", Seq("a", "d")))
    assert(multi("c") == 1 && multi("b") == 1 && multi("e") == 1)
  }

  test("DataFrame-sources overloads match the Seq overloads exactly") {
    // seeds as a distributed DataFrame (the pipeline shape — no
    // driver-side collect); first column is the seed set, duplicate
    // seeds and a non-"id" column name must not matter.
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 1L), ("c", "d", 1L), ("d", "b", 1L),
      ("f", "g", 5L)
    ).toDF("s", "t", "w")
    val seedDf = Seq("a", "b", "a").toDF("component")

    val viaSeq = GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDf = GraphAlgorithms.weightedShortestPathsDF(
      edges, "s", "t", "w", seedDf, maxIter = 64, directed = false,
      localThreshold = 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaDf == viaSeq)

    val bfsSeq = GraphAlgorithms.shortestPathsDF(edges, "s", "t", Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val bfsDf = GraphAlgorithms.shortestPathsDF(
      edges, "s", "t", seedDf, maxDepth = 30, directed = false,
      localThreshold = 1000000L)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(bfsDf == bfsSeq)

    // empty distributed seed set: empty result, no special-casing
    assert(GraphAlgorithms.shortestPathsDF(edges, "s", "t",
      seedDf.where("component = 'zzz'"), maxDepth = 5,
      directed = false, localThreshold = 1000000L).count() == 0)
  }

  test("shortest paths: local fast path == distributed loop, bit for bit") {
    // localThreshold = 0 forces the distributed frontier/relaxation
    // loops on the same fixtures as the local replays — integer
    // distances must agree exactly, including directed truncation and
    // the maxIter/maxDepth-bounded (non-converged) cases.
    val edges = Seq(
      ("a", "b", 10L), ("a", "c", 1L), ("c", "d", 1L), ("d", "b", 1L),
      ("b", "e", 2L), ("f", "g", 5L)
    ).toDF("s", "t", "w")
    def toL(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def toI(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // maxIter 2 and 3 truncate while the 3-hop a→c→d→b path is still
    // overtaking the 1-hop a→b edge: the frontier-sourced relaxation
    // must match the full-relaxation replay round by round
    for (dir <- Seq(false, true); maxIter <- Seq(1, 2, 3, 64)) {
      val local = toL(GraphAlgorithms.weightedShortestPathsDF(
        edges, "s", "t", "w", Seq("a"), maxIter = maxIter, directed = dir))
      val dist = toL(GraphAlgorithms.weightedShortestPathsDF(
        edges, "s", "t", "w", Seq("a"), maxIter = maxIter, directed = dir,
        localThreshold = 0L))
      assert(local == dist,
        s"weighted divergence (directed=$dir maxIter=$maxIter)")
    }
    for (dir <- Seq(false, true); maxDepth <- Seq(1, 30)) {
      val local = toI(GraphAlgorithms.shortestPathsDF(
        edges, "s", "t", Seq("a", "f"), maxDepth = maxDepth, directed = dir))
      val dist = toI(GraphAlgorithms.shortestPathsDF(
        edges, "s", "t", Seq("a", "f"), maxDepth = maxDepth, directed = dir,
        localThreshold = 0L))
      assert(local == dist,
        s"BFS divergence (directed=$dir maxDepth=$maxDepth)")
    }
  }

  test("non-ASCII ids: local replays order like Spark UTF8String") {
    // JVM String '<' compares UTF-16 code units, so the surrogate-pair
    // emoji U+1F600 (units D83D DE00) sorts BEFORE U+E000; Spark's
    // UTF8String compares UTF-8 bytes, where U+E000 (EE 80 80) sorts
    // BEFORE the emoji (F0 9F 98 80). A local replay using JVM order
    // would pick the wrong min label / pair orientation here; parity
    // with the distributed path (localThreshold = 0) pins the UTF-8
    // ordering fix.
    val emoji = "\ud83d\ude00" // U+1F600
    val pua = "\ue000"
    assert(emoji < pua && // JVM order: emoji first
      GraphAlgorithms.utf8Ordering.compare(pua, emoji) < 0) // UTF-8: pua first
    val pua2 = "\ue001" // UTF-8 min order: pua < pua2 < emoji
    val pairs = Seq((emoji, pua), (pua, pua2), (pua2, emoji),
      ("z2", "z3")).toDF("d1", "d2")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val ccL = toMap(GraphAlgorithms.connectedComponentsDF(pairs, "d1", "d2"))
    val ccD = toMap(GraphAlgorithms.connectedComponentsDF(pairs, "d1", "d2",
      localThreshold = 0))
    assert(ccL == ccD, "connected components: non-ASCII label divergence")
    assert(ccL(emoji) == pua, "component label must be the UTF-8 min")
    val lvL = toMap(GraphAlgorithms.louvainDF(pairs, "d1", "d2"))
    val lvD = toMap(GraphAlgorithms.louvainDF(pairs, "d1", "d2",
      localThreshold = 0L))
    assert(lvL == lvD, "louvain: non-ASCII tie-break divergence")
    def toPairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).toSet
    val nsL = toPairs(GraphAlgorithms.nodeSimilarityDF(pairs, "d1", "d2"))
    val nsD = toPairs(GraphAlgorithms.nodeSimilarityDF(pairs, "d1", "d2",
      localThreshold = 0))
    assert(nsL == nsD, "node similarity: non-ASCII pair orientation divergence")
  }

  test("louvain: two cliques and a bridge split at the bridge") {
    // K4 ∪ K4 + one bridge edge: the textbook Louvain golden — the
    // modularity optimum is exactly one community per clique, and the
    // labels are the min member ids.
    def k4(v: Seq[String]) = for {
      i <- v.indices; j <- v.indices if i < j
    } yield (v(i), v(j))
    val pairs = (k4(Seq("a", "b", "c", "d")) ++ k4(Seq("e", "f", "g", "h")) ++
      Seq(("d", "e"))).toDF("d1", "d2")
    def run() = GraphAlgorithms.louvainDF(pairs, "d1", "d2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val com = run()
    assert(com == Map(
      "a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a",
      "e" -> "e", "f" -> "e", "g" -> "e", "h" -> "e"))
    // deterministic: integer-scaled gains + parity scheduling → the
    // exact same assignment on a re-run
    assert(run() == com)
  }

  test("louvain: single edge merges regardless of id parity") {
    // Regression for the round-parity early-exit: both endpoints may
    // hash to the SAME crc32 parity, so the first round can be
    // legitimately quiet — the loop must still give the other parity
    // its turn instead of declaring convergence. Try several id pairs
    // to cover both parity layouts.
    for (p <- Seq(("u", "v"), ("a", "b"), ("x", "q"))) {
      val com = GraphAlgorithms.louvainDF(Seq(p).toDF("d1", "d2"), "d1", "d2")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val lbl = Seq(p._1, p._2).min
      assert(com == Map(p._1 -> lbl, p._2 -> lbl),
        s"pair $p must merge into one community labeled $lbl")
    }
  }

  test("louvain: local fast path == distributed fixpoint, bit for bit") {
    // The driver-local path must replay the distributed move schedule
    // EXACTLY — same gains, tie-breaks, parity guard, contraction,
    // labeling. localThreshold = 0 forces the distributed fixpoint on
    // the same inputs; every fixture must agree assignment-for-
    // assignment, including ones that exercise contraction passes and
    // the no-move fallback.
    def k(v: Seq[String]) = for {
      i <- v.indices; j <- v.indices if i < j
    } yield (v(i), v(j))
    val fixtures = Seq(
      // two cliques + bridge (contraction golden)
      k(Seq("a", "b", "c", "d")) ++ k(Seq("e", "f", "g", "h")) ++
        Seq(("d", "e")),
      // chain of three triangles bridged tail-to-head
      k(Seq("t1", "t2", "t3")) ++ k(Seq("u1", "u2", "u3")) ++
        k(Seq("v1", "v2", "v3")) ++ Seq(("t3", "u1"), ("u3", "v1")),
      // single edge + isolated-by-self-loop vertex (fallback shape)
      Seq(("m", "n"), ("z", "z")),
      // star: hub with 5 leaves (single community, min-label hub test)
      Seq("l1", "l2", "l3", "l4", "l5").map(l => ("hub", l)))
    for (f <- fixtures) {
      val pairs = f.toDF("d1", "d2")
      def toMap(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val local = toMap(GraphAlgorithms.louvainDF(pairs, "d1", "d2"))
      val dist = toMap(GraphAlgorithms.louvainDF(pairs, "d1", "d2",
        localThreshold = 0L))
      assert(local == dist, s"fixture $f: local/distributed divergence")
    }
  }

  test("louvain: communities refine connected components") {
    // disjoint triangle + edge: communities == components (cliques),
    // labels = min member — and no community ever spans components
    val pairs = Seq(("p", "q"), ("q", "r"), ("r", "p"), ("s", "t"))
      .toDF("d1", "d2")
    val com = GraphAlgorithms.louvainDF(pairs, "d1", "d2")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(com == Map("p" -> "p", "q" -> "p", "r" -> "p",
      "s" -> "s", "t" -> "s"))
  }

  test("integer pagerank: fixed point on the 2-cycle, hub tops the star") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // symmetric 2-cycle: both degree 1, so r = 150000 + (r·85)/100
    // has the exact integer fixed point 1_000_000 — any drift would
    // expose a quantization or join bug
    val cyc = toMap(GraphAlgorithms.pageRankIntDF(
      Seq(("a", "b")).toDF("s", "t"), "s", "t", directed = false))
    assert(cyc == Map("a" -> 1000000L, "b" -> 1000000L))
    // undirected star: hub collects three full leaf contributions,
    // leaves split the hub's mass three ways — hub must dominate and
    // leaves must tie exactly (integer math, no accumulation order)
    val star = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"))
      .toDF("s", "t")
    val pr = toMap(GraphAlgorithms.pageRankIntDF(
      star, "s", "t", directed = false))
    assert(pr("hub") > pr("l1"))
    assert(pr("l1") == pr("l2") && pr("l2") == pr("l3"))
    // agrees with the float GraphX path on ranking (pageRank is
    // directed — feed it the symmetric edge list)
    val sym = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"),
      ("l1", "hub"), ("l2", "hub"), ("l3", "hub")).toDF("s", "t")
    val fl = GraphAlgorithms.pageRank(sym, "s", "t")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert((fl("hub") > fl("l1")) == (pr("hub") > pr("l1")))
  }

  test("bfsSigmaDF: exact shortest-path counts on the square") {
    // square a-b-d-c-a: two shortest a→d paths (via b, via c)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("s", "t")
    val sp = GraphAlgorithms.bfsSigmaDF(
      edges, "s", "t", Seq("a").toDF("id"))
      .collect().map(r => r.getString(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(sp == Map("a" -> ((0, 1L)), "b" -> ((1, 1L)),
      "c" -> ((1, 1L)), "d" -> ((2, 2L))))
    assert(sp("d") == ((2, 2L)), "two shortest paths must be counted")
  }

  test("bfsSigmaDF: local fast path == distributed loop, bit for bit") {
    // (dist, σ) are integers under a layer-synchronous recurrence, so
    // the local replay must agree EXACTLY with the distributed loop
    // (localThreshold = 0 forces it) — all sources, dual shortest
    // paths, unreachable components, directed and undirected.
    val g = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"),
      ("d", "e"), ("x", "y")).toDF("s", "t")
    val srcs = Seq("a", "b", "c", "d", "e", "x", "y").toDF("id")
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .toSet
    for (dir <- Seq(false, true)) {
      val local = toSet(GraphAlgorithms.bfsSigmaDF(
        g, "s", "t", srcs, maxDepth = 8, directed = dir))
      val dist = toSet(GraphAlgorithms.bfsSigmaDF(
        g, "s", "t", srcs, maxDepth = 8, directed = dir,
        localThreshold = 0L))
      assert(local == dist, s"directed=$dir: local/distributed divergence")
      assert(local.nonEmpty)
    }
  }

  test("betweenness: path and star goldens, fractional sigma split") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // P5 path a-b-c-d-e, all sources: raw ordered-pair dependencies
    // are 0/6/8/6/0 (unique shortest paths; pairs counted both ways)
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("s", "t")
    val pb = toMap(GraphAlgorithms.betweennessDF(path, "s", "t",
      Seq("a", "b", "c", "d", "e").toDF("id")))
    assert(pb == Map("a" -> 0.0, "b" -> 6.0, "c" -> 8.0, "d" -> 6.0,
      "e" -> 0.0))
    // star: the hub carries every leaf pair (3 unordered × 2)
    val star = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"))
      .toDF("s", "t")
    val sb = toMap(GraphAlgorithms.betweennessDF(star, "s", "t",
      Seq("hub", "l1", "l2", "l3").toDF("id")))
    assert(sb == Map("hub" -> 6.0, "l1" -> 0.0, "l2" -> 0.0, "l3" -> 0.0))
    // square a-b-d-c-a: σ(corner pair)=2 splits 1/2 + 1/2 — every
    // vertex carries exactly one ordered pair each way
    val square = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .toDF("s", "t")
    val qb = toMap(GraphAlgorithms.betweennessDF(square, "s", "t",
      Seq("a", "b", "c", "d").toDF("id")))
    assert(qb == Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0, "d" -> 1.0))
    // sampled form: sources restricted to one pivot still well-defined
    val one = toMap(GraphAlgorithms.betweennessDF(path, "s", "t",
      Seq("a").toDF("id")))
    assert(one("b") == 3.0 && one("e") == 0.0,
      "single-pivot dependencies are the per-source Brandes partials")
  }

  test("betweenness: local Brandes == distributed backward loop") {
    // localThreshold = 0 forces the distributed δ-loop; both paths
    // must agree to 1e-9 after the shared round-to-6 — including a
    // σ=3 fixture whose 1/3 path splits are binary-inexact, the case
    // where summation order could matter.
    val g = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "e"),
      ("c", "e"), ("d", "e"), ("e", "f"), ("x", "y")).toDF("s", "t")
    val srcs = Seq("a", "b", "c", "d", "e", "f", "x", "y").toDF("id")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val local = toMap(GraphAlgorithms.betweennessDF(g, "s", "t", srcs))
    val dist = toMap(GraphAlgorithms.betweennessDF(g, "s", "t", srcs,
      localThreshold = 0L))
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v - dist(k)) < 1e-9, s"$k: $v vs ${dist(k)}") }
    // sampled-pivot parity too (subset sources)
    val localS = toMap(GraphAlgorithms.betweennessDF(g, "s", "t",
      Seq("a", "e").toDF("id")))
    val distS = toMap(GraphAlgorithms.betweennessDF(g, "s", "t",
      Seq("a", "e").toDF("id"), localThreshold = 0L))
    assert(localS.keySet == distS.keySet)
    localS.foreach { case (k, v) =>
      assert(math.abs(v - distS(k)) < 1e-9, s"sampled $k: $v vs ${distS(k)}") }
  }

  test("harmonic centrality and degrees: path golden, isolated component") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // P4 path a-b-c-d plus a detached edge x-y.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("s", "t")
    val h = toMap(GraphAlgorithms.harmonicCentralityDF(g, "s", "t"))
    // H(a) = 1 + 1/2 + 1/3 → 1000000 + 500000 + 333333 micro-units;
    // H(b) = 1 + 1 + 1/2; the detached pair sees only each other.
    assert(h == Map(
      "a" -> 1833333L, "b" -> 2500000L, "c" -> 2500000L,
      "d" -> 1833333L, "x" -> 1000000L, "y" -> 1000000L))
    val deg = toMap(GraphAlgorithms.degreesDF(g, "s", "t"))
    assert(deg == Map("a" -> 1L, "b" -> 2L, "c" -> 2L, "d" -> 1L,
      "x" -> 1L, "y" -> 1L))
  }

  test("closeness (sampled): path goldens, all-sources classic form") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("s", "t")
    // S = {a, c}: C_S(v) = ⌊1e6·reached/Σdist⌋, hand-computable
    val sub = toMap(GraphAlgorithms.closenessCentralityDF(
      g, "s", "t", Seq("a", "c").toDF("id"), maxDepth = 30))
    assert(sub == Map(
      "a" -> 500000L,  // from c: dist 2 → 1e6/2
      "b" -> 1000000L, // from a: 1, from c: 1 → 2e6/2
      "c" -> 500000L,  // from a: dist 2
      "d" -> 500000L,  // from a: 3, from c: 1 → 2e6/4
      "x" -> 0L, "y" -> 0L)) // unreached from S, still present
    // all sources = the textbook closeness, quantized
    val full = toMap(GraphAlgorithms.closenessCentralityDF(
      g, "s", "t", Seq("a", "b", "c", "d", "x", "y").toDF("id"),
      maxDepth = 30))
    assert(full == Map(
      "a" -> 500000L, "b" -> 750000L, "c" -> 750000L, "d" -> 500000L,
      "x" -> 1000000L, "y" -> 1000000L))
  }

  test("eigenvector: exact integer recurrence replay, symmetry, argmax=1e6") {
    // triangle a-b-c with pendant c-d: aperiodic, so the power method
    // settles; the spec replays the SAME floor-division recurrence on
    // the driver and demands bit equality — plus the structural
    // invariants (symmetric a/b tie, pendant strictly below, the
    // argmax sits exactly at the 1e6 normalization ceiling).
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
      .toDF("d1", "d2")
    val got = GraphAlgorithms.eigenvectorDF(g, "d1", "d2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nbrs = Map("a" -> Seq("b", "c"), "b" -> Seq("a", "c"),
      "c" -> Seq("a", "b", "d"), "d" -> Seq("c"))
    var x = nbrs.keys.map(_ -> 1000000L).toMap
    (1 to 8).foreach { _ =>
      val y = nbrs.map { case (v, ns) => v -> ns.map(x).sum }
      val m = y.values.max
      x = y.map { case (v, s) => v -> s * 1000000L / m }
    }
    assert(got == x, s"engine $got vs driver replay $x")
    assert(got("a") == got("b"), "symmetric vertices must tie")
    assert(got("c") == 1000000L, "argmax sits at the normalization ceiling")
    assert(got("d") < got("a"), "pendant scores below the triangle")
    assert(GraphAlgorithms.eigenvectorDF(g, "d1", "d2")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == got)
  }

  test("eigenvector: int64 headroom violation fails loudly, not by " +
      "silent wraparound") {
    // deg_max·scale² ≥ 2⁶³ must raise, never wrap: with scale = 2³¹
    // the bound trips at degree 3 — a star is enough to prove the
    // in-plan guard fires (at the default 10⁶ scale the same guard
    // protects hub degrees above ~9.2·10⁶).
    val star = Seq(("h", "s1"), ("h", "s2"), ("h", "s3"))
      .toDF("d1", "d2")
    val e = intercept[Exception] {
      GraphAlgorithms.eigenvectorDF(star, "d1", "d2",
        scale = 1L << 31).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("overflows")),
      s"expected the eigenvectorDF overflow guard, got: ${msgs(e)}")
  }

  test("integer pagerank: local path == distributed, bit for bit") {
    // floor-division recurrence → exact integers on both paths; the
    // star graph exercises asymmetric degrees, the pair a 2-cycle.
    val g = Seq(("hub", "l1"), ("hub", "l2"), ("hub", "l3"), ("l1", "l2"),
      ("p", "q")).toDF("d1", "d2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for (dir <- Seq(true, false)) {
      val local = rows(GraphAlgorithms.pageRankIntDF(g, "d1", "d2",
        directed = dir))
      val dist = rows(GraphAlgorithms.pageRankIntDF(g, "d1", "d2",
        directed = dir, localThreshold = 0L))
      assert(local == dist, s"directed=$dir divergence")
    }
  }

  test("triangles/node-similarity/k-core: local path == distributed, exactly") {
    // Shared fixture: two triangles sharing edge (b,c), a pendant, a
    // detached edge — exercises zero-count vertices, wedge overlaps,
    // and peel cascades. localThreshold = 0 forces the distributed
    // path; integer outputs must agree exactly.
    val g = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("b", "d"),
      ("c", "d"), ("d", "e"), ("x", "y")).toDF("d1", "d2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(GraphAlgorithms.triangleCountsDF(g, "d1", "d2")) ==
      rows(GraphAlgorithms.triangleCountsDF(g, "d1", "d2",
        localThreshold = 0L)))
    assert(rows(GraphAlgorithms.nodeSimilarityDF(g, "d1", "d2")) ==
      rows(GraphAlgorithms.nodeSimilarityDF(g, "d1", "d2",
        localThreshold = 0L)))
    // degree cutoff must replicate too (deg measured pre-cutoff)
    assert(rows(GraphAlgorithms.nodeSimilarityDF(g, "d1", "d2",
        maxDegree = 2L)) ==
      rows(GraphAlgorithms.nodeSimilarityDF(g, "d1", "d2",
        maxDegree = 2L, localThreshold = 0L)))
    for (k <- Seq(1, 2, 3)) {
      assert(rows(GraphAlgorithms.kCoreDF(g, "d1", "d2", k)) ==
        rows(GraphAlgorithms.kCoreDF(g, "d1", "d2", k,
          localThreshold = 0L)), s"k=$k divergence")
    }
  }

  test("sampled centrality contracts: exact partials, all-sources parity") {
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val g = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
      .toDF("s", "t")
    val full = toMap(GraphAlgorithms.harmonicCentralityDF(g, "s", "t"))
    // 1) all-sources sampled form ≡ the exact form, bit-for-bit
    val allSrc = Seq("a", "b", "c", "d", "x", "y").toDF("id")
    assert(toMap(GraphAlgorithms.harmonicCentralityDF(
      g, "s", "t", allSrc, maxDepth = 30)) == full)
    // 2) subset partials are exact integer partials: S={a,c} scores
    //    each v with Σ_{s∈S} ⌊1e6/dist(s,v)⌋ — hand-computable
    val sub = toMap(GraphAlgorithms.harmonicCentralityDF(
      g, "s", "t", Seq("a", "c").toDF("id"), maxDepth = 30))
    assert(sub == Map(
      "a" -> 500000L,   // from c: 1/2
      "b" -> 2000000L,  // from a: 1, from c: 1
      "c" -> 500000L,   // from a: 1/2
      "d" -> 1333333L,  // from a: 1/3, from c: 1
      "x" -> 0L, "y" -> 0L)) // unreached from S, still present
    // 3) monotone lower bound: every subset partial ≤ the full score
    assert(sub.forall { case (k, v) => v <= full(k) })
    // 4) same contracts for sampled Brandes betweenness: subset
    //    partials never exceed the all-sources dependencies, and the
    //    all-sources sampled call reproduces the exact golden
    def toMapD(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val path = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("s", "t")
    val betFull = toMapD(GraphAlgorithms.betweennessDF(path, "s", "t",
      Seq("a", "b", "c", "d", "e").toDF("id")))
    assert(betFull == Map("a" -> 0.0, "b" -> 6.0, "c" -> 8.0,
      "d" -> 6.0, "e" -> 0.0))
    val betSub = toMapD(GraphAlgorithms.betweennessDF(path, "s", "t",
      Seq("a", "c").toDF("id")))
    assert(betSub.forall { case (k, v) => v <= betFull(k) })
    assert(betSub("b") == 4.0, // from a: {c,d,e}; from c: {a}
      "subset dependencies are the per-source Brandes partials")
    // duplicate + reversed + self-loop edges don't inflate degrees
    val noisy = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"))
      .toDF("s", "t")
    assert(toMap(GraphAlgorithms.degreesDF(noisy, "s", "t")) ==
      Map("a" -> 1L, "b" -> 1L))
  }

  test("k-core: clique survives, tails and chains peel away") {
    def core(edges: Seq[(String, String)], k: Int) =
      GraphAlgorithms.kCoreDF(edges.toDF("s", "t"), "s", "t", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // K4 with a 2-edge tail: the 2-core is exactly the clique.
    val k4tail = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"), ("d", "e"), ("e", "f"))
    assert(core(k4tail, 2) ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(core(k4tail, 3) ==
      Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L))
    assert(core(k4tail, 4) == Map.empty, "K4 has no 4-core")
    // pure chain: peel cascades multiple rounds down to nothing
    val chain = (0 until 9).map(i => (s"c$i", s"c${i + 1}"))
    assert(core(chain, 2) == Map.empty)
    // cycle: every vertex is its own 2-core at degree 2
    val cycle = Seq(("p", "q"), ("q", "r"), ("r", "s"), ("s", "p"))
    assert(core(cycle, 2) ==
      Map("p" -> 2L, "q" -> 2L, "r" -> 2L, "s" -> 2L))
  }

  test("hashWalkDF: valid, deterministic, PRF-argmin walks") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"),
      ("d", "a"), ("z", "z") // self-loop dropped; z then has no edges
    ).toDF("s", "t")
    val sources = Seq("a", "b", "z").toDF("id")
    def run() = GraphAlgorithms.hashWalkDF(edges, "s", "t", sources, steps = 3)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    val rows = run().toSet
    // step 0 rows are exactly the sources
    assert(rows.filter(_._2 == 0) ==
      Set(("a", 0, "a"), ("b", 0, "b"), ("z", 0, "z")))
    // z's only edge is a dropped self-loop: its walk ends at step 0
    assert(rows.count(_._1 == "z") == 1)
    // a and b take all 3 steps, every hop along a real edge
    val und = Set(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("d", "a"))
      .flatMap { case (x, y) => Seq((x, y), (y, x)) }
    for (w <- Seq("a", "b")) {
      val path = rows.filter(_._1 == w).toSeq.sortBy(_._2).map(_._3)
      assert(path.length == 4, s"walk $w must have steps 0..3")
      path.sliding(2).foreach { case Seq(x, y) =>
        assert(und.contains((x, y)), s"hop $x->$y of walk $w not an edge")
      }
    }
    // the chosen hop is the md5-argmin over the current neighbors
    val nbrs = Map("a" -> Seq("b", "c", "d"), "b" -> Seq("a", "c"),
      "c" -> Seq("a", "b", "d"), "d" -> Seq("a", "c"))
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    for (w <- Seq("a", "b")) {
      val path = rows.filter(_._1 == w).toSeq.sortBy(_._2).map(_._3)
      for (k <- 1 to 3) {
        val cur = path(k - 1)
        val expect = nbrs(cur).minBy(n => (md5hex(s"$w|$k|$cur|$n"), n))
        assert(path(k) == expect, s"walk $w step $k: PRF argmin violated")
      }
    }
    // pure function of (graph, sources): identical on re-run
    assert(run().toSet == rows)
  }

  test("personalized pagerank: seed locality, all-seeds ≡ global, parity") {
    // path a-b-c-d-e plus a disconnected pair x-y
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y")).toDF("s", "t")
    def run(seeds: Option[Seq[String]], thr: Long = 1000000L) =
      GraphAlgorithms.pageRankIntDF(edges, "s", "t", directed = false,
        localThreshold = thr,
        seeds = seeds.map(ss => ss.toDF("id")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ppr = run(Some(Seq("a")))
    // mass decays away from the seed; the disconnected component,
    // which the seed can't reach, holds exactly zero
    assert(ppr("a") > ppr("b") && ppr("b") > ppr("c") && ppr("c") > ppr("e"))
    assert(ppr("x") == 0L && ppr("y") == 0L)
    // seeding EVERY vertex is bit-identical to the global form
    val verts = Seq("a", "b", "c", "d", "e", "x", "y")
    assert(run(Some(verts)) == run(None))
    // local fast path == distributed loop, bit for bit
    assert(run(Some(Seq("a")), thr = 0L) == ppr)
  }

  test("scc: cycles fuse, DAG edges split, direction matters") {
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), // 3-cycle {a,b,c}
      ("c", "d"), ("d", "e"), ("e", "d"), // 2-cycle {d,e} downstream
      ("e", "f"), // singleton sink f
      ("g", "g") // self-loop: its own SCC
    ).toDF("s", "t")
    val scc = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(scc == Map(
      "a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "d", "e" -> "d",
      "f" -> "f", "g" -> "g"))
    // the same edges UNDIRECTED would be one big component — SCC is
    // not WCC
    val wcc = GraphAlgorithms.connectedComponentsDF(edges, "s", "t")
      .where($"id" =!= "g").select("component").distinct().count()
    assert(wcc == 1)
  }

  test("scc: local Kosaraju == distributed peel, bit for bit") {
    // pseudo-random functional graph + extra chords: every vertex has
    // out-degree >= 1, cycles are the non-trivial SCCs, tree tails are
    // singletons — the shape a directed dependency feed produces
    // multiplier 4 shares a factor with n, so the map is many-to-one:
    // real tree tails (singleton SCCs) hang off the cycles
    val n = 60
    val edges = ((0 until n).map(i => (s"v$i", s"v${(i * 4 + 3) % n}")) ++
      (0 until n by 5).map(i => (s"v$i", s"v${(i + 13) % n}")))
      .toDF("s", "t")
    val local = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val dist = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t", localThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    // sanity: at least one non-trivial SCC and at least one singleton
    val sizes = local.groupBy(_._2).map(_._2.size)
    assert(sizes.exists(_ > 1) && sizes.exists(_ == 1))
  }

  test("scc: a 220-link condensation chain peels within the round budget") {
    // The round-10 peel degenerated on exactly this shape: a long
    // chain of singleton SCCs (every DAG-ish call/citation graph has
    // one) needed O(chain) rounds and O(diameter) inner joins — a
    // 200+ chain threw at maxIter=50. Trim + doubling + pair-class
    // edge drop must absorb it: two cycles (non-trivial SCCs) joined
    // by a 220-vertex chain, with side tails hanging off the chain so
    // trim has layered work too. Distributed path forced
    // (localThreshold = 0), default maxIter.
    def pad(i: Int) = f"c$i%04d" // zero-pad: UTF-8 order == numeric
    val cycleA = (0 until 12).map(i => (s"a$i", s"a${(i + 1) % 12}"))
    val cycleB = (0 until 9).map(i => (s"b$i", s"b${(i + 1) % 9}"))
    val chain = (0 until 219).map(i => (pad(i), pad(i + 1)))
    val edges = (cycleA ++ cycleB ++
      Seq(("a0", pad(0)), (pad(219), "b0")) ++ // cycleA → chain → cycleB
      (0 until 219 by 20).map(i => (pad(i), s"t$i")) // sink tails
    ).toDF("s", "t")
    val local = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val dist = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t", localThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    // shape sanity: the chain vertices are singletons, the cycles fuse
    val byComp = local.groupBy(_._2)
    assert(byComp("a0").size == 12 && byComp("b0").size == 9)
    assert(byComp(pad(100)) == Set((pad(100), pad(100))))
  }

  test("scc: delta-frontier rounds == full rounds (mass + deep chain)") {
    // r15 opt guard: minProp switches to delta-frontier rounds once
    // the changed set drops under |V|/8. This fixture forces MANY
    // delta rounds — 600 disjoint 2-cycles converge in round 1 (the
    // mass that makes the chain's frontier "small"), while a 150-link
    // chain keeps a tiny frontier moving for ~log rounds through the
    // delta path (hop + pointer-doubling + trigger bookkeeping). The
    // local Kosaraju replay is delta-free ground truth; divergence
    // here means a trigger-set soundness bug (a stale pointer
    // composition that never re-fired).
    def pad(i: Int) = f"d$i%04d"
    val mass = (0 until 600).flatMap(c =>
      Seq((s"m${c}_x", s"m${c}_y"), (s"m${c}_y", s"m${c}_x")))
    val chain = (0 until 150).map(i => (pad(i), pad(i + 1)))
    val edges = (mass ++ chain).toDF("s", "t")
    val local = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val dist = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t", localThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    val byComp = local.groupBy(_._2)
    assert(byComp(s"m7_x").size == 2)
    assert(byComp(pad(77)) == Set((pad(77), pad(77))))
  }

  test("scc: a chain OF cycles — non-trivial SCCs in a deep condensation") {
    // The harder composition: the condensation chain's nodes are
    // themselves cycles (40 six-cycles linked head-to-tail), so trim
    // never fires on them and the peel must rely on the pair-class
    // drop — cycle members share BOTH reach-set minima, so intra-cycle
    // edges survive the drop while every link edge dies, and all 40
    // SCCs peel together the next round instead of one per round
    // (which would blow maxIter at real condensation depths).
    def v(c: Int, i: Int) = f"s$c%03d_$i"
    val cycles = for (c <- 0 until 40; i <- 0 until 6)
      yield (v(c, i), v(c, (i + 1) % 6))
    val links = (0 until 39).map(c => (v(c, 0), v(c + 1, 0)))
    val edges = (cycles ++ links).toDF("s", "t")
    val local = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val dist = GraphAlgorithms
      .stronglyConnectedComponentsDF(edges, "s", "t", localThreshold = 0)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(local == dist)
    val sizes = local.groupBy(_._2).map(_._2.size).toSeq
    assert(sizes.length == 40 && sizes.forall(_ == 6),
      "every six-cycle is its own SCC despite the links")
  }

  test("orderedVertexDict: vid rank == global sort rank when AQE " +
    "coalesces the sort's shuffle") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec,
      AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    // The SCC peel's dense ids rest on zipWithIndex over the sorted
    // frame's partitions yielding global sort ranks, also when AQE
    // merges adjacent range partitions. A session clone scopes the
    // conf: 64 range partitions, width-skewed ids (one row in ten is
    // ~7× wider, so partition byte sizes differ) and a small advisory
    // size make AQE coalesce them into several uneven reads.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.shuffle.partitions", "64")
    s.conf.set("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      "false")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8k")
    s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize",
      "1k")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    s.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          plans.add(qe.executedPlan)
        def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    val n = 20000
    val verts = s.range(n).select(
      when(col("id") % 10 =!= 0, format_string("a%06d", col("id")))
        .otherwise(format_string("z%047d", col("id"))).as("id"))
    val dict = GraphAlgorithms.orderedVertexDict(verts)
    def reads(p: SparkPlan): Seq[AQEShuffleReadExec] = p match {
      case a: AdaptiveSparkPlanExec => reads(a.executedPlan)
      case q: QueryStageExec => reads(q.plan)
      case r: AQEShuffleReadExec => r +: r.children.flatMap(reads)
      case o => o.children.flatMap(reads)
    }
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 30L * 1000000000L
    def coalesced = plans.toArray(Array.empty[SparkPlan]).toSeq
      .flatMap(reads).filter(_.hasCoalescedPartition)
    while (coalesced.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(coalesced.exists(r => r.partitionSpecs.length > 1 &&
      r.partitionSpecs.length < 64),
      "AQE must have coalesced the sort's 64 range partitions into " +
        "several reads")
    val bySid = dict.collect().map(r => r.getString(0) -> r.getLong(1))
      .sortBy(_._1)(GraphAlgorithms.utf8Ordering)
    assert(bySid.length == n)
    assert(bySid.map(_._2).toSeq == (0L until n.toLong))
  }

  test("weighted integer pagerank: weights steer mass; w≡1 ≡ unweighted; " +
      "local == distributed") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hub splits its mass 9:1 between the leaves → l9 must outrank l1
    val wg = Seq(("hub", "l9", 9L), ("hub", "l1", 1L)).toDF("s", "t", "w")
    val pr = rows(GraphAlgorithms.pageRankIntDF(
      wg, "s", "t", directed = false, weight = Some("w")))
    assert(pr("l9") > pr("l1"), s"weight must steer rank mass: $pr")
    // unit weights reproduce the unweighted form bit-for-bit
    val g = Seq(("hub", "l1"), ("hub", "l2"), ("l1", "l2"), ("p", "q"))
      .toDF("s", "t")
    val unw = rows(GraphAlgorithms.pageRankIntDF(g, "s", "t",
      directed = false))
    val ones = rows(GraphAlgorithms.pageRankIntDF(
      g.withColumn("w", org.apache.spark.sql.functions.lit(1L)),
      "s", "t", directed = false, weight = Some("w")))
    assert(unw == ones, "w ≡ 1 must be bit-identical to unweighted")
    // weighted local fast path == weighted distributed loop
    for (dir <- Seq(true, false)) {
      val local = rows(GraphAlgorithms.pageRankIntDF(wg, "s", "t",
        directed = dir, weight = Some("w")))
      val dist = rows(GraphAlgorithms.pageRankIntDF(wg, "s", "t",
        directed = dir, weight = Some("w"), localThreshold = 0L))
      assert(local == dist, s"directed=$dir weighted divergence")
    }
    // parallel edges aggregate by SUM: (a,b,2)+(a,b,7) == (a,b,9)
    val par = Seq(("hub", "l9", 2L), ("hub", "l9", 7L), ("hub", "l1", 1L))
      .toDF("s", "t", "w")
    assert(rows(GraphAlgorithms.pageRankIntDF(par, "s", "t",
      directed = false, weight = Some("w"))) == pr)
  }

  test("weighted louvain: weights steer the split; w≡1 ≡ unweighted; " +
      "local == distributed") {
    def run(df: org.apache.spark.sql.DataFrame, w: Option[String],
        thr: Long = 1000000L) =
      GraphAlgorithms.louvainDF(df, "d1", "d2", weight = w,
        localThreshold = thr)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // 4-cycle with heavy opposite edges: communities must pair along
    // the HEAVY edges, whichever they are — flipping the weights must
    // flip the split (pure weight-steering, independent of label
    // tie-breaks)
    val heavyAB = Seq(("a", "b", 10L), ("b", "c", 1L),
      ("c", "d", 10L), ("d", "a", 1L)).toDF("d1", "d2", "w")
    val comAB = run(heavyAB, Some("w"))
    assert(comAB("a") == comAB("b") && comAB("c") == comAB("d") &&
      comAB("a") != comAB("c"), s"heavy a-b/c-d must pair: $comAB")
    val heavyBC = Seq(("a", "b", 1L), ("b", "c", 10L),
      ("c", "d", 1L), ("d", "a", 10L)).toDF("d1", "d2", "w")
    val comBC = run(heavyBC, Some("w"))
    assert(comBC("b") == comBC("c") && comBC("d") == comBC("a") &&
      comBC("a") != comBC("b"), s"heavy b-c/d-a must pair: $comBC")
    // unit weights reproduce the unweighted assignment exactly
    def k4(v: Seq[String]) = for {
      i <- v.indices; j <- v.indices if i < j
    } yield (v(i), v(j))
    val cliques = (k4(Seq("a", "b", "c", "d")) ++
      k4(Seq("e", "f", "g", "h")) ++ Seq(("d", "e"))).toDF("d1", "d2")
    assert(run(cliques.withColumn("w",
        org.apache.spark.sql.functions.lit(1L)), Some("w")) ==
      run(cliques, None), "w ≡ 1 must match unweighted")
    // weighted local fast path == weighted distributed fixpoint
    assert(run(heavyAB, Some("w"), thr = 0L) == comAB,
      "weighted local/distributed divergence")
    // parallel edges aggregate by SUM
    val par = Seq(("a", "b", 4L), ("b", "a", 6L), ("b", "c", 1L),
      ("c", "d", 10L), ("d", "a", 1L)).toDF("d1", "d2", "w")
    assert(run(par, Some("w")) == comAB)
  }

  test("fastRP embeddings: same-clique vertices are nearer than " +
      "cross-clique; deterministic") {
    def k4(v: Seq[String]) = for {
      i <- v.indices; j <- v.indices if i < j
    } yield (v(i), v(j))
    val cliqueA = Seq("a1", "a2", "a3", "a4")
    val cliqueB = Seq("b1", "b2", "b3", "b4")
    val pairs = (k4(cliqueA) ++ k4(cliqueB) ++ Seq(("a4", "b1")))
      .toDF("d1", "d2")
    def embed() = GraphAlgorithms
      .fastRpEmbedDF(pairs, "d1", "d2", dims = 8, iterations = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val e = embed()
    assert(e == embed(), "PRF init + integer propagation must be " +
      "deterministic across runs")
    val verts = cliqueA ++ cliqueB
    def vec(v: String): Seq[Long] = (0L until 8L).map(d => e((v, d)))
    def dotP(x: String, y: String): Long =
      vec(x).zip(vec(y)).map { case (p, q) => p * q }.sum
    def cliqueOf(v: String) = if (cliqueA.contains(v)) cliqueA else cliqueB
    // the ANN-consumption contract: every vertex's nearest neighbor by
    // (integer) dot product over the embedding is a same-clique vertex
    verts.foreach { v =>
      val nearest = verts.filter(_ != v).maxBy(u => (dotP(v, u), u))
      assert(cliqueOf(nearest) == cliqueOf(v),
        s"$v's nearest embedding neighbor $nearest crossed the bridge")
    }
  }

  test("walk embeddings: same-clique locality, exact co-occurrence " +
      "mass, deterministic") {
    import spark.implicits._
    def k4(v: Seq[String]) = for {
      i <- v.indices; j <- v.indices if i < j
    } yield (v(i), v(j))
    val cliqueA = Seq("a1", "a2", "a3", "a4")
    val cliqueB = Seq("b1", "b2", "b3", "b4")
    // DISJOINT cliques: walks can never cross, so all cross-clique
    // similarity is hash-collision noise and same-clique mass must
    // dominate it for every vertex
    val pairs = (k4(cliqueA) ++ k4(cliqueB)).toDF("d1", "d2")
    val verts = cliqueA ++ cliqueB
    val sources = verts.toDF("id")
    // dims = 64 here: with only 8 context ids, a 16-dim hash space
    // puts ~1 expected cross-clique collision on hot counts (measured:
    // b4 cross mass 168 vs same 163 at dims=16) — a small-VOCAB
    // artifact; at corpus scale collisions average out, and the
    // locality mechanism itself is what this pins
    def embed() = GraphAlgorithms
      .walkEmbedDF(pairs, "d1", "d2", sources,
        steps = 4, window = 2, dims = 64)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val e = embed()
    assert(e == embed(), "PRF walks + hashed counts must be " +
      "deterministic across runs")
    // every walk has 5 steps (cliques have no dead ends), and a
    // 5-step walk contributes exactly 2+3+4+3+2 = 14 ordered
    // co-occurrence pairs at window 2 → 8 walks × 14 = 112 total
    assert(e.values.sum == 112L,
      s"co-occurrence mass must be exact, got ${e.values.sum}")
    def vec(v: String): Seq[Long] = (0L until 64L).map(d => e.getOrElse((v, d), 0L))
    def dotP(x: String, y: String): Long =
      vec(x).zip(vec(y)).map { case (p, q) => p * q }.sum
    def cliqueOf(v: String) = if (cliqueA.contains(v)) cliqueA else cliqueB
    verts.foreach { v =>
      val same = cliqueOf(v).filter(_ != v).map(u => dotP(v, u)).sum
      val cross = verts.filterNot(cliqueOf(v).contains)
        .map(u => dotP(v, u)).sum
      assert(same > cross,
        s"$v: same-clique mass $same must exceed cross-clique $cross")
    }
  }
}
