package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.Barriers.FirewallOps

/** Link-graph centrality for crawl quality weighting — the signal real
  * web-scale corpus pipelines read before sampling (Common Crawl
  * publishes per-host centrality ranks; seed-quality weighting in
  * OpenWebText-style corpora is the same idea): pages endorsed by many
  * well-endorsed pages are likelier to be worth their tokens.
  *
  * PageRank (Page et al. 1999) by fixed-iteration power method in
  * EXACT fixed-point arithmetic: ranks are micro-unit longs (scale
  * 1e6 per node), every step is integer multiply / floor-divide / sum
  * — order-independent and bit-identical across engines and
  * partitionings, the [[graft.text.TextOps.bm25Rank]] discipline. Per
  * iteration, with damping d = dampingPct/100:
  *
  *   r'(v) = (1-d) * 1e6  +  d * Σ_{u -> v} floor(r(u) / outdeg(u))
  *
  * (floor at the contribution, then one floor after the damping
  * multiply — the pinned evaluation order). Dangling-node mass (pages
  * with no out-links) is dropped, the standard simplification; ranks
  * then sum to slightly under |V| * 1e6, which is irrelevant for the
  * ORDERING a sampler consumes. Multi-edges count multiply (a page
  * linking twice endorses twice); callers wanting simple-graph
  * semantics `.distinct()` the edge frame first.
  */
object LinkRank {

  /** Returns (node, rank_micro) over the union of source and target
    * node ids after `iterations` power steps.
    *
    * `redistributeDangling = true` adds the otherwise-dropped dangling
    * mass back each step: with M_k = Σ r_k(u) over nodes with no
    * out-links and |V| nodes, every node's next rank gains
    * `floor(d * floor(M_k / |V|) / 100)` — still exact integer (the
    * floor order is pinned), and total mass is conserved to within
    * the floors' truncation (≤ 1 micro per edge + 2 per node per
    * step; LinkRankSpec pins the bound). The default stays the
    * documented drop-the-mass simplification — the oracle anchor.
    *
    * `convergeDeltaMicro = Some(d)` stops EARLY once
    * max_v |r'(v) - r(v)| <= d (checked per iteration — one bounded
    * 1-row aggregate job); `iterations` remains the hard cap, so the
    * fixed-iteration contract is unchanged when the stop never fires.
    *
    * Scale shape: the canonical two-shuffles-per-iteration PageRank —
    * contributions shuffle on the SOURCE key (join ranks + out-degree
    * to edges), the new ranks aggregate on the TARGET key (map-side
    * combinable long sum). The edge projection and out-degree table
    * are barrier-cached once and reused by every iteration (the scan
    * is the dominant repeated cost at 100 TB), and each iteration's
    * rank frame is localCheckpoint'd so plan depth stays O(1) per
    * step instead of O(iterations) joins deep. Skewed in-degree (every
    * crawl has a google.com) lands in the TARGET aggregation — a hash
    * aggregate with partial combine, not a window, so a hot page never
    * serializes a task. The dangling-mass term is a 1-row aggregate
    * cross-joined back (broadcast by construction); the delta stop
    * adds one 1-row max-abs-diff job per iteration — both stay
    * id-scale at any corpus size. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, dampingPct: Int = 85,
      redistributeDangling: Boolean = false,
      convergeDeltaMicro: Option[Long] = None): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"dampingPct must be in [0, 100], got $dampingPct")
    require(convergeDeltaMicro.forall(_ >= 0),
      s"convergeDeltaMicro must be >= 0, got $convergeDeltaMicro")
    // barriers: every iteration joins `e` against `out` (an aggregate
    // OVER e), so materializing both runs the edge scan ONCE, not once
    // per iteration side
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst")).barrierFirewall()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    val out = e.groupBy("src").agg(count(lit(1)).as("od")).barrierFirewall()
    val base = (100 - dampingPct) * 10000L // (1-d) * 1e6
    // |V| — needed only for the dangling split; one bounded 1-row job.
    // Guarded: an empty node set would make the `__m div 0` dangling
    // term NULL and propagate silent NULL ranks instead of an error.
    val nV = if (redistributeDangling) nodes.count() else 0L
    require(!redistributeDangling || nV > 0,
      "pageRank(redistributeDangling=true) on an empty edge frame: no " +
        "vertices to redistribute the dangling mass over (the division " +
        "by |V|=0 would silently NULL every rank)")
    var r = nodes.withColumn("rank_micro", lit(1000000L))
    var i = 0
    var stopped = false
    while (i < iterations && !stopped) {
      val contrib = e
        .join(r.select(col("node").as("src"), col("rank_micro")), "src")
        .join(out, "src")
        .select(col("dst").as("node"),
          expr("rank_micro div od").as("__c"))
      val sums = contrib.groupBy("node").agg(sum("__c").as("__s"))
      val stepped = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"$dampingPct * coalesce(__s, 0L) div 100"))
            .as("rank_micro"))
      val next = (if (redistributeDangling) {
        // dangling mass: ranks of nodes with no out-links (anti-join
        // against the firewalled out-degree frame — id-scale), split
        // floor(M/|V|) per node, damped with the pinned floor order
        val dang = r.join(out, r("node") === out("src"), "left_anti")
          .agg(coalesce(sum("rank_micro"), lit(0L)).as("__m"))
          .select(expr(s"$dampingPct * (__m div $nV) div 100").as("__dm"))
        stepped.crossJoin(broadcast(dang))
          .select(col("node"),
            (col("rank_micro") + col("__dm")).as("rank_micro"))
      } else stepped).localCheckpoint()
      convergeDeltaMicro.foreach { d =>
        val maxDelta = next.join(
            r.select(col("node"), col("rank_micro").as("__prev")), "node")
          .agg(coalesce(max(abs(col("rank_micro") - col("__prev"))),
            lit(0L)).as("d"))
          .head.getLong(0)
        if (maxDelta <= d) stopped = true
      }
      r = next
      i += 1
    }
    r
  }

  /** Exact per-vertex triangle counts over the undirected SIMPLE graph
    * induced by `edges` (self-loops dropped, multi-edges collapsed,
    * direction ignored) — the local-clustering-coefficient input crawl
    * pipelines read for link-farm / spam-cluster detection (organic
    * neighborhoods close triangles; generated link rings mostly
    * don't). Returns (node, degree, triangles) for every vertex.
    *
    * Scale design — the "curse of the last reducer" construction
    * (Suri & Vassilvitskii, WWW 2011): every edge is ORIENTED from its
    * lower to its higher endpoint under the (degree, id) total order,
    * which caps out-degree at O(sqrt(2|E|)) regardless of the degree
    * distribution — a google.com-scale hub has huge IN-degree but tiny
    * OUT-degree, so the wedge self-join (out-edges paired per source,
    * the step that explodes a naive enumeration to Σ C(deg,2)) stays
    * bounded per task. Wedges (canonicalized by the same order, so
    * each triangle forms exactly ONE wedge) equi-join the oriented
    * edge set once to close; per-vertex counts are a map-side
    * combinable union+count. Every join is an equi-join; the
    * normalized edge and orientation frames are barriers (three
    * consumers each). */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val und = edges.select(
        least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .distinct().barrierFirewall()
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg")).barrierFirewall()
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
            (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("s"), col("b").as("t"), col("db").as("td")))
        .otherwise(
          struct(col("b").as("s"), col("a").as("t"), col("da").as("td")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.td").as("td"))
      .barrierFirewall()
    // wedge (w; u, v) with π(u) < π(v): the closing edge, if the
    // triangle exists, is oriented u -> v by construction, so ONE
    // equi-join probe decides it
    val wedges = oriented
      .select(col("s"), col("t").as("u"), col("td").as("ud"))
      .join(oriented.select(col("s"), col("t").as("v"),
        col("td").as("vd")), Seq("s"))
      .filter(col("ud") < col("vd") ||
        (col("ud") === col("vd") && col("u") < col("v")))
      .select(col("s").as("w"), col("u"), col("v"))
    val tri = wedges.join(
      oriented.select(col("s").as("u"), col("t").as("v")), Seq("u", "v"))
    val perVertex = tri.select(col("w").as("node"))
      .union(tri.select(col("u").as("node")))
      .union(tri.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("v").as("node"), col("deg").as("degree"))
      .join(perVertex, Seq("node"), "left")
      .withColumn("triangles", coalesce(col("triangles"), lit(0L)))
  }
}
