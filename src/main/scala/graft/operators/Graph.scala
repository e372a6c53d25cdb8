package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph analytics: PageRank (Page, Brin, Motwani & Winograd
  * 1999) over an edge table — the random-surfer importance measure,
  * used pipeline-side to weight interlinked sources (site/domain
  * authority as a quality prior, the public CommonCrawl-curation
  * signal).
  *
  * Scale shape: the classic alternating key pattern — each iteration
  * is ONE join of the edge table against the node-grain rank vector
  * (keyed by src) and ONE aggregate back to node grain (keyed by dst);
  * both exchanges carry ids and doubles, never payloads, and the edge
  * table's partitioning is reusable across iterations. Ranks are
  * checkpointed per round of [[Checkpoints.Scope.iterate]], so lineage
  * stays a round deep instead of replanning the whole chain, and the
  * driver's release rule keeps block-manager storage O(1) in `iters`
  * (spec-asserted). The RESULT is itself one checkpointed node-grain
  * vector, handed to the caller ([[Checkpoints]]).
  */
object Graph {

  /** `iters` synchronous PageRank iterations over directed `edges`
    * (`src`, `dst` long columns). Dangling nodes (no out-edges — the
    * common case in link-graph curation, where most documents are
    * linked-to but crawl no further) are handled by the standard
    * redistribution term: their rank mass re-enters through the
    * teleport distribution each step, so Σpr = 1 always
    * (spec-asserted). Dangling-FREE graphs (e.g. both-direction edge
    * sets) detect as such at setup from one anti-join count and run
    * the exact historical op chain — zero extra per-iteration cost,
    * bit-identical to the pre-dangling-support results.
    *
    * Determinism: the arithmetic per node is a fixed op chain
    * ((1−d)/N + d·Σ contribs [+ d·dm·t]); only the Σ over
    * in-neighbors (and the dangling-mass Σ) is engine/partition-order
    * sensitive (~1 ulp per iteration), so consumers round ranks before
    * comparing or ranking (q158/q161). */
  def pageRank(edges: DataFrame, iters: Int, damping: Double): DataFrame =
    pageRankImpl(edges, None, iters, damping)

  /** PERSONALIZED PageRank (Haveliwala, WWW 2002): the random surfer
    * teleports to the SEED distribution instead of uniformly, so rank
    * measures proximity to the seeds — the seed-based corpus-expansion
    * primitive ("find data like my curated seed set" over a
    * similarity/activity graph; the public web-curation shape behind
    * seed-and-expand crawls). `seeds` is (node, weight ≥ 0) with
    * positive total — weights normalize in-plan to the teleport
    * distribution t; pr₀ = t and each step is
    * (1−d)·t + d·Σ in-mass [+ d·dm·t]. Non-seed nodes get teleport 0,
    * so mass drains toward the seed neighborhood; dangling mass
    * re-enters AT THE SEEDS (the Haveliwala convention — the surfer
    * stuck at a sink restarts from the seed distribution). Same
    * per-iteration shape, determinism contract, and round-before-rank
    * consumer discipline as [[pageRank]]. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int, damping: Double): DataFrame =
    pageRankImpl(edges, Some(seeds), iters, damping)

  private def pageRankImpl(edges: DataFrame, seeds: Option[DataFrame],
                           iters: Int, damping: Double): DataFrame =
    Checkpoints.scoped { ck =>
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
    // one-time graph layout, eagerly materialized with truncated
    // lineage (the connected-components discipline): the iteration
    // loop must not replan or recompute the node set / degree-joined
    // edge list every round
    val nodes = ck.proxy(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // edge-grain (the one data-grain table in the loop): serialized
    // spill-safe storage, not deserialized row objects
    val withDeg = ck.dataGrain(e.join(outDeg, Seq("src")))
    val n = nodes.count().toDouble
    require(n > 0, "pageRank: empty edge set")
    // dangling nodes = dst-only nodes, from ONE anti-join against the
    // checkpointed edge layout's src side (no second full count);
    // node-grain but typically tiny, materialized once like the layout
    val dangling = ck.proxy(nodes.join(
        withDeg.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti"))
    val nDangling = dangling.count()
    // teleport distribution: uniform 1/n (a LAZY constant projection of
    // the checkpointed node set — a checkpoint of its own would be one
    // more node-grain copy job for a column the plan folds to a
    // literal), or the normalized seed weights (a join — materialized
    // once like the layout)
    val tele = seeds match {
      case None =>
        nodes.withColumn("t", lit(1.0 / n))
      case Some(sd) =>
        val sw = sd.select(col("node").cast("long").as("node"),
          col("weight").cast("double").as("w"))
        val tot = sw.agg(sum(col("w")).as("tw"))
        val twRow = tot.head()
        require(!twRow.isNullAt(0) && twRow.getDouble(0) > 0,
          "personalizedPageRank: seed weights must have positive total")
        ck.proxy(nodes.join(sw, Seq("node"), "left")
          .crossJoin(broadcast(tot))
          .select(col("node"),
            (coalesce(col("w"), lit(0.0)) / col("tw")).as("t")))
    }
    // the uniform path keeps its exact historical arithmetic
    // ((1−d)/n as ONE division — the q158 oracle replays that op
    // chain); the personalized path is (1−d)·t_v per node (q159's)
    val teleTerm: Column =
      if (seeds.isEmpty) lit((1.0 - damping) / n)
      else lit(1.0 - damping) * col("t")
    // one synchronous iteration over a rank vector
    def iteration(pr: DataFrame): DataFrame = {
      val contribs = withDeg
        .join(pr, withDeg("src") === pr("node"))
        .select(col("dst").as("node"), (col("pr") / col("deg")).as("c"))
        .groupBy("node").agg(sum(col("c")).as("in_mass"))
      val base = tele.join(contribs, Seq("node"), "left")
      if (nDangling == 0)
        // dangling-free: the historical op chain, bit-identical
        base.select(col("node"),
          (teleTerm +
            lit(damping) * coalesce(col("in_mass"), lit(0.0))).as("pr"))
      else {
        // dangling mass dm = Σ pr over sink nodes (1-row aggregate
        // over the small dangling join), redistributed through the
        // teleport: + d·dm·t_v — Σpr stays exactly 1 per step
        val dm = pr.join(dangling, Seq("node"))
          .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
        base.crossJoin(broadcast(dm))
          .select(col("node"),
            (teleTerm +
              lit(damping) * coalesce(col("in_mass"), lit(0.0)) +
              lit(damping) * col("dm") * col("t")).as("pr"))
      }
    }
    // pr₀ = t: lazy — the first iteration reads it off the tele/node
    // checkpoint; a dedicated pr₀ copy job buys nothing.
    // A round runs TWO lazy iterations on dangling-FREE graphs (each
    // checkpoint job then computes two joined steps — half the
    // materialization jobs for the same shuffles, values bit-identical
    // because a checkpoint never changes arithmetic); dangling graphs
    // run one — their dm sub-aggregate re-reads pr, and a lazy pr would
    // recompute the previous step once per reference.
    val stride = if (nDangling == 0) 2 else 1
    val pr0 = tele.select(col("node"), col("t").as("pr"))
    ck.iterate(pr0, ck.proxy) { (pr, round) =>
      val done = round * stride
      if (done >= iters) None
      else Some((done until math.min(done + stride, iters))
        .foldLeft(pr)((p, _) => iteration(p)))
    }._1
  }

  /** Per-node TRIANGLE counts and local clustering coefficients over an
    * undirected pair list — the dup-graph diagnostic behind "are these
    * near-dup edges a community or a hairball": transitivity separates
    * template families (cliques → cc ≈ 1) from chains of borderline
    * matches (cc ≈ 0), which decides whether cluster-collapse dedup
    * (q57/q58) or pairwise review is appropriate.
    *
    * Algorithm: degree-ordered edge orientation (the classic
    * MapReduce/GraphX device — Suri & Vassilvitskii WWW 2011): every
    * edge points UP the total order (degree, id), so each triangle is
    * enumerated exactly once as a wedge at its lowest vertex plus one
    * closure probe, and a node's wedge fan-out is bounded by its
    * ORIENTED out-degree ≤ O(√m) rather than its raw degree — the hub
    * that would explode a naive wedge join fans out only to its few
    * higher-degree peers.
    *
    * Scale shape: one degree aggregate, two id-keyed joins to attach
    * order keys, one wedge self-join keyed on the low vertex, one
    * closure LEFT-SEMI keyed on (v, w) — every exchange is node- or
    * edge-grain, nothing is corpus-sized beyond the edge list itself.
    * Input must be unique unordered pairs (id_a < id_b, as the dedup
    * pair generators emit). All outputs are exact integers; clustering
    * = 2T/(d(d−1)) is an exact-int IEEE ratio — no rounding needed. */
  def triangleStats(pairs: DataFrame, aCol: String = "id_a",
                    bCol: String = "id_b"): DataFrame =
    Checkpoints.scoped { ck =>
    val e = pairs.select(col(aCol).cast("long").as("u"),
      col(bCol).cast("long").as("v"))
    val und = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val deg = und.groupBy(col("u").as("n")).agg(count(lit(1)).as("d"))
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    // orient up the (degree, id) total order; keep the head's order key
    // so the wedge join can order its two out-neighbors without a third
    // degree lookup
    // the oriented list feeds THREE branches (both wedge sides + the
    // closure semi-join); EDGE-grain, so it materializes serialized +
    // spill-safe (dataGrain) — the r20 deserialized checkpoint of this
    // exact table was the worst 32-core driver-rig regression — while
    // still computing the degree-attach joins once, not once per branch
    val o = ck.dataGrain(
      und.join(du, Seq("u")).join(dv, Seq("v"))
        .filter(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")))
        .select(col("u"), col("v"), col("dv")))
    val x = o.select(col("u"), col("v"), col("dv").as("dv1"))
    val y = o.select(col("u"), col("v").as("w"), col("dv").as("dv2"))
    val wedges = x.join(y, Seq("u"))
      .filter(col("dv1") < col("dv2") ||
        (col("dv1") === col("dv2") && col("v") < col("w")))
      .select(col("u"), col("v"), col("w"))
    val tri = wedges.join(
      o.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"),
      "left_semi")
    val perNode = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("n"), "left")
      .select(col("n").as("id"), col("d").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("d") > 1,
          coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
            (col("d") * (col("d") - 1L)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }
}
