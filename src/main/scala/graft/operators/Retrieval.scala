package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Text

/** BM25 retrieval scoring over a document corpus — the ranking half of
  * data curation (find the training docs most relevant to a probe query;
  * the same scorer backs quality-by-relevance filtering and train-set
  * search tooling).
  *
  * score(D, Q) = Σ_{t∈Q} idf(t) · f(t,D)·(k1+1) /
  *                        (f(t,D) + k1·(1 − b + b·|D|/avgdl)),
  * idf(t) = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (Robertson–Spärck
  * Jones, the Okapi BM25 formulation).
  *
  * Scale shape (shared by both entry points — ONE scoring pipeline, so
  * the formula cannot drift between them): the token explode is
  * semi-joined against the broadcast union of query terms BEFORE any
  * exchange — at 100 TB the stream that shuffles is only matching
  * (doc, term) occurrences, a vanishing fraction of the corpus token
  * count. Corpus stats (N, avgdl) are a 1-row aggregate and the
  * per-term idf table has |terms| rows — both broadcast. The tokenized
  * corpus is persisted (two consumers: the stats aggregate and the tf
  * explode would otherwise re-tokenize); it passes to the caller, and
  * [[Checkpoints.release]] on the materialized result frees it. */
object Retrieval {

  /** Shared Okapi scoring: `q` is a normalized (query_id, term) table;
    * returns one (query_id, id, score) row per query × matching doc,
    * score rounded to 6 decimals (the cross-engine determinism
    * contract). */
  private def scores(docs: DataFrame, idCol: String, textCol: String,
                     q: DataFrame, k1: Double, b: Double): DataFrame =
    Checkpoints.scoped { ck =>
    val base = ck.shared(docs.select(col(idCol).as("id"),
        Text.tokens(lower(col(textCol))).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double")))
    val stats = base.agg(count(lit(1)).cast("double").as("__n"),
      avg(col("dl")).as("__avgdl"))
    val tf = base.select(col("id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(q.select("term").distinct()), Seq("term"), "left_semi")
      .groupBy(col("id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("f"))
    val idf = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("__n") - col("df") + 0.5) / (col("df") + 0.5)))
      .select("term", "idf", "__avgdl")
    tf.join(broadcast(idf), Seq("term"))
      .withColumn("part", col("idf") * col("f") * lit(k1 + 1) /
        (col("f") + lit(k1) *
          (lit(1 - b) + lit(b) * col("dl") / col("__avgdl"))))
      .join(broadcast(q), Seq("term"))
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum(col("part")), 6).as("score"))
  }

  /** Single-query BM25: one (id, score) row per doc matching ≥ 1 term.
    * Terms are normalized INSIDE the operator (lowercase + distinct):
    * document tokens are lowercased, so mixed-case caller terms would
    * silently score zero, and duplicate terms would silently collapse —
    * distinct makes the bag-of-terms contract (each distinct term
    * scored once) explicit. Expressed as [[scores]] over a one-query
    * table. */
  def bm25(docs: DataFrame, idCol: String, textCol: String,
           queryTerms: Seq[String], k1: Double = 1.2,
           b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    val q = queryTerms.map(t => (0L, t.toLowerCase)).distinct
      .toDF("query_id", "term")
    scores(docs, idCol, textCol, q, k1, b).select("id", "score")
  }

  /** Multi-query BM25 top-k: score the corpus against a QUERY TABLE
    * (`queryIdCol`, `termsCol` array<string>) in ONE corpus pass and
    * return the top `k` docs per query — the batch-retrieval shape
    * (relevance-filter a training corpus against a whole probe set, not
    * one literal query). The query set can itself be a computed
    * DataFrame — no driver-side collect anywhere.
    *
    * One shared (doc, term) tf aggregate and corpus-global idf serve
    * every query; matched partials fan out to the queries containing
    * the term via a broadcast join, and the per-(query, doc) sum is the
    * only query-cardinality shuffle. The final top-k is a rank window
    * per query_id — Spark rewrites the `row_number <= k` filter to
    * WindowGroupLimit, so each partition retains k rows per query
    * instead of sorting its full score list. Per-query term
    * normalization (lowercase + distinct) happens in-plan, same
    * contract as [[bm25]]. */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queries: DataFrame, queryIdCol: String, termsCol: String,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be positive")
    val q = queries.select(col(queryIdCol).as("query_id"),
        explode(col(termsCol)).as("term"))
      .select(col("query_id"), lower(col("term")).as("term"))
      .distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id"))
    scores(docs, idCol, textCol, q, k1, b)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher 2009) of a
    * sparse and a dense ranking — the standard hybrid-retrieval
    * combiner (and the hard-negative-mining shape: lexical and
    * embedding rankers disagree exactly where the hard negatives
    * live). Each input carries (query_id, id, rank) — top-k lists from
    * [[bm25TopK]] and an ANN ranker; rrf = Σ_r 1/(kRrf + rank_r) over
    * the lists that ranked the doc, re-ranked per query with the id as
    * the deterministic tiebreaker (symmetric rank pairs tie exactly).
    *
    * Scale: both inputs are top-k lists — |queries|·k rows — so the
    * full-outer merge and the re-rank window run on bounded data no
    * matter the corpus size; the heavy lifting stays in the upstream
    * rankers, which keep their own scale shapes. The fused score is
    * two IEEE divisions and one add in fixed order, bit-reproducible
    * across engines; it is ROUNDED (6 places) before the re-rank so
    * no ordering decision sits on an ulp. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame,
              kRrf: Int = 60, topK: Int = 10): DataFrame = {
    require(kRrf >= 1 && topK >= 1, "kRrf and topK must be positive")
    val s = sparse.select(col("query_id"), col("id"), col("rank").as("r_sparse"))
    val d = dense.select(col("query_id"), col("id"), col("rank").as("r_dense"))
    val fused = s.join(d, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(kRrf) + col("r_sparse")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(kRrf) + col("r_dense")), lit(0.0)), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id"))
    fused.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("id"), col("rrf"), col("rank"))
  }

  /** KNOWN-ITEM retrieval evaluation — the quality readout of the
    * retrieval stack: each probe query has exactly one relevant doc
    * (its own source, `query_id == id`), and the metric is the
    * reciprocal rank of that doc in the top-k (0 when missed) plus the
    * corpus MRR. Everything after the ranking runs at result grain
    * (|queries|·k rows): one filter, a broadcast-sized left join back
    * to the probe list, a |queries|-row average. rr is an exact
    * integer-ratio double; MRR (the one cross-query float sum) rounds
    * at 6. */
  /** RANK-BIASED OVERLAP between two retrieval runs (Webber, Moffat &
    * Zobel TOIS 2010, prefix-truncated form): per query,
    * RBO@D = (1−p)·Σ_{d=1..D} p^{d−1}·|A_d ∩ B_d|/d — the standard
    * top-weighted similarity between two RANKERS (parameter sweep,
    * ranker upgrade, sparse-vs-dense disagreement), where plain set
    * overlap ignores order and Kendall's τ needs conjoint lists.
    *
    * Each input carries (queryCol, idCol, rankCol) top-D rows (the
    * [[bm25TopK]]/[[rrfFuse]] shape). Everything runs at RESULT grain:
    * shared docs join on (query, id); a doc enters every prefix from
    * depth max(ra, rb) on, so per (query, depth) agreement is one
    * aggregate over a spine×shared fan-out bounded by |queries|·D² —
    * result-list arithmetic, never corpus data.
    *
    * Determinism: agreement terms are exact integer ratios; pick a
    * DYADIC p (default 0.75: numerators 3^d are float-exact through
    * d=33) so the geometric weights are bit-identical across engines,
    * and the one cross-term float sum (≤ D terms) rounds at 6.
    * Output: (queryCol, rbo, n_shared = |A_D ∩ B_D|). */
  def rankBiasedOverlap(runA: DataFrame, runB: DataFrame,
                        queryCol: String, idCol: String, rankCol: String,
                        depth: Int, p: Double = 0.75): DataFrame =
    Checkpoints.scoped { ck =>
    require(depth >= 1, "depth must be positive")
    require(p > 0 && p < 1, "p must be in (0, 1)")
    // each run feeds TWO branches (the shared-overlap join and the
    // query spine), so it materializes once — while an un-materialized
    // run (e.g. a full BM25 ranking) would execute once per branch
    // (measured: 118 exchanges in q192's un-checkpointed plan). The
    // depth filter and the 3-column projection sit ABOVE the
    // checkpoint (r20 left them below it), so what materializes is
    // ≤ |Q|·depth narrow rows even when a caller passes an unbounded
    // ranking. Contract: rows with rank > depth are ignored entirely —
    // a query whose rows all exceed `depth` contributes nothing (same
    // as absent; the bm25TopK/rrfFuse top-k shape always carries
    // rank 1, so such queries do not arise from the library rankers).
    def side(df: DataFrame, out: String) =
      ck.proxy(df.select(col(queryCol), col(idCol),
          col(rankCol).cast("long").as(out))
        .filter(col(out) <= depth))
    val a = side(runA, "ra")
    val b = side(runB, "rb")
    val shared = a.join(b, Seq(queryCol, idCol))
      .select(col(queryCol), greatest(col("ra"), col("rb")).as("m"))
    val qs = a.select(queryCol).unionByName(b.select(queryCol))
      .distinct()
    val spine = qs.select(col(queryCol),
      explode(sequence(lit(1), lit(depth))).as("d"))
    spine.join(shared, Seq(queryCol), "left")
      .groupBy(queryCol, "d")
      .agg(sum(when(col("m") <= col("d"), 1L).otherwise(0L)).as("ov"))
      .groupBy(queryCol)
      .agg(
        round(sum(col("ov").cast("double") / col("d") *
          pow(lit(p), col("d") - 1)) * (1 - p), 6).as("rbo"),
        max(when(col("d") === depth, col("ov"))).cast("long")
          .as("n_shared"))
  }

  def knownItemEval(topk: DataFrame, probes: DataFrame,
                    queryIdCol: String, idCol: String): DataFrame = {
    val self = topk.filter(col(idCol) === col(queryIdCol))
      .select(col(queryIdCol), col("rank").as("self_rank"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    probes.select(col(queryIdCol)).distinct()
      .join(self, Seq(queryIdCol), "left")
      .withColumn("rr", coalesce(lit(1.0) / col("self_rank"), lit(0.0)))
      .withColumn("mrr", round(avg(col("rr")).over(all), 6))
  }
}
