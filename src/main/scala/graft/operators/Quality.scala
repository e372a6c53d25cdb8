package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document-quality CURATION gates — the accept/reject decision layer
  * of a pretraining pipeline, downstream of the raw signals
  * (`functions.Text`) and upstream of selection (`Selection`): the
  * Gopher-style rule gate (Rae et al. 2021 §A1.1: hard per-rule
  * bounds, a document fails if ANY rule fires) and CCNet-style
  * perplexity bucketing (Wenzek et al. 2020: language-model scores
  * split the corpus into head/middle/tail terciles). Both published,
  * both the standard knobs behind released pretraining corpora.
  * (Ref analogue: the reference's vote/quality threshold gates,
  * `docs/top_movies.sql:4-9`, applied to corpus curation.)
  */
object Quality {

  /** Gopher-style rule gate: per-document hard bounds, each emitted as
    * its own 0/1 flag plus the conjunction (`passes`) — the per-rule
    * flags are what corpus cards report (what fraction failed which
    * rule) and what lets downstream stages relax one rule without
    * re-running the gate. Rules (defaults = the published Gopher
    * bounds where one exists, adapted to the word grain):
    *   - `r_words`:    word count in [minWords, maxWords]
    *   - `r_word_len`: mean word length in [minMeanLen, maxMeanLen]
    *   - `r_stop`:     at least `minStopwords` stopword occurrences
    *   - `r_rep`:      top-2-gram token coverage <= maxTop2Frac
    *     (the [[graft.plans.exprs.topNgramFrac]] repetition kernel)
    *   - `r_dup`:      duplicate-token fraction <= maxDupFrac
    *
    * Every metric is emitted ROUNDED (6 places) and every flag is
    * derived from the rounded value, so a SQL oracle replaying the
    * same integer-count arithmetic compares bit-equal — no threshold
    * sits on an ulp. One narrow codegen'd projection per row: no
    * shuffle, no UDF, embarrassingly parallel at any corpus size
    * (the repetition kernel is the one non-built-in — a native
    * one-pass Catalyst expression). */
  def gopherGate(docs: DataFrame, idCol: String, textCol: String,
                 stopwords: Seq[String],
                 minWords: Int = 30, maxWords: Int = 80,
                 minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                 minStopwords: Int = 2,
                 maxTop2Frac: Double = 0.1,
                 maxDupFrac: Double = 0.55): DataFrame = {
    import graft.functions.{Clean, Text}
    val toks = Text.tokens(lower(col(textCol)))
    val nTok = size(toks).cast("long")
    val sw = array(stopwords.map(lit): _*)
    val meanLen = round(
      length(translate(col(textCol), " ", "")).cast("double") / nTok, 6)
    val top2 = round(Text.topNgramFrac(lower(col(textCol)), 2), 6)
    val dupFrac = round(
      (nTok - size(array_distinct(toks))).cast("double") / nTok, 6)
    val nStop = size(filter(toks, t => array_contains(sw, t))).cast("long")
    docs.select(col(idCol).as("id"), nTok.as("n_words"),
        meanLen.as("mean_word_len"), top2.as("top2_frac"),
        dupFrac.as("dup_frac"), nStop.as("n_stop"))
      .withColumn("r_words",
        Clean.flag(col("n_words").between(minWords, maxWords)))
      .withColumn("r_word_len",
        Clean.flag(col("mean_word_len").between(minMeanLen, maxMeanLen)))
      .withColumn("r_stop", Clean.flag(col("n_stop") >= minStopwords))
      .withColumn("r_rep", Clean.flag(col("top2_frac") <= maxTop2Frac))
      .withColumn("r_dup", Clean.flag(col("dup_frac") <= maxDupFrac))
      .withColumn("passes", Clean.flag(
        col("r_words") + col("r_word_len") + col("r_stop") +
          col("r_rep") + col("r_dup") === 5L))
  }

  /** CCNet-style perplexity bucketing: score every document under a
    * corpus-trained unigram language model (perplexity = exp of the
    * mean token surprisal), then split into head/middle/tail at the
    * corpus terciles — LOW perplexity is "head", the slice CCNet
    * treats as highest quality. A unigram LM stands in for CCNet's
    * KenLM 5-gram (no external model artifacts in this environment);
    * the SHAPE — train on the corpus, score per doc, bucket at
    * quantiles — is the published pipeline, and a higher-order LM
    * drops into the same plan (the vocab table keys on the n-gram
    * instead of the token).
    *
    * Scale plan: ONE corpus-sized shuffle (the vocab count, token-
    * keyed, map-side partial agg) and one id-keyed doc aggregate; the
    * vocab joins back by BROADCAST (a natural-language vocabulary is
    * executor-memory-bounded; switch the hint to a sort-merge join on
    * the token if it ever is not), the token total rides the vocab
    * table as a 1-row aggregate, and the tercile boundaries come back
    * through the broadcast-1-row gate — the scored corpus is never
    * reshuffled to be bucketed. THREE tables persist, each with two
    * consumers: the exploded tokens (the vocab aggregate and the
    * scoring join — unpersisted, the corpus would tokenize twice; the
    * [[Retrieval]] `scores` convention), the vocab (|V| rows — the
    * 1-row total and the broadcast join), and the scored set (|docs|
    * rows — the boundary aggregate and the final projection); they
    * pass to the caller, and [[Checkpoints.release]] on the
    * materialized result frees them. Perplexities are ROUNDED (6
    * places) before the boundary quantile AND the comparison, so both
    * engines interpolate identical inputs (R-7 on both, exact IEEE on
    * equal inputs — the q87 argument) and no bucket boundary sits on a
    * float-sum ulp. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String)(
      implicit spark: SparkSession): DataFrame =
    Checkpoints.scoped { ck =>
    val toks = ck.shared(docs.select(col(idCol).as("id"),
      explode(graft.functions.Text.tokens(lower(col(textCol)))).as("tok")))
    val vocab = ck.shared(toks.groupBy("tok").agg(count(lit(1)).as("cnt")))
    unigramBucketsFrom(toks, vocab)
  }

  /** [[perplexityBuckets]]' scoring stage over a prepared exploded
    * token table and its vocabulary count table (`tok`, `cnt`) — the
    * arithmetic chain is the historical op order verbatim, so the
    * rounded ppl values are bit-identical whichever entry point built
    * the base. */
  private def unigramBucketsFrom(toks: DataFrame,
                                 vocab: DataFrame): DataFrame =
    Checkpoints.scoped { ck =>
    val total = vocab.agg(sum("cnt").as("total"))
    val scored = ck.shared(toks.join(broadcast(vocab), Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("id"))
      .agg(round(exp(-avg(log(col("cnt").cast("double") / col("total")))), 6)
        .as("ppl")))
    val bounds = scored.agg(
      percentile(col("ppl"), lit(1.0 / 3)).as("t33"),
      percentile(col("ppl"), lit(2.0 / 3)).as("t66"))
    scored.crossJoin(broadcast(bounds))
      .select(col("id"), col("ppl"),
        when(col("ppl") <= col("t33"), "head")
          .when(col("ppl") <= col("t66"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** A corpus-trained BIGRAM language model with Jelinek-Mercer
    * interpolation against the unigram (the first step up the LM
    * hierarchy from [[perplexityBuckets]]; the KenLM-class top end is
    * [[knTrigramPerplexityBuckets]]) —
    * P(w|v) = λ·c(v,w)/c(v,·) + (1−λ)·c(w)/N — scored as perplexity
    * per document and bucketed at the corpus terciles exactly like
    * the unigram path (first token scores under the unigram alone;
    * single-token documents degrade to pure unigram perplexity).
    * λ defaults to 0.75 because 0.75 and its complement 0.25 are
    * EXACT binary doubles: both engines of a cross-engine replay
    * compute bit-identical interpolands, so no bucket boundary can
    * sit on a decimal-literal ulp (the 1−0.8 trap).
    *
    * Scale plan — the unigram plan plus one bigram-keyed shuffle:
    * bigram positions come from a NARROW `zip_with(slice,slice)`
    * fan-out (no per-document window sort), the bigram vocabulary is
    * one map-side-combined aggregate, and the context totals c(v,·)
    * derive from that vocabulary (|V₂| rows), never from a second
    * corpus pass. Scoring joins broadcast (a natural-language bigram
    * vocabulary is executor-memory-bounded; switch to sort-merge on
    * the pair if it ever is not), and the terciles ride the
    * broadcast-1-row gate — the corpus is never reshuffled to be
    * bucketed. Persisted: the token-array base (3 consumers), the
    * bigram positions (2), the unigram vocab (3), the bigram vocab
    * (2), the scored set (2); [[Checkpoints.release]] on the
    * materialized result frees them. */
  def bigramPerplexityBuckets(docs: DataFrame, idCol: String,
                              textCol: String, lambda: Double = 0.75)(
      implicit spark: SparkSession): DataFrame =
    Checkpoints.scoped { ck =>
    val base = ck.shared(docs.select(col(idCol).as("id"),
      graft.functions.Text.tokens(lower(col(textCol))).as("w")))
    val toks = base.select(col("id"), explode(col("w")).as("tok"))
    val uni = ck.shared(toks.groupBy("tok").agg(count(lit(1)).as("c1")))
    bigramBucketsFrom(base, uni, lambda)
  }

  /** Both LM trainings over ONE tokenize + unigram-count base — the
    * DoReMi-ensemble entry point (q172/q175/q264 train the unigram
    * proxy AND the bigram reference over the SAME corpus slice): the
    * token-array scan and the token-keyed vocabulary shuffle — the two
    * corpus-sized pieces the separate entry points each pay — run
    * once and feed both models (guide §2.4). Returns (unigram buckets,
    * bigram buckets); each output's arithmetic chain is its historical
    * op order verbatim, so ppl values and buckets are bit-identical to
    * the separate entry points. */
  def uniAndBigramPerplexityBuckets(docs: DataFrame, idCol: String,
                                    textCol: String, lambda: Double = 0.75)(
      implicit spark: SparkSession): (DataFrame, DataFrame) =
    Checkpoints.scoped { ck =>
    val base = ck.shared(docs.select(col(idCol).as("id"),
      graft.functions.Text.tokens(lower(col(textCol))).as("w")))
    val toks = base.select(col("id"), explode(col("w")).as("tok"))
    val uni = ck.shared(toks.groupBy("tok").agg(count(lit(1)).as("c1")))
    (unigramBucketsFrom(toks, uni.withColumnRenamed("c1", "cnt")),
      bigramBucketsFrom(base, uni, lambda))
  }

  /** [[bigramPerplexityBuckets]]' model + scoring stages over a
    * prepared token-array base (`id`, `w`) and unigram count table
    * (`tok`, `c1`), both persisted by the caller. */
  private def bigramBucketsFrom(base: DataFrame, uni: DataFrame,
                                lambda: Double): DataFrame =
    Checkpoints.scoped { ck =>
    require(lambda > 0 && lambda <= 1, "lambda must be in (0, 1]")
    val total = uni.agg(sum("c1").as("total"))
    val pairs = ck.shared(base.select(col("id"),
      explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => struct(a.as("prev"), b.as("cur")))).as("bg"))
      .select(col("id"), col("bg.prev").as("prev"), col("bg.cur").as("cur")))
    val bi = ck.shared(pairs.groupBy("prev", "cur").agg(count(lit(1)).as("c2")))
    val ctx = bi.groupBy("prev").agg(sum("c2").as("cctx"))
    // operand order mirrors the SQL replay verbatim: coeff * (ratio),
    // ratios first (int/int division is an exact IEEE double on every
    // engine), then one multiply, one add — all deterministic
    val interp = lit(lambda) * (col("c2").cast("double") / col("cctx")) +
      (lit(1.0) - lit(lambda)) * (col("c1").cast("double") / col("total"))
    val s2 = pairs
      .join(broadcast(bi), Seq("prev", "cur"))
      .join(broadcast(ctx), Seq("prev"))
      .join(broadcast(uni.withColumnRenamed("tok", "cur")), Seq("cur"))
      .crossJoin(broadcast(total))
      .groupBy("id")
      .agg(sum(-log(interp)).as("s2"), count(lit(1)).as("n2"))
    val s1 = base.select(col("id"), element_at(col("w"), 1).as("tok"))
      .join(broadcast(uni), Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col("id"),
        (-log(col("c1").cast("double") / col("total"))).as("s1"))
    val scored = ck.shared(s1.join(s2, Seq("id"), "left")
      .select(col("id"), round(exp(
        (col("s1") + coalesce(col("s2"), lit(0.0))) /
          (lit(1L) + coalesce(col("n2"), lit(0L))).cast("double")), 6)
        .as("ppl")))
    val bounds = scored.agg(
      percentile(col("ppl"), lit(1.0 / 3)).as("t33"),
      percentile(col("ppl"), lit(2.0 / 3)).as("t66"))
    scored.crossJoin(broadcast(bounds))
      .select(col("id"), col("ppl"),
        when(col("ppl") <= col("t33"), "head")
          .when(col("ppl") <= col("t66"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Interpolated Kneser-Ney TRIGRAM perplexity bucketing — the
    * KenLM-class smoothing [[bigramPerplexityBuckets]]' scaladoc
    * promised, on the same n-gram-keyed plan (Chen & Goodman 1999's
    * interpolated KN, the smoothing inside CCNet's KenLM scorer).
    * Discount D = 0.75 (exact binary double, the 1−0.8 argument).
    *
    * Every model table derives from ONE trigram-type table t3 =
    * {(u,v,w) → c3}; the lower orders use CONTINUATION counts — the
    * number of distinct contexts an n-gram completes, not its raw
    * frequency (the KN insight: "Francisco" is frequent but only ever
    * follows "San"):
    *   - trigram level:  P(w|u,v) = max(c3−D,0)/c(u,v)
    *                     + D·N1+(u,v,·)/c(u,v) · P(w|v)
    *     with c(u,v) = Σ_w c3 and N1+(u,v,·) = distinct w after (u,v);
    *   - bigram level:   counts are c'(v,w) = N1+(·,v,w) = distinct u
    *     preceding (v,w) — i.e. count(*) over t3 at the (v,w) margin:
    *     P(w|v) = max(c'(v,w)−D,0)/N1+(·,v,·)
    *              + D·N1+(v,·)/N1+(·,v,·) · Pcont(w);
    *   - unigram level:  Pcont(w) = N1+(·,w)/N1+(··) (distinct
    *     predecessors over total bigram continuation types).
    * Token positions score under the highest order their context
    * allows: position 1 under Pcont, position 2 under the bigram
    * level, positions ≥3 under the trigram level. Scoring the
    * training corpus itself, every position-≥3 event is IN t3 by
    * construction, so that path's joins are all inner-safe; only
    * positions 1-2 can hit unseen events (a token that never appears
    * trigram-final anywhere — e.g. only ever in 2-token documents),
    * guarded by half-a-type mass (0.5/N1+(··), exact) and, for an
    * unseen bigram context, full backoff to Pcont.
    *
    * Scale plan — [[bigramPerplexityBuckets]]' shape one order up:
    * the trigram fan-out is a NARROW element_at transform (no window
    * sort), t3 is one map-side-combined aggregate, and every lower-
    * order table (ctx3, continuation-bigrams, ctx2, continuation-
    * unigrams, the 1-row type total) derives from t3 / its margins —
    * the corpus is touched wide exactly once. Scoring joins on the
    * trigram and continuation-bigram tables are LEFT UNHINTED: a
    * 100 TB trigram vocabulary is not executor-memory-bounded, so the
    * planner picks sort-merge there (AQE broadcasts at small SF),
    * while the |V|-bounded unigram tables and the 1-row total ride
    * broadcasts. Arithmetic operand order mirrors the SQL replay
    * verbatim (integer counts → exact-double ratios → one multiply
    * chain), so both engines agree to the 6-place rounding the
    * tercile boundaries compare at. Persisted: the token-array base
    * (3 consumers), the trigram occurrences (2), t3 (3), the (v,w)
    * continuation table (4), the scored set (2);
    * [[Checkpoints.release]] on the materialized result frees them. */
  def knTrigramPerplexityBuckets(docs: DataFrame, idCol: String,
                                 textCol: String, discount: Double = 0.75)(
      implicit spark: SparkSession): DataFrame =
    Checkpoints.scoped { ck =>
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val dD = lit(discount)
    val base = ck.shared(docs.select(col(idCol).as("id"),
      graft.functions.Text.tokens(lower(col(textCol))).as("w")))
    // narrow trigram fan-out; <3-token docs contribute no trigrams (the
    // sequence guard keeps bounds ascending — the q85 discipline)
    val tri = ck.shared(base.select(col("id"), explode(
        when(size(col("w")) >= 3, transform(
          sequence(lit(1), size(col("w")) - 2),
          i => struct(element_at(col("w"), i).as("u"),
            element_at(col("w"), i + 1).as("v"),
            element_at(col("w"), i + 2).as("wd"))))
          .otherwise(array().cast("array<struct<u:string,v:string,wd:string>>")))
        .as("t"))
      .select(col("id"), col("t.u").as("u"), col("t.v").as("v"),
        col("t.wd").as("wd")))
    val t3 = ck.shared(tri.groupBy("u", "v", "wd").agg(count(lit(1)).as("c3")))
    val ctx3 = t3.groupBy("u", "v")
      .agg(sum("c3").as("cuv"), count(lit(1)).as("n3"))
    // continuation counts: one row per (v,w) trigram margin, its count =
    // distinct preceding u (t3 rows are distinct types)
    val cb = ck.shared(t3.groupBy(col("v"), col("wd"))
      .agg(count(lit(1)).as("cbw")))
    val ctx2 = cb.groupBy("v").agg(sum("cbw").as("scv"), count(lit(1)).as("n2"))
    val cu = cb.groupBy("wd").agg(count(lit(1)).as("cw"))
    val tt = cb.agg(count(lit(1)).as("tt"))
    // positions >= 3: trigram KN; every join inner (events are in-model)
    val pc3 = col("cw").cast("double") / col("tt")
    val p2of3 = greatest(col("cbw") - dD, lit(0.0)) / col("scv") +
      ((dD * col("n2")) / col("scv")) * pc3
    val s3 = tri
      .join(t3, Seq("u", "v", "wd"))
      .join(ctx3, Seq("u", "v"))
      .join(cb, Seq("v", "wd"))
      .join(broadcast(ctx2), Seq("v"))
      .join(broadcast(cu), Seq("wd"))
      .crossJoin(broadcast(tt))
      .groupBy("id")
      .agg(sum(-log(
        greatest(col("c3") - dD, lit(0.0)) / col("cuv") +
          ((dD * col("n3")) / col("cuv")) * p2of3)).as("s3"),
        count(lit(1)).as("n3cnt"))
    // position 2: bigram KN with unseen guards (left joins)
    val pcG = coalesce(col("cw").cast("double"), lit(0.5)) / col("tt")
    val s2 = base.filter(size(col("w")) >= 2)
      .select(col("id"), element_at(col("w"), 1).as("v"),
        element_at(col("w"), 2).as("wd"))
      .join(cb, Seq("v", "wd"), "left")
      .join(broadcast(ctx2), Seq("v"), "left")
      .join(broadcast(cu), Seq("wd"), "left")
      .crossJoin(broadcast(tt))
      .select(col("id"), (-log(
        when(col("scv").isNull, pcG).otherwise(
          greatest(coalesce(col("cbw"), lit(0L)) - dD, lit(0.0)) / col("scv") +
            ((dD * col("n2")) / col("scv")) * pcG))).as("s2"))
    // position 1: unigram continuation probability, same unseen guard
    val s1 = base.select(col("id"), element_at(col("w"), 1).as("wd"))
      .join(broadcast(cu), Seq("wd"), "left")
      .crossJoin(broadcast(tt))
      .select(col("id"), (-log(pcG)).as("s1"))
    val scored = ck.shared(s1
      .join(s2, Seq("id"), "left")
      .join(s3, Seq("id"), "left")
      .select(col("id"), round(exp(
        (col("s1") + coalesce(col("s2"), lit(0.0)) +
          coalesce(col("s3"), lit(0.0))) /
          (lit(1L) + when(col("s2").isNull, 0L).otherwise(1L) +
            coalesce(col("n3cnt"), lit(0L))).cast("double")), 6)
        .as("ppl")))
    val bounds = scored.agg(
      percentile(col("ppl"), lit(1.0 / 3)).as("t33"),
      percentile(col("ppl"), lit(2.0 / 3)).as("t66"))
    scored.crossJoin(broadcast(bounds))
      .select(col("id"), col("ppl"),
        when(col("ppl") <= col("t33"), "head")
          .when(col("ppl") <= col("t66"), "middle")
          .otherwise("tail").as("bucket"))
  }

  /** Unigram distribution drift between two corpus slices, measured as
    * Jensen-Shannon divergence (Lin 1991) with per-token attribution —
    * the monitoring primitive a continuously-ingested training corpus
    * needs: "did this batch's token distribution move, and which tokens
    * moved it". `sliceCol` (boolean) splits the corpus; output is the
    * `topK` tokens by absolute probability shift (|p_a − p_b| — a ratio
    * of exact integer counts, so the RANKING never sits on an ulp) with
    * their probabilities, JS contribution, and the corpus-level JS
    * total on every row. JS = ½·Σ p·ln(p/m) + ½·Σ q·ln(q/m), m =
    * (p+q)/2; zero-probability terms drop (x·ln x → 0), so disjoint
    * vocabularies are handled and JS ≤ ln 2.
    *
    * Scale shape: ONE pass over the token stream into one
    * partially-aggregated groupBy(token) carrying two conditional
    * counters — the only domain-sized exchange; totals are a 1-row
    * broadcast gate, the JS total a second 1-row aggregate over the
    * vocab table, and top-k is sort+limit (TakeOrderedAndProject — the
    * corpus is never globally sorted; the rank window runs on topK
    * rows). Both slices must be non-empty (a zero total nulls the
    * divisions). */
  /** Per-group categorical drift against a deployed REFERENCE
    * distribution — [[unigramJsDrift]]'s monitoring sibling for the
    * "each closed window vs the trained reference" shape (q138 runs it
    * over streamed watermark-closed windows): for every group in `obs`
    * (pre-aggregated (group, category, count) rows — the event-grain
    * work already happened upstream), the JS divergence of the group's
    * category distribution vs `ref`'s, plus the single most-shifted
    * category (ranked by |q − p|, a difference of exact integer-count
    * ratios — never on an ulp; ties → category asc).
    *
    * Scale shape: everything is CATEGORY-TABLE grain. The reference
    * (|cats| rows) broadcasts onto the |groups|-row totals; the grid is
    * |groups|×|cats|; the ranking window sees |cats| rows per group.
    * Output: (group, n, js, drift_cat, drift_abs) — js is a raw sum,
    * callers round for cross-engine compare. Missing categories in a
    * group contribute their p·ln 2 mass (q = 0); categories absent
    * from the reference must not appear in `obs` (the deployed-monitor
    * contract: the reference defines the domain). */
  def categoricalJsDrift(obs: DataFrame, groupCol: String, catCol: String,
                         cntCol: String, ref: DataFrame,
                         refCntCol: String): DataFrame = {
    val rt = ref.agg(sum(col(refCntCol)).as("__tr"))
    val rp = ref.crossJoin(broadcast(rt))
      .select(col(catCol),
        (col(refCntCol).cast("double") / col("__tr").cast("double")).as("__p"))
    val wt = obs.groupBy(col(groupCol)).agg(sum(col(cntCol)).as("__nw"))
    val j = wt.crossJoin(broadcast(rp))
      .join(obs.select(col(groupCol), col(catCol), col(cntCol).as("__c")),
        Seq(groupCol, catCol), "left")
      .withColumn("__q",
        coalesce(col("__c"), lit(0L)).cast("double") / col("__nw").cast("double"))
      .withColumn("__m", (col("__p") + col("__q")) / 2)
      .withColumn("__contrib",
        (when(col("__p") > 0, col("__p") * log(col("__p") / col("__m")))
          .otherwise(lit(0.0)) +
         when(col("__q") > 0, col("__q") * log(col("__q") / col("__m")))
          .otherwise(lit(0.0))) / 2)
      .withColumn("__dabs", abs(col("__q") - col("__p")))
    val js = j.groupBy(col(groupCol))
      .agg(max(col("__nw")).as("n"), sum(col("__contrib")).as("js"))
    val top = j.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
          .orderBy(col("__dabs").desc, col(catCol))))
      .filter(col("__r") === 1)
      .select(col(groupCol), col(catCol).as("drift_cat"),
        col("__dabs").as("drift_abs"))
    js.join(top, Seq(groupCol))
  }

  def unigramJsDrift(docs: DataFrame, sliceCol: String, textCol: String,
                     topK: Int): DataFrame = {
    require(topK >= 1, "topK must be positive")
    val toks = docs.select(col(sliceCol).as("__s"), explode(
      graft.functions.Text.tokens(lower(col(textCol)))).as("tok"))
    val cnt = toks.groupBy("tok").agg(
      sum(when(col("__s"), 1L).otherwise(0L)).as("ca"),
      sum(when(!col("__s"), 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val probs = cnt.crossJoin(broadcast(tot))
      .withColumn("pa", col("ca").cast("double") / col("ta").cast("double"))
      .withColumn("pb", col("cb").cast("double") / col("tb").cast("double"))
      .withColumn("m", (col("pa") + col("pb")) / 2)
      .withColumn("contrib",
        (when(col("pa") > 0, col("pa") * log(col("pa") / col("m")))
          .otherwise(lit(0.0)) +
         when(col("pb") > 0, col("pb") * log(col("pb") / col("m")))
          .otherwise(lit(0.0))) / 2)
    val js = probs.agg(sum(col("contrib")).as("js_total"))
    probs.withColumn("d_abs", abs(col("pa") - col("pb")))
      .orderBy(col("d_abs").desc, col("tok"))
      .limit(topK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("d_abs").desc, col("tok"))))
      .crossJoin(broadcast(js))
      .select(col("tok"), col("rnk").cast("long").as("rnk"),
        col("pa"), col("pb"), col("d_abs"), col("contrib"), col("js_total"))
  }

  /** Two-sample Kolmogorov–Smirnov test on document TOKEN-LENGTH
    * distributions between a slice and its complement — the standard
    * length-drift gate between corpus snapshots or sources (JS drift,
    * q135/q142, sees vocabulary; KS sees the SHAPE of the length
    * distribution, the thing truncation/packing budgets depend on).
    * D = sup_x |F_a(x) − F_b(x)| over the empirical CDFs; reject at
    * α = 0.05 when D exceeds c(α)·sqrt((n_a+n_b)/(n_a·n_b)) with
    * c(0.05) = 1.3581 (the classical large-sample critical value,
    * e.g. Smirnov 1948).
    *
    * Scale shape: everything beyond one narrow corpus projection is
    * LENGTH-HISTOGRAM grain. The corpus collapses to
    * (n_tok → count_a, count_b) in one map-side-combined aggregate
    * (support = distinct lengths, thousands at most — documents
    * longer than ~10^5 tokens don't exist after truncation); the
    * ECDFs are running sums over that bounded set (a window over one
    * tiny partition is fine BECAUSE the grain is bounded); the
    * readout is a 1-row max. Only (length, two longs) ever shuffles.
    *
    * Output (1 row): n_a, n_b, ks_d (6dp), crit_05 (6dp), drift (1
    * iff unrounded D > crit). ECDF values are ratios of exact integer
    * counts; the critical value is one IEEE sqrt — cross-engine
    * stable. */
  def ksLengthDrift(docs: DataFrame, sliceCol: Column,
                    textCol: String): DataFrame = {
    val lens = docs.select(sliceCol.as("__s"),
      graft.functions.Text.tokenCount(col(textCol)).as("__n"))
    val hist = lens.groupBy(col("__n")).agg(
      sum(when(col("__s"), 1L).otherwise(0L)).as("__ca"),
      sum(when(!col("__s"), 1L).otherwise(0L)).as("__cb"))
    val W = org.apache.spark.sql.expressions.Window
    val wCum = W.orderBy(col("__n"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val wAll = W.orderBy(col("__n"))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val proj = hist.select(
      sum(col("__ca")).over(wCum).as("__fa"),
      sum(col("__cb")).over(wCum).as("__fb"),
      sum(col("__ca")).over(wAll).as("__na"),
      sum(col("__cb")).over(wAll).as("__nb"))
    val out = proj.agg(
      max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
      max(abs(col("__fa").cast("double") / col("__na").cast("double")
        - col("__fb").cast("double") / col("__nb").cast("double")))
        .as("__ks"))
    val crit = lit(1.3581) * sqrt(
      (col("n_a") + col("n_b")).cast("double")
        / (col("n_a") * col("n_b")).cast("double"))
    out.select(col("n_a"), col("n_b"),
      round(col("__ks"), 6).as("ks_d"),
      round(crit, 6).as("crit_05"),
      graft.functions.Clean.flag(col("__ks") > crit).as("drift"))
  }

  /** Per-group Shannon entropy of the unigram token distribution —
    * the corpus-diversity scalar behind "is this source degenerate
    * boilerplate or varied text?" (low entropy = few tokens dominate;
    * the normalized form H/log2(V) is layout- and size-comparable
    * across groups). Computed as H = log2(N) − (Σ c·log2 c)/N, which
    * needs only the per-token counts — no per-row probability column.
    *
    * Scale shape: one shuffle at (group, token) grain with map-side
    * combine (the token stream never moves raw — only partial
    * counts), then a second aggregate at group grain (|groups| rows).
    * The entropy sum rides the same pass as N and V; nothing is
    * collected.
    *
    * Output: (group, n_tokens, vocab, entropy_bits 6dp,
    * norm_entropy 6dp — 0 when vocab = 1). */
  /** Rank-normalized blend of heterogeneous quality signals — the
    * standard way to combine incommensurable scores (a length, a
    * ratio, a classifier logit) without hand-tuned scaling: each
    * signal maps to its strict-fraction-below rank
    * pr(v) = |rows with value < v| / (n − 1) ∈ [0, 1] (ties share a
    * rank — midranks aren't needed for blending), the blend is the
    * mean of the per-signal ranks, and the output is the global
    * top-N by blend.
    *
    * Scale shape: per signal, the corpus collapses to a VALUE
    * HISTOGRAM (one map-side-combined aggregate; support = distinct
    * signal values), the cumulative below-count is a window over that
    * bounded grain, and docs join back at value grain — no global
    * sort of the corpus, no single-partition corpus window. The top-N
    * plans as TakeOrderedAndProject. Determinism: ranks are ratios of
    * exact integer counts; the blend is their k-term mean (6dp
    * rounded); ties at the cut break by id. */
  def rankBlend(docs: DataFrame, idCol: String,
                signals: Seq[(String, Column)], topN: Int): DataFrame = {
    require(signals.nonEmpty && topN >= 1, "signals and topN required")
    val W = org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol) +:
      signals.map { case (n, c) => c.as(s"__v_$n") }: _*)
    val nTotal = base.agg(count(lit(1)).as("__n"))
    val withBelow = signals.foldLeft(base) { case (acc, (n, _)) =>
      val hist = base.groupBy(col(s"__v_$n"))
        .agg(count(lit(1)).as("__c"))
        .withColumn(s"__below_$n",
          coalesce(sum(col("__c")).over(
            W.orderBy(col(s"__v_$n"))
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
        .select(col(s"__v_$n"), col(s"__below_$n"))
      acc.join(hist, Seq(s"__v_$n"))
    }
    val pr = withBelow.crossJoin(broadcast(nTotal)).select(
      col(idCol) +: signals.map { case (n, _) =>
        (col(s"__below_$n").cast("double") /
          (col("__n") - 1).cast("double")).as(s"pr_$n")
      }: _*)
    val blend = signals.map { case (n, _) => col(s"pr_$n") }
      .reduce(_ + _) / signals.length.toDouble
    pr.withColumn("__blend", blend)
      .orderBy(col("__blend").desc, col(idCol)).limit(topN)
      .select(col(idCol) +:
        signals.map { case (n, _) => round(col(s"pr_$n"), 6).as(s"pr_$n") } :+
        round(col("__blend"), 6).as("blend"): _*)
  }

  def unigramEntropy(docs: DataFrame, groupCol: String,
                     textCol: String): DataFrame = {
    val toks = docs.select(col(groupCol), explode(
      graft.functions.Text.tokens(lower(col(textCol)))).as("__tok"))
    val cnt = toks.groupBy(col(groupCol), col("__tok"))
      .agg(count(lit(1)).as("__c"))
    val lg2 = math.log(2.0)
    val g = cnt.groupBy(col(groupCol)).agg(
      sum(col("__c")).as("n_tokens"),
      count(lit(1)).as("vocab"),
      sum(col("__c").cast("double") * log(col("__c").cast("double")) / lg2)
        .as("__sc"))
    val h = log(col("n_tokens").cast("double")) / lg2 -
      col("__sc") / col("n_tokens").cast("double")
    g.select(col(groupCol), col("n_tokens"), col("vocab"),
      round(h, 6).as("entropy_bits"),
      round(when(col("vocab") > 1,
        h / (log(col("vocab").cast("double")) / lg2))
        .otherwise(lit(0.0)), 6).as("norm_entropy"))
  }

  /** ROBUST per-group normalization — median/MAD z-scores, the signal-
    * fusion prerequisite (rank blends and threshold gates assume
    * comparable scales; mean/stddev scaling is exactly what a heavy
    * tail corrupts, which is why curation uses the 50%-breakdown
    * median/MAD pair). Appends `z` = (x − med_g)/MAD_g
    * (0 when MAD_g = 0 — a constant group has no scale) and an
    * `is_outlier` flag at |z| > 3.
    *
    * Determinism: median and MAD come from exact R-7 percentile
    * interpolation (the q87 device — Spark `percentile` ≡ DuckDB
    * `quantile_cont`, exact IEEE on integer-grid inputs, and the
    * absolute deviations of integer values from a .5-grid median stay
    * on an exact dyadic grid), so z is a quotient of exact operands —
    * bit-identical cross-engine, no epsilon at the outlier gate.
    *
    * Scale shape: two group-grain percentile aggregates (per-group
    * state ∝ distinct values — bounded for integer telemetry like
    * token counts) + two broadcast-small group-table joins; the corpus
    * is scanned twice, never shuffled at row grain. */
  def robustZ(df: DataFrame, groupCol: String, valueCol: Column): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(percentile(valueCol, lit(0.5)).as("__med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("__v", valueCol.cast("double"))
      .withColumn("__ad", abs(col("__v") - col("__med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(percentile(col("__ad"), lit(0.5)).as("__mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .withColumn("z", when(col("__mad") > 0,
        (col("__v") - col("__med")) / col("__mad")).otherwise(lit(0.0)))
      .withColumn("is_outlier",
        graft.functions.Clean.flag(abs(col("z")) > 3))
      .drop("__v", "__ad")
      .withColumnRenamed("__med", "med").withColumnRenamed("__mad", "mad")
  }

  /** k-ANONYMOUS publication gate for grouped corpus statistics — the
    * privacy floor a released datasheet applies before publishing
    * per-slice numbers (Sweeney 2002's k-anonymity at the aggregate
    * grain): a group with fewer than `k` rows identifies its members
    * and is SUPPRESSED — its mass moves, undropped, into one
    * `__suppressed__` rollup row, so the published table still sums to
    * the corpus total (the "complementary release" discipline: the
    * rollup discloses only the union of suppressed cells, never a
    * small cell itself). When exactly ONE group falls below k, the
    * rollup alone would re-identify it (n_groups=1 carries the small
    * cell's exact mass, and its identity is the complement of the
    * visible groups) — so the standard COMPLEMENTARY suppression step
    * co-suppresses the smallest visible group (ties broken by the
    * group columns, ascending), guaranteeing every published rollup
    * mixes >= 2 cells WHENEVER at least one visible row exists.
    * Degenerate case, exempt by design: when NO group clears the gate
    * there is no published complement to infer against, so the rollup
    * publishes even if it carries a single cell (n_groups may be 1
    * with zero visible rows) — it then discloses only the corpus
    * total under the sentinel identity, which any datasheet publishes
    * anyway, and suppressing it instead would break mass
    * conservation. Output: group columns (string-cast; the
    * rollup row holds the sentinel), `n_rows`, `n_groups` (1 per
    * visible group, the suppressed-cell count on the rollup row), and
    * `sum_w` (the published measure).
    *
    * Scale shape: one group-grain aggregate over the corpus; the
    * suppression split, complement pick (a rank window over the
    * report-sized group table), and rollup all run at GROUP grain.
    * All-integer when `weight` is integral — the gate and both output
    * branches hash-replay exactly. */
  def kAnonymizedStats(df: DataFrame, groupCols: Seq[String], k: Long,
                       weight: Column): DataFrame =
    Checkpoints.scoped { ck =>
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(k >= 1, "k must be positive")
    // persist: the marked group table feeds the census, the visible
    // branch and the rollup — without it the corpus aggregate
    // re-executes once per subtree (measured 2.2x on q212's floor);
    // group grain, tiny. The small-cell census and the complement pick
    // ride ONE global window over the report-sized group table
    // (ordering small-last puts the smallest VISIBLE group at rn=1),
    // instead of a separate census aggregate + crossJoin chain.
    val winOrd = org.apache.spark.sql.expressions.Window.orderBy(
      col("__small") +: col("n_rows") +: groupCols.map(col): _*)
    val g = ck.shared(df.groupBy(groupCols.map(c => col(c).cast("string").as(c)): _*)
      .agg(count(lit(1)).as("n_rows"), sum(weight).cast("long").as("sum_w"))
      .withColumn("__small", col("n_rows") < k)
      .withColumn("__n_small",
        sum(when(col("__small"), lit(1L)).otherwise(lit(0L)))
          .over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("__rn", row_number().over(winOrd))
      .withColumn("__supp", col("__small") ||
        (col("__n_small") === 1L && col("__rn") === 1L)))
    val visible = g.filter(!col("__supp"))
      .select(groupCols.map(col) :+ col("n_rows") :+
        lit(1L).as("n_groups") :+ col("sum_w"): _*)
    val suppressed = g.filter(col("__supp"))
      .agg(sum(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(col("sum_w")).as("sum_w"))
      .filter(col("n_rows").isNotNull)
      .select(groupCols.map(c => lit("__suppressed__").as(c)) :+
        col("n_rows") :+ col("n_groups") :+ col("sum_w"): _*)
    visible.unionByName(suppressed)
  }

  /** l-DIVERSITY publication gate — [[kAnonymizedStats]]'s companion
    * for the attribute-disclosure threat k-anonymity misses (Machanava-
    * jjhala et al. ICDE 2006): a group can clear k on SIZE yet carry a
    * homogeneous sensitive attribute (everyone in the cell shares one
    * value, so membership alone discloses it). A group publishes only
    * when its sensitive column carries ≥ l DISTINCT values; failing
    * groups roll up into one `__suppressed__` row that conserves the
    * corpus total, with the same COMPLEMENTARY-suppression rule as the
    * k gate (a lone failing group would be re-identifiable as the
    * complement of the visible rows — co-suppress the smallest visible
    * group, ties on the group columns) and the same zero-visible
    * exemption (no visible row → no complement to infer against → the
    * rollup publishes even as a single cell, disclosing only the
    * corpus total). Output: group columns
    * (string-cast), `n_rows`, `n_sv` (distinct sensitive values; on the
    * rollup row, distinct across ALL suppressed rows — never a single
    * group's), `n_groups`, `sum_w`.
    *
    * Scale shape: one (group, sensitive)-grain distinct + group-grain
    * aggregates over the corpus; the complement pick is a rank window
    * over the report-sized group table; the rollup's distinct-sensitive
    * recount runs over the suppressed groups' (group, sensitive) pairs
    * only. All-integer when `weight` is integral. */
  def lDiverseStats(df: DataFrame, groupCols: Seq[String],
                    sensitiveCol: String, l: Long,
                    weight: Column): DataFrame =
    Checkpoints.scoped { ck =>
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(l >= 1, "l must be positive")
    val gc = groupCols.map(c => col(c).cast("string").as(c))
    // persist: the marked group table feeds the visible branch, the
    // mass rollup and the rollup's distinct-sensitive recount — one
    // corpus aggregate instead of one per subtree; census + complement
    // pick ride ONE global window over the report-sized group table
    // (small-last ordering puts the smallest VISIBLE group at rn=1)
    val winOrd = org.apache.spark.sql.expressions.Window.orderBy(
      col("__small") +: col("n_rows") +: groupCols.map(col): _*)
    val g = ck.shared(df.groupBy(gc: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sv"),
        sum(weight).cast("long").as("sum_w"))
      .withColumn("__small", col("n_sv") < l)
      .withColumn("__n_small",
        sum(when(col("__small"), lit(1L)).otherwise(lit(0L)))
          .over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("__rn", row_number().over(winOrd))
      .withColumn("__supp", col("__small") ||
        (col("__n_small") === 1L && col("__rn") === 1L)))
    val visible = g.filter(!col("__supp"))
      .select(groupCols.map(col) :+ col("n_rows") :+ col("n_sv") :+
        lit(1L).as("n_groups") :+ col("sum_w"): _*)
    val suppGroups = g.filter(col("__supp")).select(groupCols.map(col): _*)
    // the rollup's n_sv is the distinct count across the UNION of
    // suppressed cells — recomputed from rows, not summed per group
    // (values repeat across groups)
    val svAll = df.select(gc :+ col(sensitiveCol).as("__sv"): _*)
      .join(suppGroups, groupCols)
      .agg(countDistinct(col("__sv")).as("n_sv"))
    val massAll = g.filter(col("__supp"))
      .agg(sum(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(col("sum_w")).as("sum_w"))
    val suppressed = massAll.crossJoin(svAll)
      .filter(col("n_rows").isNotNull)
      .select(groupCols.map(c => lit("__suppressed__").as(c)) :+
        col("n_rows") :+ col("n_sv") :+ col("n_groups") :+ col("sum_w"): _*)
    visible.unionByName(suppressed)
  }

  /** SLICE-CONFOUNDING audit — mutual information between two slicing
    * dimensions of a corpus datasheet (is `lang` confounded with
    * `source`? is a quality bucket really just a domain bucket?): a
    * mixture card that reweights one dimension silently reweights any
    * dimension it is associated with, so datasheets publish the
    * association strength. One row: `n`, marginal entropies `h_a`/`h_b`
    * (bits), `mi` (bits), and `nmi` = MI / ((H_a + H_b) / 2) — the
    * arithmetic-mean normalization (Kvålseth 1987's symmetric variant;
    * 0 = independent, 1 = identical partitions), pinned to exact 0.0
    * when either entropy is 0 (a constant column is associated with
    * nothing).
    *
    * Scale shape: ONE (a, b)-grain aggregate over the corpus — the
    * contingency table, |A|·|B| rows — then everything (margins,
    * entropies, MI) derives at contingency grain; the 1-row total
    * broadcasts. Counts are exact integers; the log terms follow the
    * round-6 float convention (the q200 entropy device). */
  def columnAssociation(df: DataFrame, aCol: String,
                        bCol: String): DataFrame =
    Checkpoints.scoped { ck =>
    val lg2 = log(lit(2.0))
    // persist: the contingency table feeds four subtrees (total, both
    // margins, joint entropy) — one corpus aggregate instead of four
    val cells = ck.shared(df.groupBy(col(aCol).cast("string").as("a"),
        col(bCol).cast("string").as("b"))
      .agg(count(lit(1)).as("n_ab")))
    val tot = cells.agg(sum(col("n_ab")).as("n"))
    val ma = cells.groupBy("a").agg(sum(col("n_ab")).as("n_a"))
    val mb = cells.groupBy("b").agg(sum(col("n_ab")).as("n_b"))
    val joined = cells.crossJoin(broadcast(tot))
    val pab = col("n_ab").cast("double") / col("n").cast("double")
    // MI = H(A) + H(B) − H(A,B): three entropies under one convention
    // beats the direct Σ p·log(p/(p_a·p_b)) form cross-engine (one log
    // shape, round once at the end)
    val stats = joined.agg(
      max(col("n")).as("n"),
      (-sum(pab * log(pab) / lg2)).as("__h_ab"))
    // H(A), H(B) from the margins (each term counted once, not per cell)
    val ha = ma.crossJoin(broadcast(tot)).agg(
      (-sum((col("n_a").cast("double") / col("n").cast("double")) *
        log(col("n_a").cast("double") / col("n").cast("double")) / lg2))
        .as("h_a"))
    val hb = mb.crossJoin(broadcast(tot)).agg(
      (-sum((col("n_b").cast("double") / col("n").cast("double")) *
        log(col("n_b").cast("double") / col("n").cast("double")) / lg2))
        .as("h_b"))
    val out = stats.crossJoin(ha).crossJoin(hb)
      .select(col("n"),
        round(col("h_a"), 6).as("h_a"),
        round(col("h_b"), 6).as("h_b"),
        round(col("h_a") + col("h_b") - col("__h_ab"), 6).as("mi"),
        round(when(col("h_a") + col("h_b") > 0,
          (col("h_a") + col("h_b") - col("__h_ab")) /
            ((col("h_a") + col("h_b")) / 2.0))
          .otherwise(lit(0.0)), 6).as("nmi"))
    out
  }

  /** t-CLOSENESS publication gate — the third rung of the privacy
    * ladder after [[kAnonymizedStats]] (size) and [[lDiverseStats]]
    * (distinct sensitive values): a group can clear both yet still
    * leak through its sensitive-value DISTRIBUTION (Li, Li &
    * Venkatasubramanian, ICDE 2007 — 49 of 50 cell members sharing one
    * salary band is "diverse" under l=2 but discloses the band with
    * 98% confidence). A group publishes only when the Earth Mover's
    * Distance between its sensitive distribution and the GLOBAL one is
    * <= t; for an ORDERED attribute with m domain values and unit
    * adjacent-step ground distance (the paper's §5.2 numeric case),
    *   EMD = (1/(m-1)) * Σ_i |C_i/n_g − D_i/N|
    * over cumulative counts C (group) and D (global).
    *
    * HASH-EXACT GATE: the comparison never touches a float. Scaling by
    * (m−1)·n_g·N makes the distance the exact integer
    * S_g = Σ_i |N·C_i − n_g·D_i| and the gate, for rational
    * t = tNum/tDen, the exact DECIMAL(38,0) inequality
    * tDen·S_g <= tNum·(m−1)·n_g·N — a SQL oracle replays it bit-equal
    * at any corpus size (products reach n_g·N ≈ 10^24 at 100 TB; the
    * 38-digit lattice holds them). The published `emd` double is ONE
    * division of those exact integers, performed after the gate.
    *
    * Suppression follows the house discipline: failing groups roll up
    * into one `__suppressed__` row conserving the corpus total, with
    * COMPLEMENTARY suppression (a lone failing group co-suppresses the
    * smallest visible group — ties on the group columns) and the
    * zero-visible exemption (no complement to infer against). The
    * rollup's `emd` is RECOMPUTED over the union of the suppressed
    * cells' rows — never a single cell's distance, which is the value
    * the gate just refused to publish. Degenerate m=1 (constant
    * sensitive column): every distance is 0 and everything publishes.
    *
    * Output: group columns (string-cast; sentinel on the rollup),
    * `n_rows`, `emd`, `n_groups`, `sum_w`.
    *
    * Scale shape: one (group, value)-grain aggregate over the corpus;
    * the domain margin (m rows) broadcasts onto the report-sized group
    * table as a grid of |G|·m rows (sensitive domains are small by
    * construction — a wide-open domain is already not publishable);
    * cumulative sums are per-group windows over m rows; census +
    * complement pick ride ONE global window over the group table. */
  def tCloseStats(df: DataFrame, groupCols: Seq[String],
                  sensitiveCol: Column, tNum: Long, tDen: Long,
                  weight: Column): DataFrame =
    Checkpoints.scoped { ck =>
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(tDen >= 1 && tNum >= 0, "t must be a non-negative rational")
    val gc = groupCols.map(c => col(c).cast("string").as(c))
    val dec = "decimal(38,0)"
    // (group, value) grain — the only corpus-sized aggregate
    val gv = ck.shared(df.groupBy(gc :+ sensitiveCol.cast("long").as("__v"): _*)
      .agg(count(lit(1)).as("__c"), sum(weight).cast("long").as("__w")))
    // global domain margin: per-value totals, cumulative D_i, rank
    val domW = org.apache.spark.sql.expressions.Window.orderBy(col("__v"))
    val dom = gv.groupBy(col("__v")).agg(sum(col("__c")).as("__d"))
      .withColumn("__dc", sum(col("__d")).over(domW))
    // 1-row corpus totals (N, m) — broadcasts everywhere downstream
    val tot = dom.agg(sum(col("__d")).cast(dec).as("__n"),
      count(lit(1)).cast(dec).as("__m"))
    // group margins
    val grp = gv.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("n_rows"), sum(col("__w")).as("sum_w"))
    // grid: every group × every domain value; C_i per group by window.
    // The i = m term is always 0 (N·n_g − n_g·N) so summing ALL m
    // terms equals the paper's m−1-term sum — no filter needed.
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(col("__v"))
    val sTerm = abs(col("__n") * sum(coalesce(col("__c"), lit(0L)))
        .over(cumW).cast(dec) -
      col("n_rows").cast(dec) * col("__dc").cast(dec))
    val sg = grp.crossJoin(broadcast(dom))
      .join(gv, groupCols :+ "__v", "left")
      .crossJoin(broadcast(tot))
      .select(groupCols.map(col) :+ col("n_rows") :+ col("sum_w") :+
        col("__n") :+ col("__m") :+ sTerm.as("__t"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(first(col("n_rows")).as("n_rows"), first(col("sum_w")).as("sum_w"),
        first(col("__n")).as("__n"), first(col("__m")).as("__m"),
        sum(col("__t")).as("__s"))
    // the exact-integer gate, then the house census/complement window
    val denom = (col("__m") - lit(1)) * col("n_rows").cast(dec) * col("__n")
    val winOrd = org.apache.spark.sql.expressions.Window.orderBy(
      col("__small") +: col("n_rows") +: groupCols.map(col): _*)
    val g = ck.shared(sg
      .withColumn("__small",
        col("__s") * lit(tDen) > denom * lit(tNum))
      .withColumn("emd", when(col("__m") > 1,
          round(col("__s").cast("double") / denom.cast("double"), 9))
        .otherwise(lit(0.0)))
      .withColumn("__n_small",
        sum(when(col("__small"), lit(1L)).otherwise(lit(0L)))
          .over(org.apache.spark.sql.expressions.Window
            .rowsBetween(Long.MinValue, Long.MaxValue)))
      .withColumn("__rn", row_number().over(winOrd))
      .withColumn("__supp", col("__small") ||
        (col("__n_small") === 1L && col("__rn") === 1L)))
    val visible = g.filter(!col("__supp"))
      .select(groupCols.map(col) :+ col("n_rows") :+ col("emd") :+
        lit(1L).as("n_groups") :+ col("sum_w"): _*)
    // rollup: mass sums at group grain; EMD recomputed over the UNION
    // of the suppressed cells' (value) counts against the same global
    // margin — the union is its own distribution, not a sum of
    // per-group distances
    val suppGroups = g.filter(col("__supp")).select(groupCols.map(col): _*)
    val uv = gv.join(suppGroups, groupCols)
      .groupBy(col("__v")).agg(sum(col("__c")).as("__uc"))
    val un = uv.agg(sum(col("__uc")).cast(dec).as("__un"))
    val uTerm = abs(col("__n") * sum(coalesce(col("__uc"), lit(0L)))
        .over(domW).cast(dec) - col("__un") * col("__dc").cast(dec))
    val uDen = (col("__m") - lit(1)) * col("__un") * col("__n")
    val uEmd = dom.join(uv, Seq("__v"), "left")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(un))
      .select(col("__m"), col("__un"), col("__n"), uTerm.as("__t"))
      .agg(when(first(col("__m")) > 1,
          round(sum(col("__t")).cast("double") /
            (first((col("__m") - lit(1)) * col("__un") * col("__n")))
              .cast("double"), 9))
        .otherwise(lit(0.0)).as("emd"))
    val massAll = g.filter(col("__supp"))
      .agg(sum(col("n_rows")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(col("sum_w")).as("sum_w"))
    val suppressed = massAll.crossJoin(uEmd)
      .filter(col("n_rows").isNotNull)
      .select(groupCols.map(c => lit("__suppressed__").as(c)) :+
        col("n_rows") :+ col("emd") :+ col("n_groups") :+ col("sum_w"): _*)
    visible.unionByName(suppressed)
  }
}
