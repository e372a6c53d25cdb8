package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed training of the LINEAR QUALITY CLASSIFIER — the curation
  * step the public GPT-3 / CCNet literature applies between heuristic
  * gates and expensive scoring: a logistic model over cheap surface
  * features, trained on weak labels, then swept over the corpus as one
  * narrow projection.
  *
  * Scale shape (the [[Similarity.CentroidSet]] / [[Tokenizer]]
  * division of labor): each full-batch gradient-descent step is ONE
  * corpus scan feeding a partial aggregate of dim+1 doubles — the
  * exchange carries dim+1 values per partition, never rows — and the
  * weight vector is MODEL PARAMETERS updated on the driver (a dim-sized
  * collect per step). At 100 TB the same aggregate runs per step on a
  * hash-sampled mini-batch ([[Sampling.hashSample]]) with identical
  * plan shape; inference ([[predictProb]]) is pure codegen'd column
  * arithmetic, zero shuffle, zero state.
  *
  * Determinism: features are exact integer-ratio doubles, z folds
  * left-to-right, sigmoid is `1/(1+exp(−z))`, and the update is
  * `w − lr·(Σgrad/n)` — each step one correctly-rounded op apart from
  * an ANSI-SQL replay, so a 3-step training run stays inside the
  * round-at-6 oracle convention (q146).
  */
object Classifier {

  /** σ(w·x) for the given features and weights — the inference column. */
  def predictProb(features: Seq[Column], weights: Array[Double]): Column = {
    require(features.nonEmpty && features.size == weights.length,
      "features and weights must align")
    val z = features.zip(weights)
      .map { case (x, w) => x * lit(w) }.reduce(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Threshold-sweep EVALUATION of a trained model: confusion counts and
    * precision/recall/F1 at each operating point — the
    * curation-dashboard readout that decides where the quality gate
    * actually cuts. One corpus scan; the probability is rounded to the
    * 1e-6 grid BEFORE thresholding so the τ comparisons are
    * engine-stable (the round-then-compare discipline), and the
    * exploded (row × τ) fan-out feeds a partial aggregate keyed by τ —
    * the exchange carries |τ| count rows, never the corpus. Precision /
    * recall are exact integer-ratio doubles; F1 is a fixed op chain on
    * them (deterministic IEEE). */
  def confusionAt(df: DataFrame, features: Seq[Column], label: Column,
                  weights: Array[Double], taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty, "need at least one threshold")
    val p = round(predictProb(features, weights), 6)
    val c = df.select(p.as("p"), label.as("y"))
      .select(col("p"), col("y"),
        explode(array(taus.map(lit): _*)).as("tau"))
      .groupBy(col("tau"))
      .agg(sum(when(col("p") >= col("tau") && col("y") === 1.0, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("p") >= col("tau") && col("y") === 0.0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("p") < col("tau") && col("y") === 1.0, 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("p") < col("tau") && col("y") === 0.0, 1L)
          .otherwise(0L)).as("tn"))
    c.select(col("tau"), col("tp"), col("fp"), col("fn"), col("tn"),
        when(col("tp") + col("fp") > 0,
          col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        when(col("tp") + col("fn") > 0,
          col("tp").cast("double") / (col("tp") + col("fn")))
          .as("recall"))
      .withColumn("f1",
        when(col("precision").isNotNull && col("recall").isNotNull &&
            col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))
  }

  /** Full-batch logistic regression from zero weights: `iters` steps of
    * `w ← w − lr·(Σ(σ(w·x) − y)·x / n)`. One aggregate per step; the
    * collected row is the dim-sized gradient (model parameters).
    *
    * Determinism: the gradient sums Σ(err·x) are partition-order-
    * dependent float aggregates, and the sensitivity is RUN-TO-RUN,
    * not just cross-engine — a rerun of the same Spark job can split
    * partial sums differently and flip a ~round-6 digit of the
    * trained weights, which via round-then-compare can move a
    * downstream confusion count when a probability sits within ~1e-6
    * of the rounding grid (the repo-wide measure-zero convention;
    * consumers q146/q147/q151 round at 6). */
  def trainLogistic(df: DataFrame, features: Seq[Column], label: Column,
                    iters: Int, lr: Double): Array[Double] = {
    require(iters >= 0 && lr > 0, "need iters >= 0 and lr > 0")
    var w = Array.fill(features.size)(0.0)
    for (_ <- 0 until iters) {
      w = step(df, features, label, w, lr)
    }
    w
  }

  /** DETERMINISTIC mini-batch SGD — [[trainLogistic]]'s scale variant:
    * step t's batch is the rows whose content coin
    * `hexInt(key, ":sgd<t>") < thresholdNum` lands under the integer
    * threshold on the 16^6 grid (the [[Sampling.assignSplit]]
    * discipline — membership is a pure function of the key, so the
    * batch sequence is identical on any partitioning, any cluster
    * size, and in an ANSI-SQL replay; no RNG state anywhere). Each
    * step is one coin-filtered scan + the same dim+1 partial-sum
    * aggregate, normalized by THAT batch's count. The per-step filter
    * still reads the corpus (md5 per row); pipelines running many
    * epochs materialize a [[Packing.epochShuffle]]d order once and
    * iterate shards instead — same update rule, amortized I/O. */
  def trainLogisticSgd(df: DataFrame, features: Seq[Column], label: Column,
                       keyCol: Column, iters: Int, lr: Double,
                       thresholdNum: Int): Array[Double] = {
    require(iters >= 0 && lr > 0, "need iters >= 0 and lr > 0")
    require(thresholdNum > 0 && thresholdNum <= (1 << 24),
      "thresholdNum must be on the 16^6 grid")
    var w = Array.fill(features.size)(0.0)
    for (t <- 1 to iters) {
      val batch = df.filter(
        Sampling.hexInt(keyCol, s":sgd$t") < thresholdNum)
      w = step(batch, features, label, w, lr)
    }
    w
  }

  /** SPLIT-CONFORMAL calibration of a selection threshold (Vovk et
    * al.'s inductive conformal prediction; Angelopoulos & Bates 2021
    * §1 exposition) — the DISTRIBUTION-FREE upgrade to "pick a score
    * cutoff by eye": given a held-out calibration sample of the score,
    * τ = the k-th LARGEST calibration score with
    * k = ⌈(n+1)·(1−α)⌉ guarantees P(score_new ≥ τ) ≥ 1−α for any
    * exchangeable score distribution — no model of the score, no
    * normality, finite-sample. In curation terms: gate the corpus at τ
    * and at most an α fraction of in-distribution documents is lost,
    * guaranteed, whatever the classifier's calibration curve looks
    * like. α is a rational αNum/αDen so k is EXACT integer arithmetic;
    * the k-th order statistic is an exact value from the sample (never
    * an interpolated quantile), so the whole calibration hash-replays.
    *
    * Returns ONE row: `n_calib`, `k`, `threshold` (null when
    * k > n — α too tight for the sample; the gate is then vacuous and
    * [[conformalGate]] accepts everything, the honest reading of "not
    * enough calibration data to reject at this confidence").
    *
    * Scale shape: the order statistic runs at DISTINCT-SCORE grain
    * (the q155 R-7 percentile discipline) — a score-grain aggregate,
    * one cumulative window over the distinct scores ordered
    * descending, and the rank-k filter as the pure-integer inequality
    * aDen·cum ≥ (n+1)·(aDen−aNum) (⟺ cum ≥ ⌈(n+1)(1−α)⌉ — no
    * division, no float anywhere in the gate); `n` rides a 1-row
    * broadcast. Never a global row sort, never a collect. The
    * single-partition window is over DISTINCT scores, so a CONTINUOUS
    * score must be grid-bounded first: round it to the 1e-6 grid (the
    * repo-wide round-then-compare convention) on BOTH the calibration
    * and apply sides — conformal's guarantee holds for any measurable
    * transform of the score applied to both sides, and the window
    * state is then ≤ 10^6+1 rows at any corpus size. */
  def conformalThreshold(calib: DataFrame, scoreCol: Column,
                         alphaNum: Long, alphaDen: Long): DataFrame =
    conformalFromState(scoreState(calib, scoreCol), alphaNum, alphaDen)

  /** The calibration's SUFFICIENT STATISTIC as a mergeable state —
    * distinct-score counts `(score, n)`. States merge by ADDITION
    * ([[mergeScoreStates]]), so the conformal threshold is maintained
    * incrementally at BATCH cost (the KMV/CMS/HLL/q235 mergeable-
    * summaries citizenship): shard/batch/epoch states fold in any
    * grouping and [[conformalFromState]] of the fold equals the
    * monolithic calibration — exactly, not approximately (counts are
    * integers; no sketch error term). History is never rescanned. */
  def scoreState(calib: DataFrame, scoreCol: Column): DataFrame =
    calib.select(scoreCol.cast("double").as("score"))
      .groupBy(col("score")).agg(count(lit(1)).as("n"))

  /** Merge two [[scoreState]]s — associative, commutative, exact. */
  def mergeScoreStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("score")).agg(sum(col("n")).as("n"))

  /** [[conformalThreshold]] evaluated from a [[scoreState]] — the
    * read side of the incremental calibration. Same exact arithmetic
    * and output row as the direct form. */
  def conformalFromState(state: DataFrame, alphaNum: Long,
                         alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val d = state.select(col("score").as("__s"), col("n").as("__c"))
    val tot = d.agg(sum(col("__c")).as("n_calib"))
    val cum = d.withColumn("__cum", sum(col("__c")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("__s").desc)))
    // k = ⌈(n+1)(1−α)⌉ as floor((A + aDen − 1)/aDen), A = (n+1)(aDen−αNum);
    // exact in double below 2^53 — A tops out ~10^13 at a 10^12-row
    // calibration sample (and calibration sets are samples by design)
    val kCol = floor((((col("n_calib") + 1) * lit(alphaDen - alphaNum) +
      lit(alphaDen - 1)).cast("double")) / lit(alphaDen.toDouble))
      .cast("long").as("k")
    cum.crossJoin(broadcast(tot))
      // cum ≥ ⌈A/aDen⌉ ⟺ aDen·cum ≥ A for positive integers
      .filter(col("__cum") * lit(alphaDen) >=
        (col("n_calib") + 1) * lit(alphaDen - alphaNum))
      .groupBy(col("n_calib"))
      .agg(max(col("__s")).as("threshold"))
      .select(col("n_calib"), col("threshold"))
      // re-attach via the 1-row total so k>n (empty filter) still
      // yields the vacuous-gate row instead of an empty frame
      .join(broadcast(tot), Seq("n_calib"), "right")
      .select(col("n_calib"), kCol, col("threshold"))
  }

  /** GROUP-CONDITIONAL (Mondrian) conformal calibration — one
    * [[conformalThreshold]] per group, giving the PER-GROUP guarantee
    * the marginal gate cannot: P(score ≥ τ_g | group g) ≥ 1−α for
    * EVERY group (Vovk's Mondrian taxonomy; the fairness form of
    * conformal). The marginal gate is free to buy its 1−α coverage by
    * over-accepting an easy language and starving a hard one — per-lang
    * calibration pins the floor per slice, which is exactly what a
    * multilingual curation card promises. Same exact arithmetic as the
    * marginal gate, keyed by group; a group whose k > n_g gets the
    * vacuous null τ (not enough calibration data AT THAT SLICE to
    * reject at confidence α — the honest per-slice reading).
    *
    * Scale shape: (group, score)-grain aggregate, cumulative window
    * PARTITIONED BY GROUP (no single-partition state at any grain),
    * group-grain totals joined back — everything at report × grid
    * size. */
  def conformalThresholdByGroup(calib: DataFrame, groupCols: Seq[String],
                                scoreCol: Column, alphaNum: Long,
                                alphaDen: Long): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val gc = groupCols.map(c => col(c).cast("string").as(c))
    val d = calib.select(gc :+ scoreCol.cast("double").as("__s"): _*)
      .groupBy(groupCols.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__c"))
    val tot = d.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("n_calib"))
    val cum = d.withColumn("__cum", sum(col("__c")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("__s").desc)))
    val kCol = floor((((col("n_calib") + 1) * lit(alphaDen - alphaNum) +
      lit(alphaDen - 1)).cast("double")) / lit(alphaDen.toDouble))
      .cast("long").as("k")
    cum.join(tot, groupCols)
      .filter(col("__cum") * lit(alphaDen) >=
        (col("n_calib") + 1) * lit(alphaDen - alphaNum))
      .groupBy(groupCols.map(col): _*)
      .agg(max(col("__s")).as("threshold"))
      .join(tot, groupCols, "right")
      .select(groupCols.map(col) :+ col("n_calib") :+ kCol :+
        col("threshold"): _*)
  }

  /** Apply a [[conformalThreshold]] calibration to a corpus: every row
    * gains the broadcast `threshold`, `n_calib`, `k` and an `accept`
    * flag (score ≥ τ; a null τ — k > n — accepts everything). One
    * 1-row broadcast join, zero shuffle of the corpus, pure codegen
    * comparison per row. */
  def conformalGate(calib: DataFrame, applyDf: DataFrame,
                    scoreCol: Column, alphaNum: Long,
                    alphaDen: Long): DataFrame = {
    val thr = conformalThreshold(calib, scoreCol, alphaNum, alphaDen)
    applyDf.crossJoin(broadcast(thr))
      .withColumn("accept", graft.functions.Clean.flag(
        col("threshold").isNull ||
          scoreCol.cast("double") >= col("threshold")))
  }

  /** Apply a [[conformalThresholdByGroup]] calibration: each row joins
    * its group's τ (a broadcast report-sized join) and gains the same
    * `accept` semantics — null τ (k > n_g) OR a group absent from the
    * calibration sample accepts, because no per-slice rejection is
    * warranted without per-slice evidence. */
  def conformalGateByGroup(calib: DataFrame, applyDf: DataFrame,
                           groupCols: Seq[String], scoreCol: Column,
                           alphaNum: Long, alphaDen: Long): DataFrame = {
    val thr = conformalThresholdByGroup(calib, groupCols, scoreCol,
      alphaNum, alphaDen)
      .withColumnsRenamed(groupCols.map(c => c -> s"__g_$c").toMap)
    val cond = groupCols.map(c =>
      applyDf(c).cast("string") === thr(s"__g_$c")).reduce(_ && _)
    applyDf.join(broadcast(thr), cond, "left")
      .withColumn("accept", graft.functions.Clean.flag(
        col("threshold").isNull ||
          scoreCol.cast("double") >= col("threshold")))
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** WEIGHTED split-conformal calibration under COVARIATE SHIFT
    * (Tibshirani, Barber, Candès & Ramdas, NeurIPS 2019 "Conformal
    * prediction under covariate shift") — the principled gate when the
    * calibration and apply populations differ by a KNOWN discrete
    * covariate (here: the source mix): each calibration score is
    * reweighted by the likelihood ratio w(x) = dP_apply/dP_calib(x),
    * and the threshold for a test point from group t is the weighted
    * quantile
    *   τ_t = max{ s : aDen·Σ_{s_i ≥ s} w_i ≥ (aDen−aNum)·(Σ_j w_j + w_t) }
    * — the direct weighted generalization of [[conformalThreshold]]'s
    * rank inequality (uniform weights reduce to it EXACTLY; pinned by a
    * property test). A test group with no calibration evidence (absent
    * from `weights`) gets the vacuous null τ, the [[conformalGateByGroup]]
    * reading.
    *
    * Weights arrive as a (group, w6) frame of NON-NEGATIVE LONGS on the
    * 1e-6 grid (w6 = round(10^6·w) — the repo-wide round-then-compare
    * convention applied to the weight function; conformal's guarantee
    * tolerates any shared reweighting estimate, and estimated
    * likelihood ratios carry sampling error anyway), so the whole gate
    * is EXACT integer arithmetic — weighted counts c·w6, their
    * cumulative window, and the rank inequality all run in
    * DECIMAL(38,0) from the first multiply (the q237 t-closeness
    * discipline), so no product can wrap at any corpus size even when
    * a tiny calibration group makes w6 itself ~10^10+. No float
    * anywhere in the gate.
    *
    * Scale shape: one (group, score)-grain aggregate over the
    * calibration sample, a |G|-row broadcast of the weight table, ONE
    * cumulative window over the distinct scores (grid-bounded — the
    * [[conformalThreshold]] continuous-score contract applies: round a
    * continuous score to the 1e-6 grid on BOTH sides), and a
    * |scores|×|G| candidate filter at report×grid grain. Returns one
    * row per weight-table group: `group`, `n_calib` (global), `w6`,
    * `w_total` = Σ_j w_j on the grid, `threshold` (null = vacuous). */
  def weightedConformalThreshold(calib: DataFrame, groupCol: String,
                                 scoreCol: Column, weights: DataFrame,
                                 alphaNum: Long, alphaDen: Long): DataFrame =
    weightedConformalFromState(
      groupScoreState(calib, groupCol, scoreCol), groupCol, weights,
      alphaNum, alphaDen)

  /** The weighted calibration's SUFFICIENT STATISTIC as a mergeable
    * state — `(group, score, n)` counts at (covariate, distinct-score)
    * grain. States merge by ADDITION ([[mergeGroupScoreStates]]), the
    * [[scoreState]]/[[lossState]] citizenship extended to the
    * covariate-shift gate: both the per-group calibration counts the
    * likelihood-ratio weights need AND the weighted score distribution
    * derive from the fold, so τ_t is maintained incrementally at batch
    * cost with history never rescanned — exactly (integer counts). */
  def groupScoreState(calib: DataFrame, groupCol: String,
                      scoreCol: Column): DataFrame =
    calib.select(col(groupCol).cast("string").as(groupCol),
        scoreCol.cast("double").as("score"))
      .groupBy(col(groupCol), col("score"))
      .agg(count(lit(1)).as("n"))

  /** Merge two [[groupScoreState]]s — associative, commutative,
    * exact. */
  def mergeGroupScoreStates(a: DataFrame, b: DataFrame): DataFrame = {
    val groupCol = a.columns.head
    a.unionByName(b).groupBy(col(groupCol), col("score"))
      .agg(sum(col("n")).as("n"))
  }

  /** [[weightedConformalThreshold]] evaluated from a
    * [[groupScoreState]] — the read side of the incremental weighted
    * calibration. Same exact arithmetic and output rows as the direct
    * form. */
  def weightedConformalFromState(state: DataFrame, groupCol: String,
                                 weights: DataFrame, alphaNum: Long,
                                 alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    // ALL weighted-count arithmetic runs in DECIMAL(38,0) from the first
    // multiply (r19): a tiny calibration group under a heavy shift makes
    // w6 itself ~10^6·C/c_g (≥ 10^10 at a 10^5:1 group imbalance), so
    // c·w6 and its cumulative can wrap a LONG long before the rank
    // inequality — the decimal cast must precede the product, not just
    // the comparison. The OUTPUT `w_total` column is DECIMAL(38,0) too:
    // a long output would throw CAST_OVERFLOW (ANSI) exactly in the
    // extreme-weight regime the decimal arithmetic exists for.
    val dec = "decimal(38,0)"
    val w = weights.select(col(groupCol).cast("string").as(groupCol),
      col("w6").cast("long").as("w6"))
    val d = state
      .select(col(groupCol), col("score").as("__s"), col("n").as("__c"))
      .join(broadcast(w), Seq(groupCol))
      .withColumn("__wc", col("__c").cast(dec) * col("w6").cast(dec))
    val tot = d.agg(sum(col("__wc")).cast(dec).as("w_total"),
      sum(col("__c")).as("n_calib"))
    val cum = d.groupBy(col("__s")).agg(sum(col("__wc")).cast(dec).as("__wcs"))
      .withColumn("__cum", sum(col("__wcs")).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("__s").desc))
        .cast(dec))
    val wt = w.crossJoin(broadcast(tot))
    // group-keyed τ re-attached via LEFT join with the τ table
    // broadcast (a right-outer with a broadcast build side is
    // unsupported and would fall back to a shuffle join)
    val taus = cum.crossJoin(broadcast(wt))
      .filter(col("__cum") * lit(alphaDen) >=
        (col("w_total") + col("w6").cast(dec)) * lit(alphaDen - alphaNum))
      .groupBy(col(groupCol))
      .agg(max(col("__s")).as("threshold"))
    wt.join(broadcast(taus), Seq(groupCol), "left")
      .select(col(groupCol), col("n_calib"), col("w6"), col("w_total"),
        col("threshold"))
  }

  /** Likelihood-ratio weights for a DISCRETE covariate shift, on the
    * 1e-6 grid: for each calibration group g,
    *   w6_g = round(10^6 · (a_g·C) / (c_g·A))
    * where a_g/A are the apply-side group count/total and c_g/C the
    * calibration-side — the exact empirical estimate of
    * dP_apply/dP_calib at g, with the float ops in the FIXED order
    * (long product → double cast → ×10^6 → ÷ → half-up round) so an
    * ANSI-SQL replay is bit-identical. Groups absent from the apply
    * side get weight 0 (they carry no mass where the gate applies);
    * groups absent from calibration are simply absent (vacuous
    * downstream). Two group-grain aggregates; the result is |G| rows. */
  def sourceShiftWeights(calib: DataFrame, applyDf: DataFrame,
                         groupCol: String): DataFrame = {
    val cg = calib.select(col(groupCol).cast("string").as(groupCol))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__c"))
    val ag = applyDf.select(col(groupCol).cast("string").as(groupCol))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__a"))
    val ct = cg.agg(sum(col("__c")).as("__ct"))
    val at = ag.agg(sum(col("__a")).as("__at"))
    cg.join(ag, Seq(groupCol), "left")
      .na.fill(0L, Seq("__a"))
      .crossJoin(broadcast(ct)).crossJoin(broadcast(at))
      .select(col(groupCol),
        round(lit(1e6) * (col("__a") * col("__ct")).cast("double") /
          (col("__c") * col("__at")).cast("double"), 0)
          .cast("long").as("w6"))
  }

  /** [[sourceShiftWeights]] with the calibration side read from a
    * [[groupScoreState]] fold (c_g = Σ_s n at group grain) instead of
    * rescanning the calibration rows — the incremental path's weight
    * estimation. Same fixed float-op order, same |G|-row output. */
  def shiftWeightsFromState(state: DataFrame, applyDf: DataFrame,
                            groupCol: String): DataFrame = {
    val cg = state.groupBy(col(groupCol))
      .agg(sum(col("n")).as("__c"))
    val ag = applyDf.select(col(groupCol).cast("string").as(groupCol))
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__a"))
    val ct = cg.agg(sum(col("__c")).as("__ct"))
    val at = ag.agg(sum(col("__a")).as("__at"))
    cg.join(ag, Seq(groupCol), "left")
      .na.fill(0L, Seq("__a"))
      .crossJoin(broadcast(ct)).crossJoin(broadcast(at))
      .select(col(groupCol),
        round(lit(1e6) * (col("__a") * col("__ct")).cast("double") /
          (col("__c") * col("__at")).cast("double"), 0)
          .cast("long").as("w6"))
  }

  /** [[weightedConformalGate]] evaluated from a [[groupScoreState]]
    * fold: weights estimated via [[shiftWeightsFromState]], thresholds
    * via [[weightedConformalFromState]], gate identical — so the
    * incremental weighted calibration equals the monolithic one
    * exactly (pinned by q250's oracle, which IS the monolithic
    * computation). */
  def weightedConformalGateFromState(state: DataFrame,
                                     applyDf: DataFrame, groupCol: String,
                                     scoreCol: Column, alphaNum: Long,
                                     alphaDen: Long): DataFrame =
    Checkpoints.scoped { ck =>
    // the folded state feeds BOTH the weight estimate and the
    // threshold reduction (each with several internal references); a
    // caller's shard-merge plan would re-run once per reference —
    // measured 98 scans / 186 exchanges in q250's un-checkpointed
    // plan. The state is distinct-(group, score)-grain: a lightweight
    // proxy, safe to materialize eagerly.
    val st = ck.proxy(state)
    val thr = weightedConformalFromState(st, groupCol,
      shiftWeightsFromState(st, applyDf, groupCol), alphaNum, alphaDen)
      .withColumnRenamed(groupCol, s"__g_$groupCol")
    applyDf.join(broadcast(thr),
        applyDf(groupCol).cast("string") === thr(s"__g_$groupCol"), "left")
      .withColumn("accept", graft.functions.Clean.flag(
        col("threshold").isNull ||
          scoreCol.cast("double") >= col("threshold")))
      .drop(s"__g_$groupCol")
  }

  /** [[weightedConformalThreshold]] applied end-to-end with
    * [[sourceShiftWeights]] estimated from the two populations: every
    * apply row joins its group's τ_t (a |G|-row broadcast join — zero
    * corpus shuffle) and gains `accept` = (τ_t null OR score ≥ τ_t),
    * plus the weight provenance columns. The coverage statement is
    * per-test-group: P(score ≥ τ_t) ≥ 1−α under the estimated shift. */
  def weightedConformalGate(calib: DataFrame, applyDf: DataFrame,
                            groupCol: String, scoreCol: Column,
                            alphaNum: Long, alphaDen: Long): DataFrame = {
    val thr = weightedConformalThreshold(calib, groupCol, scoreCol,
      sourceShiftWeights(calib, applyDf, groupCol), alphaNum, alphaDen)
      .withColumnRenamed(groupCol, s"__g_$groupCol")
    applyDf.join(broadcast(thr),
        applyDf(groupCol).cast("string") === thr(s"__g_$groupCol"), "left")
      .withColumn("accept", graft.functions.Clean.flag(
        col("threshold").isNull ||
          scoreCol.cast("double") >= col("threshold")))
      .drop(s"__g_$groupCol")
  }

  /** SPLIT-CONFORMAL PREDICTION INTERVAL (Papadopoulos et al. 2002;
    * Lei et al. 2018 exposition) — the canonical conformal form the
    * gate family lacked: given a calibration sample with a point
    * prediction and the realized value, q̂ = the k-th SMALLEST absolute
    * residual with k = ⌈(n+1)·(1−α)⌉ guarantees
    * P(|y_new − ŷ_new| ≤ q̂) ≥ 1−α for exchangeable rows —
    * distribution-free, finite-sample, any predictor. The calibration
    * is DEFINED as [[conformalFromState]] on the NEGATED residual grid
    * (the k-th smallest residual is the k-th largest negated residual),
    * so the interval inherits the gate's exact integer-k arithmetic,
    * its mergeable [[scoreState]] citizenship (fold residual states by
    * addition, read q̂ off the fold), and its vacuity row (k > n ⇒
    * null q̂ = the infinite interval — the sample cannot justify any
    * finite width at confidence 1−α) — one definition, cannot drift.
    * Returns ONE row: `n_calib`, `k`, `q_hat`. Residuals follow the
    * continuous-score contract: grid-bound them (integer-valued or
    * 1e-6-rounded) on BOTH sides. */
  def conformalIntervalFromState(state: DataFrame, alphaNum: Long,
                                 alphaDen: Long): DataFrame =
    conformalFromState(
      state.select((-col("score")).as("score"), col("n")),
      alphaNum, alphaDen)
      .select(col("n_calib"), col("k"), (-col("threshold")).as("q_hat"))

  /** The interval calibration's mergeable sufficient statistic — the
    * [[scoreState]] of the absolute residual. */
  def residualState(calib: DataFrame, predCol: Column,
                    actualCol: Column): DataFrame =
    scoreState(calib,
      abs(actualCol.cast("double") - predCol.cast("double")))

  /** Apply a split-conformal interval: every apply row gains the 1-row
    * broadcast calibration (`n_calib`, `k`, `q_hat`), the interval
    * endpoints `lo`/`hi` = ŷ ∓ q̂ (null for the vacuous infinite
    * interval), and — when the realized value is available, e.g. on an
    * audit holdout — `covered` = |y − ŷ| ≤ q̂ (vacuous covers
    * everything). One broadcast join, zero corpus shuffle. */
  def conformalIntervalGate(calib: DataFrame, applyDf: DataFrame,
                            predCol: Column, actualCol: Column,
                            alphaNum: Long, alphaDen: Long): DataFrame = {
    val qh = conformalIntervalFromState(
      residualState(calib, predCol, actualCol), alphaNum, alphaDen)
    applyDf.crossJoin(broadcast(qh))
      .withColumn("lo", predCol.cast("double") - col("q_hat"))
      .withColumn("hi", predCol.cast("double") + col("q_hat"))
      .withColumn("covered", graft.functions.Clean.flag(
        col("q_hat").isNull ||
          abs(actualCol.cast("double") - predCol.cast("double")) <=
            col("q_hat")))
  }

  /** GROUP-CONDITIONAL (Mondrian) conformal interval — one
    * [[conformalIntervalFromState]] per group, completing the
    * {threshold, interval} × {marginal, Mondrian, weighted} matrix:
    * P(|y−ŷ| ≤ q̂_g | group g) ≥ 1−α for EVERY group, so an easy
    * slice's tight residuals cannot buy coverage for a hard slice's
    * wide ones (the q239↔q238 relationship, interval form). Same
    * negated-grid reduction through [[conformalThresholdByGroup]]'s
    * exact per-group arithmetic; a group whose slice cannot fund a
    * finite width at 1−α (k > n_g), or one absent from calibration,
    * gets the covering null interval. Report × grid size, cumulative
    * window partitioned by group. */
  def conformalIntervalByGroup(calib: DataFrame, groupCols: Seq[String],
                               predCol: Column, actualCol: Column,
                               alphaNum: Long, alphaDen: Long): DataFrame =
    conformalThresholdByGroup(calib, groupCols,
      -abs(actualCol.cast("double") - predCol.cast("double")),
      alphaNum, alphaDen)
      .select(groupCols.map(col) :+ col("n_calib") :+ col("k") :+
        (-col("threshold")).as("q_hat"): _*)

  /** Apply a [[conformalIntervalByGroup]] calibration: each row joins
    * its group's q̂_g (a report-sized broadcast), gains `lo`/`hi` =
    * ŷ ∓ q̂_g and — where the realized value is known — `covered`
    * (the null interval covers everything). Zero corpus shuffle. */
  def conformalIntervalGateByGroup(calib: DataFrame, applyDf: DataFrame,
                                   groupCols: Seq[String], predCol: Column,
                                   actualCol: Column, alphaNum: Long,
                                   alphaDen: Long): DataFrame = {
    val thr = conformalIntervalByGroup(calib, groupCols, predCol,
      actualCol, alphaNum, alphaDen)
      .withColumnsRenamed(groupCols.map(c => c -> s"__g_$c").toMap)
    val cond = groupCols.map(c =>
      applyDf(c).cast("string") === thr(s"__g_$c")).reduce(_ && _)
    applyDf.join(broadcast(thr), cond, "left")
      .withColumn("lo", predCol.cast("double") - col("q_hat"))
      .withColumn("hi", predCol.cast("double") + col("q_hat"))
      .withColumn("covered", graft.functions.Clean.flag(
        col("q_hat").isNull ||
          abs(actualCol.cast("double") - predCol.cast("double")) <=
            col("q_hat")))
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** CONFORMAL P-VALUE TABLE at distinct-score grain — the reusable
    * evidence behind [[conformalFdrSelect]], materialized: for every
    * distinct apply-side score s, the exact rational conformal p-value
    *   p(s) = (1 + #{null calib scores ≥ s}) / (n+1)
    * as integer numerator/denominator columns (`p_num`, `p_den`) plus
    * the double for reporting. Downstream consumers — BH at any q
    * (re-derives q243 exactly), calibration plots, p-value histograms
    * for null diagnosis — read this table instead of rescanning the
    * corpus. Scale shape: both sides collapse to distinct-score grain
    * (union + re-aggregate, the q243 full-outer-avoidance), ONE
    * cumulative window over the union, a 1-row broadcast total —
    * report × grid output, zero corpus shuffle, no per-row p-values
    * ever materialized. */
  def conformalPValues(calibNull: DataFrame, applyDf: DataFrame,
                       scoreCol: Column): DataFrame = {
    val cal = calibNull.select(scoreCol.cast("double").as("score"),
      lit(1L).as("__cc"), lit(0L).as("__ac"))
    val app = applyDf.select(scoreCol.cast("double").as("score"),
      lit(0L).as("__cc"), lit(1L).as("__ac"))
    val u = cal.unionByName(app).groupBy(col("score"))
      .agg(sum(col("__cc")).as("__cc"), sum(col("__ac")).as("__ac"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("score").desc)
    val tot = u.agg(sum(col("__cc")).as("n_calib"))
    u.withColumn("__c", sum(col("__cc")).over(w))
      .filter(col("__ac") > 0) // p-values only for scores the apply side has
      .crossJoin(broadcast(tot))
      .select(col("score"), col("__ac").as("n_apply"),
        (col("__c") + 1).as("p_num"),
        (col("n_calib") + 1).as("p_den"),
        ((col("__c") + 1).cast("double") / (col("n_calib") + 1))
          .as("p_value"))
  }

  /** WEIGHTED split-conformal interval under COVARIATE SHIFT — the
    * actual subject of Tibshirani et al. 2019: per test group t, the
    * interval half-width q̂_t is the weighted (1−α)-quantile of the
    * calibration residuals under the likelihood-ratio reweighting, so
    * P(|y−ŷ| ≤ q̂_t | group t) ≥ 1−α under the estimated shift. Same
    * negated-grid reduction as [[conformalIntervalFromState]] applied
    * to [[weightedConformalFromState]], so it inherits the weighted
    * gate's DECIMAL(38,0) exactness, |G|-row weight broadcast, and
    * per-group vacuity (null q̂_t = the infinite interval). */
  def weightedConformalIntervalFromState(state: DataFrame,
                                         groupCol: String,
                                         weights: DataFrame,
                                         alphaNum: Long,
                                         alphaDen: Long): DataFrame =
    weightedConformalFromState(
      state.select(col(groupCol), (-col("score")).as("score"), col("n")),
      groupCol, weights, alphaNum, alphaDen)
      .select(col(groupCol), col("n_calib"), col("w6"), col("w_total"),
        (-col("threshold")).as("q_hat"))

  /** The weighted interval's mergeable sufficient statistic — the
    * [[groupScoreState]] of the absolute residual. */
  def groupResidualState(calib: DataFrame, groupCol: String,
                         predCol: Column, actualCol: Column): DataFrame =
    groupScoreState(calib, groupCol,
      abs(actualCol.cast("double") - predCol.cast("double")))

  /** Apply a weighted conformal interval end-to-end: weights estimated
    * from the two populations ([[sourceShiftWeights]]), per-group q̂_t
    * joined as a |G|-row broadcast, endpoints ŷ ∓ q̂_t, and `covered`
    * for audit rows where the realized value is known (a group absent
    * from calibration, or one whose sample cannot fund a finite width
    * at 1−α, gets the covering null interval). Zero corpus shuffle. */
  def weightedConformalIntervalGate(calib: DataFrame, applyDf: DataFrame,
                                    groupCol: String, predCol: Column,
                                    actualCol: Column, alphaNum: Long,
                                    alphaDen: Long): DataFrame = {
    val thr = weightedConformalIntervalFromState(
      groupResidualState(calib, groupCol, predCol, actualCol), groupCol,
      sourceShiftWeights(calib, applyDf, groupCol), alphaNum, alphaDen)
      .withColumnRenamed(groupCol, s"__g_$groupCol")
    applyDf.join(broadcast(thr),
        applyDf(groupCol).cast("string") === thr(s"__g_$groupCol"), "left")
      .withColumn("lo", predCol.cast("double") - col("q_hat"))
      .withColumn("hi", predCol.cast("double") + col("q_hat"))
      .withColumn("covered", graft.functions.Clean.flag(
        col("q_hat").isNull ||
          abs(actualCol.cast("double") - predCol.cast("double")) <=
            col("q_hat")))
      .drop(s"__g_$groupCol")
  }

  /** EMPIRICAL COVERAGE AUDIT of an applied conformal gate (r19 — the
    * "did the promise hold" read the gate family lacked): given a
    * gated frame (any of [[conformalGate]] / [[conformalGateByGroup]] /
    * [[weightedConformalGate]] applied to a DISJOINT exchangeable
    * holdout split), report per group the exact integer accept counts
    * against the promised floor 1−α. `meets_floor` is the pure-integer
    * inequality aDen·n_accept ≥ (aDen−aNum)·n_holdout — no float in
    * the verdict; `coverage` and `promised` are single divisions of
    * exact integers for the report. Conformal's guarantee is
    * P(accept) ≥ 1−α marginally over exchangeable draws — a fixed
    * holdout realization can dip below the floor without indicting the
    * gate (on the CALIBRATION sample itself the bound is deterministic
    * by the order-statistic construction, pinned in CurationOpsSpec) —
    * so the audit is the curation card's evidence row, not an
    * assertion. Scale shape: ONE report-grain aggregate over the
    * holdout, zero extra scans; `group` = 'ALL' for a marginal
    * gate. */
  def coverageAudit(gated: DataFrame, gateName: String,
                    groupCol: Option[String], alphaNum: Long,
                    alphaDen: Long): DataFrame =
    coverageAudit(gated, gateName, groupCol, col("accept"),
      alphaNum, alphaDen)

  /** [[coverageAudit]] generalized to ANY 0/1 evidence column (r20):
    * the threshold gates emit `accept`, the interval gates emit
    * `covered` — both promise P(evidence = 1) ≥ 1−α, so one audit
    * serves the whole {threshold, interval} × {marginal, Mondrian,
    * weighted} matrix. `n_accept` keeps its name across evidence kinds
    * (it counts evidence-true rows) so every audit row is
    * schema-identical and unions cleanly into one report. */
  def coverageAudit(gated: DataFrame, gateName: String,
                    groupCol: Option[String], evidenceCol: Column,
                    alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val g = groupCol.map(c => col(c).cast("string")).getOrElse(lit("ALL"))
    gated.groupBy(lit(gateName).as("gate"), g.as("grp"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(evidenceCol.cast("long")).as("n_accept"))
      .select(col("gate"), col("grp"), col("n_holdout"), col("n_accept"),
        (col("n_accept").cast("double") / col("n_holdout")).as("coverage"),
        lit((alphaDen - alphaNum).toDouble / alphaDen).as("promised"),
        graft.functions.Clean.flag(col("n_accept") * lit(alphaDen) >=
          lit(alphaDen - alphaNum) * col("n_holdout")).as("meets_floor"))
  }

  /** EMPIRICAL RISK AUDIT of an applied risk-control gate — the
    * [[coverageAudit]] dual for the CRC family: where the coverage
    * audit checks "did enough get through", this checks "was the bad
    * mass admitted per unit ≤ the promised α": per (gate, group), the
    * exact integer admitted count and admitted-loss sum on a DISJOINT
    * exchangeable holdout, with `meets_bound` the pure-integer
    * inequality aDen·loss_admitted ≤ aNum·n_admitted. Same honesty
    * contract as the coverage audit: CRC's guarantee is an EXPECTATION
    * over exchangeable draws, so a fixed holdout can exceed α without
    * indicting the gate — the audit reports; a gate admitting NOTHING
    * on a slice yields the vacuous n_admitted = 0 row (realized risk
    * null, bound trivially met). One report-grain aggregate, zero
    * extra scans. */
  def riskAudit(gated: DataFrame, gateName: String,
                groupCol: Option[String], lossCol: Column,
                alphaNum: Long, alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val g = groupCol.map(c => col(c).cast("string")).getOrElse(lit("ALL"))
    gated.groupBy(lit(gateName).as("gate"), g.as("grp"))
      .agg(count(lit(1)).as("n_holdout"),
        sum(col("accept")).as("n_admitted"),
        sum(col("accept") * lossCol.cast("long")).as("loss_admitted"))
      .select(col("gate"), col("grp"), col("n_holdout"),
        col("n_admitted"), col("loss_admitted"),
        when(col("n_admitted") === 0, lit(null).cast("double"))
          .otherwise(col("loss_admitted").cast("double") /
            col("n_admitted")).as("realized_risk"),
        lit(alphaNum.toDouble / alphaDen).as("promised"),
        graft.functions.Clean.flag(
          col("loss_admitted") * lit(alphaDen) <=
            lit(alphaNum) * col("n_admitted")).as("meets_bound"))
  }

  /** CONFORMAL RISK CONTROL of a selection threshold (Angelopoulos,
    * Bates, Fisch, Lei & Schuster, "Conformal Risk Control", ICLR
    * 2024) — the generalization of [[conformalThreshold]] from
    * miscoverage to ANY monotone bounded loss: given a calibration
    * sample with a per-row loss ℓ_i ∈ {0, 1} incurred WHEN THE ROW IS
    * ADMITTED (e.g. "this document is boilerplate/too short/wrong
    * language"), pick the most permissive threshold τ̂ whose corrected
    * empirical risk clears α:
    *   τ̂ = min{ τ : (Σ_{s_i ≥ τ} ℓ_i + B) ≤ α·(n+1) },  B = max ℓ = 1
    * guaranteeing E[ℓ of the next admitted exchangeable row] ≤ α —
    * distribution-free, finite-sample. Where the q238 gate bounds HOW
    * MANY in-distribution rows are lost, this bounds HOW MUCH BAD MASS
    * is let through. α is rational so feasibility is the pure-integer
    * inequality (cumLoss + 1)·aDen ≤ aNum·(n+1); the candidate
    * thresholds are the distinct calibration scores plus −∞.
    *
    * Returns ONE row: `n_calib`, `n_bad` (Σℓ), `threshold` (the
    * minimal feasible score; null when NO candidate is feasible — α
    * too tight ⇒ the gate admits NOTHING, the vacuity DUAL of q238's
    * accept-all: there the sample cannot justify rejecting, here it
    * cannot justify admitting), and `admit_all` (1 when even the
    * accept-everything gate is feasible: (n_bad+1)·aDen ≤ aNum·(n+1) —
    * τ̂ = −∞).
    *
    * Scale shape: identical to [[conformalThreshold]] — (score)-grain
    * aggregate carrying the loss sum, ONE cumulative window over
    * distinct scores (grid-bound continuous scores to 1e-6 on both
    * sides), integer filter, 1-row broadcast. Zero corpus shuffle. */
  def riskControlThreshold(calib: DataFrame, scoreCol: Column,
                           lossCol: Column, alphaNum: Long,
                           alphaDen: Long): DataFrame =
    riskControlFromState(lossState(calib, scoreCol, lossCol),
      alphaNum, alphaDen)

  /** The risk-control calibration's SUFFICIENT STATISTIC as a
    * mergeable state — per distinct score, the row count and the loss
    * sum `(score, n, loss_sum)`. States merge by ADDITION
    * ([[mergeLossStates]]): the [[scoreState]]/KMV/CMS mergeable-
    * summaries citizenship extended to the monotone-loss gate, so τ̂
    * is maintained incrementally at batch cost and history is never
    * rescanned — exactly, not approximately (integer counts, no
    * sketch error). */
  def lossState(calib: DataFrame, scoreCol: Column,
                lossCol: Column): DataFrame =
    calib.select(scoreCol.cast("double").as("score"),
        lossCol.cast("long").as("loss"))
      .groupBy(col("score"))
      .agg(count(lit(1)).as("n"), sum(col("loss")).as("loss_sum"))

  /** Merge two [[lossState]]s — associative, commutative, exact. */
  def mergeLossStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("score"))
      .agg(sum(col("n")).as("n"), sum(col("loss_sum")).as("loss_sum"))

  /** [[riskControlThreshold]] evaluated from a [[lossState]] — the
    * read side of the incremental calibration. Same exact arithmetic
    * and output row as the direct form. */
  def riskControlFromState(state: DataFrame, alphaNum: Long,
                           alphaDen: Long): DataFrame = {
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val d = state.select(col("score").as("__s"), col("n").as("__c"),
      col("loss_sum").as("__b"))
    val tot = d.agg(sum(col("__c")).as("n_calib"),
      sum(col("__b")).as("n_bad"))
    val cum = d.withColumn("__cb", sum(col("__b")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("__s").desc)))
    val admitAll = graft.functions.Clean.flag(
      (col("n_bad") + 1) * lit(alphaDen) <=
        lit(alphaNum) * (col("n_calib") + 1)).as("admit_all")
    // a GLOBAL min over the (possibly empty) feasible set is always
    // exactly one row (null when empty), so the vacuous case needs no
    // outer join — two 1-row broadcasts compose the result
    val tau = cum.crossJoin(broadcast(tot))
      .filter((col("__cb") + 1) * lit(alphaDen) <=
        lit(alphaNum) * (col("n_calib") + 1))
      .agg(min(col("__s")).as("threshold"))
    tot.crossJoin(broadcast(tau))
      .select(col("n_calib"), col("n_bad"), col("threshold"), admitAll)
  }

  /** Apply a [[riskControlThreshold]] calibration: every row gains the
    * broadcast gate columns and `accept` = admit_all OR (τ non-null AND
    * score ≥ τ); a null τ with admit_all = 0 admits NOTHING (the
    * sample cannot certify any admission at risk α). One 1-row
    * broadcast join, zero corpus shuffle. */
  def riskControlGate(calib: DataFrame, applyDf: DataFrame,
                      scoreCol: Column, lossCol: Column, alphaNum: Long,
                      alphaDen: Long): DataFrame = {
    val thr = riskControlThreshold(calib, scoreCol, lossCol,
      alphaNum, alphaDen)
    applyDf.crossJoin(broadcast(thr))
      .withColumn("accept", graft.functions.Clean.flag(
        col("admit_all") === 1 ||
          (col("threshold").isNotNull &&
            scoreCol.cast("double") >= col("threshold"))))
  }

  /** GROUP-CONDITIONAL (Mondrian) conformal risk control — one
    * [[riskControlThreshold]] per group, the q239↔q238 relationship
    * applied to the monotone-loss gate: E[ℓ admitted | group g] ≤ α
    * for EVERY group, so a marginal gate cannot buy its risk budget by
    * over-admitting an easy slice and flooding a hard one (the
    * fairness form, Vovk's Mondrian taxonomy over CRC). Same
    * pure-integer feasibility keyed by group; a group with no feasible
    * candidate gets the admit-nothing vacuity ON ITS SLICE (null τ_g,
    * admit_all_g = 0) and a group absent from calibration admits
    * nothing either — with NO per-slice evidence, CRC cannot certify
    * any admission at risk α (note the deliberate asymmetry with
    * [[conformalGateByGroup]], where an absent group ACCEPTS: there
    * absence means no evidence to REJECT in-distribution rows, here it
    * means no evidence the admitted loss clears α).
    *
    * Scale shape: (group, score)-grain aggregate carrying loss sums,
    * cumulative window PARTITIONED BY GROUP, group-grain totals joined
    * back — report × grid size, zero corpus shuffle in the gate. */
  def riskControlThresholdByGroup(calib: DataFrame, groupCols: Seq[String],
                                  scoreCol: Column, lossCol: Column,
                                  alphaNum: Long, alphaDen: Long): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(alphaDen >= 1 && alphaNum >= 0 && alphaNum <= alphaDen,
      "alpha must be a rational in [0, 1]")
    val gc = groupCols.map(c => col(c).cast("string").as(c))
    val d = calib.select(gc :+ scoreCol.cast("double").as("__s") :+
        lossCol.cast("long").as("__l"): _*)
      .groupBy(groupCols.map(col) :+ col("__s"): _*)
      .agg(count(lit(1)).as("__c"), sum(col("__l")).as("__b"))
    val tot = d.groupBy(groupCols.map(col): _*)
      .agg(sum(col("__c")).as("n_calib"), sum(col("__b")).as("n_bad"))
    val cum = d.withColumn("__cb", sum(col("__b")).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(groupCols.map(col): _*).orderBy(col("__s").desc)))
    val admitAll = graft.functions.Clean.flag(
      (col("n_bad") + 1) * lit(alphaDen) <=
        lit(alphaNum) * (col("n_calib") + 1)).as("admit_all")
    val taus = cum.join(tot, groupCols)
      .filter((col("__cb") + 1) * lit(alphaDen) <=
        lit(alphaNum) * (col("n_calib") + 1))
      .groupBy(groupCols.map(col): _*)
      .agg(min(col("__s")).as("threshold"))
    // LEFT join with the report-sized τ table broadcast (see
    // weightedConformalThreshold for why not a right-outer)
    tot.join(broadcast(taus), groupCols, "left")
      .select(groupCols.map(col) :+ col("n_calib") :+ col("n_bad") :+
        col("threshold") :+ admitAll: _*)
  }

  /** Apply a [[riskControlThresholdByGroup]] calibration: each row
    * joins its group's gate (a report-sized broadcast join) and gains
    * `accept` = admit_all_g OR (τ_g non-null AND score ≥ τ_g); rows of
    * groups absent from calibration get accept = 0 (see the
    * threshold's scaladoc for why absence admits nothing here). */
  def riskControlGateByGroup(calib: DataFrame, applyDf: DataFrame,
                             groupCols: Seq[String], scoreCol: Column,
                             lossCol: Column, alphaNum: Long,
                             alphaDen: Long): DataFrame = {
    val thr = riskControlThresholdByGroup(calib, groupCols, scoreCol,
      lossCol, alphaNum, alphaDen)
      .withColumnsRenamed(groupCols.map(c => c -> s"__g_$c").toMap)
    val cond = groupCols.map(c =>
      applyDf(c).cast("string") === thr(s"__g_$c")).reduce(_ && _)
    applyDf.join(broadcast(thr), cond, "left")
      .withColumn("accept", graft.functions.Clean.flag(
        col("admit_all") === 1 ||
          (col("threshold").isNotNull &&
            scoreCol.cast("double") >= col("threshold"))))
      .drop(groupCols.map(c => s"__g_$c"): _*)
  }

  /** SELECTION WITH FALSE-DISCOVERY-RATE CONTROL via conformal
    * p-values (Jin & Candès 2023, "Selection by prediction with
    * conformal p-values"; Benjamini–Hochberg 1995): given a
    * calibration sample drawn from the NULL population (e.g. known
    * low-quality documents), each test row gets the conformal p-value
    *   p_j = (1 + #{ i : s_i ≥ s_j }) / (n+1)
    * — the exact rank of its score in the null sample — and BH at
    * level q selects every row with p ≤ p*, p* = the largest p_(k)
    * with p_(k) ≤ k·q/m. The selected set's false discovery rate
    * (fraction of selections that are actually null) is ≤ q,
    * finite-sample, for exchangeable nulls. In curation terms: "flag
    * documents as confidently above the junk population, with at most
    * a q fraction of false flags in expectation".
    *
    * Every quantity is exact integer arithmetic: p-values are rationals
    * over n+1, the BH boundary cross-multiplies to
    *   (1 + c(s))·qDen·m ≤ k(s)·qNum·(n+1)
    * (c(s) = null scores ≥ s, k(s) = test rows with score ≥ s — BH's
    * rank k at the tie-block granularity, which is exactly how BH
    * treats ties), run in DECIMAL(38,0) so no product wraps at any
    * corpus size. Because p is monotone in the score, the selection is
    * a single score threshold s* = the minimal feasible score.
    *
    * Scale shape: BOTH sides collapse to distinct-score grain (test
    * p-values take at most n+1 distinct values; grid-bound continuous
    * scores to 1e-6 on both sides), a full-outer join of the two
    * distinct-score tables, ONE cumulative window over the union, and
    * a 1-row broadcast of s* back onto the corpus with a `selected`
    * flag. Zero corpus shuffle, no per-row p-value materialization
    * needed for the decision.
    *
    * Returns the apply frame + broadcast `n_calib`, `m_test`,
    * `threshold` (s*; null = nothing selectable at FDR q) and
    * `selected`. */
  def conformalFdrSelect(calibNull: DataFrame, applyDf: DataFrame,
                         scoreCol: Column, qNum: Long,
                         qDen: Long): DataFrame = {
    require(qDen >= 1 && qNum >= 0 && qNum <= qDen,
      "q must be a rational in [0, 1]")
    // the two distinct-score tables merge by UNION + re-aggregate (a
    // full-outer join would plan a sort-merge join; the union is one
    // grain-sized hash aggregate instead)
    val cal = calibNull.select(scoreCol.cast("double").as("__s"),
      lit(1L).as("__cc"), lit(0L).as("__ac"))
    val app = applyDf.select(scoreCol.cast("double").as("__s"),
      lit(0L).as("__cc"), lit(1L).as("__ac"))
    val u = cal.unionByName(app).groupBy(col("__s"))
      .agg(sum(col("__cc")).as("__cc"), sum(col("__ac")).as("__ac"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("__s").desc)
    val cum = u.withColumn("__c", sum(col("__cc")).over(w))
      .withColumn("__k", sum(col("__ac")).over(w))
    val tot = u.agg(sum(col("__cc")).as("n_calib"),
      sum(col("__ac")).as("m_test"))
    val dec = "decimal(38,0)"
    // only test scores are BH candidates; the boundary inequality in
    // DECIMAL(38,0): (1+c)·qDen·m ≤ k·qNum·(n+1). A global min over
    // the feasible set is always one row (null when empty), so the
    // nothing-selectable case needs no outer join.
    val tau = cum.crossJoin(broadcast(tot))
      .filter(col("__ac") > 0 &&
        (col("__c") + 1).cast(dec) * lit(qDen) * col("m_test") <=
          col("__k").cast(dec) * lit(qNum) * (col("n_calib") + 1))
      .agg(min(col("__s")).as("threshold"))
    val thr = tot.crossJoin(broadcast(tau))
      .select(col("n_calib"), col("m_test"), col("threshold"))
    applyDf.crossJoin(broadcast(thr))
      .withColumn("selected", graft.functions.Clean.flag(
        col("threshold").isNotNull &&
          scoreCol.cast("double") >= col("threshold")))
  }

  /** RISK–COVERAGE CURVE for selective prediction (Geifman &
    * El-Yaniv, NeurIPS 2017): for every candidate gate threshold τ
    * (the distinct scores), the fraction of the corpus the gate keeps
    * (coverage) and the bad-mass fraction AMONG the kept (selective
    * risk) — the full operating-point menu behind any [[riskControlThreshold]]
    * or [[confusionAt]] cut, read off in ONE pass. All counts are
    * exact integers at distinct-score grain (grid-bound continuous
    * scores to 1e-6 on both sides); coverage and risk are single
    * divisions of exact integers. One (score)-grain aggregate, one
    * cumulative window, a 1-row broadcast total — report × grid
    * output, zero extra corpus scans. */
  def riskCoverageCurve(df: DataFrame, scoreCol: Column,
                        lossCol: Column): DataFrame =
    riskCoverageFromState(lossState(df, scoreCol, lossCol))

  /** [[riskCoverageCurve]] evaluated from a [[lossState]] — the curve's
    * sufficient statistic IS the risk-control gate's `(score, n,
    * loss_sum)` state, so the full operating-point menu joins the
    * mergeable-summaries family for free: shard/batch states fold by
    * addition ([[mergeLossStates]]) and the curve of the fold equals
    * the monolithic curve exactly (integer counts, no sketch term).
    * The direct form is DEFINED as this evaluation ∘ state extraction
    * (the [[conformalThreshold]] discipline), so the two cannot
    * drift. */
  def riskCoverageFromState(state: DataFrame): DataFrame = {
    val d = state.select(col("score").as("threshold"),
      col("n").as("__c"), col("loss_sum").as("__b"))
    val tot = d.agg(sum(col("__c")).as("__n"))
    d.withColumn("n_covered", sum(col("__c")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("threshold").desc)))
      .withColumn("n_bad_covered", sum(col("__b")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("threshold").desc)))
      .crossJoin(broadcast(tot))
      .select(col("threshold"), col("n_covered"), col("n_bad_covered"),
        (col("n_covered").cast("double") / col("__n")).as("coverage"),
        (col("n_bad_covered").cast("double") / col("n_covered"))
          .as("selective_risk"))
  }

  /** EXACT ROC AUC — the Mann–Whitney U statistic with midrank tie
    * correction (Hanley & McNeil 1982 equivalence): AUC =
    * P(score_pos > score_neg) + ½·P(tie). Computed at distinct-score
    * grain as the INTEGER
    *   2U = Σ_s c_pos(s) · (2·Σ_{t<s} c_neg(t) + c_neg(s))
    * so the statistic itself is exact (no float until the final
    * division AUC = 2U / (2·n_pos·n_neg)); the per-score product runs
    * in DECIMAL(38,0) so nothing wraps at any corpus size. Returns ONE
    * row: `n_pos`, `n_neg`, `u2` (= 2U, the exact integer), `auc`.
    * One (score)-grain aggregate + one cumulative window + a 1-row
    * total — the same shape as every gate in this file.
    *
    * Vacuity (r19): a single-class input has no ranking to score —
    * `auc` is an explicit NULL when n_pos·n_neg = 0 (the sibling
    * gates' vacuous-row reading), never NaN/Infinity. Output bound,
    * documented: the `u2` OUTPUT column is a long for schema
    * stability, saturating AT Long.MaxValue (an explicit `least`
    * clamp BEFORE the cast — a bare DECIMAL→long cast would throw
    * under Spark 4's ANSI default, not saturate) once
    * 2·n_pos·n_neg > 9.2e18 (≈ 2.1e9 rows per class); the decimal
    * form is exact internally and the `auc` division reads the
    * decimal, not the long. */
  def aucExact(df: DataFrame, scoreCol: Column,
               labelCol: Column): DataFrame =
    aucFromState(labelScoreState(df, scoreCol, labelCol))

  /** The AUC's SUFFICIENT STATISTIC as a mergeable state — per distinct
    * score, the positive and negative counts `(score, n_pos, n_neg)`.
    * States merge by ADDITION ([[mergeLabelScoreStates]]): the
    * [[scoreState]]/[[lossState]] mergeable-summaries citizenship
    * extended to ranking evaluation, so the exact tie-corrected AUC is
    * maintained incrementally at batch cost — shard/epoch states fold
    * in any grouping and [[aucFromState]] of the fold equals the
    * monolithic statistic exactly (integer counts, no sketch term).
    * History is never rescanned. */
  def labelScoreState(df: DataFrame, scoreCol: Column,
                      labelCol: Column): DataFrame =
    df.select(scoreCol.cast("double").as("score"),
        labelCol.cast("long").as("__y"))
      .groupBy(col("score"))
      .agg(sum(col("__y")).as("n_pos"),
        (count(lit(1)) - sum(col("__y"))).as("n_neg"))

  /** Merge two [[labelScoreState]]s — associative, commutative,
    * exact. */
  def mergeLabelScoreStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy(col("score"))
      .agg(sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))

  /** [[aucExact]] evaluated from a [[labelScoreState]] — the read side
    * of the incremental statistic. The direct form is DEFINED as this
    * evaluation ∘ state extraction (the [[conformalThreshold]]
    * discipline), so direct and incremental AUC cannot drift. */
  def aucFromState(state: DataFrame): DataFrame = {
    val d = state.select(col("score").as("__s"),
      col("n_pos").as("__cp"), col("n_neg").as("__cn"))
    val dec = "decimal(38,0)"
    val cumN = d.withColumn("__cumn", sum(col("__cn")).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("__s"))))
    cumN.select(
        (col("__cp").cast(dec) *
          (lit(2) * (col("__cumn") - col("__cn")) + col("__cn"))
            .cast(dec)).as("__u"),
        col("__cp"), col("__cn"))
      .agg(sum(col("__u")).cast(dec).as("u2"),
        sum(col("__cp")).as("n_pos"), sum(col("__cn")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        // u2 ≥ 0, so a one-sided clamp saturates; without it the
        // DECIMAL(38,0)→long cast THROWS past Long.MaxValue (ANSI).
        // least() SKIPS nulls, so an EMPTY input's null u2 must be
        // passed through explicitly — least(null, MAX) = MAX would
        // turn the vacuous row into a spurious saturated statistic
        when(col("u2").isNull, lit(null).cast("long"))
          .otherwise(least(col("u2"), lit(Long.MaxValue).cast(dec))
            .cast("long")).as("u2"),
        when(coalesce(col("n_pos"), lit(0L)) === 0 ||
            coalesce(col("n_neg"), lit(0L)) === 0,
          lit(null).cast("double"))
          .otherwise(col("u2").cast("double") /
            (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** One GD update over `df`: w ← w − lr·(Σ(σ(w·x) − y)·x / n). An
    * EMPTY input (an SGD batch whose coin selected no rows) carries no
    * gradient and leaves the weights unchanged — without the guard the
    * null sums NPE and n = 0 would poison every later weight with NaN.
    * (The q151 oracle does not replay the skip: its thresholds make an
    * empty batch measure-zero at any corpus size, and the contract is
    * documented there.) */
  private def step(df: DataFrame, features: Seq[Column], label: Column,
                   w: Array[Double], lr: Double): Array[Double] = {
    val err = predictProb(features, w) - label
    val aggs = features.zipWithIndex.map { case (x, i) =>
      sum(err * x).as(s"g$i")
    } :+ count(lit(1)).as("n")
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val n = row.getLong(features.size).toDouble
    if (n == 0) w
    else w.zipWithIndex.map { case (wi, i) =>
      wi - lr * (row.getDouble(i) / n)
    }
  }
}
