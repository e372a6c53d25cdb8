package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus SELECTION under global constraints — the curation step that
  * turns a scored candidate pool into the corpus that actually trains:
  * "take the best documents until the token budget is spent" (globally
  * or per language — how multilingual mixture cards are specified) and
  * "cap any one source at N documents" (the knobs behind every
  * published data-mixture card; ref analogue: the reference's
  * vote-threshold top-N marts, `docs/top_movies.sql:4-9`, re-expressed
  * as corpus curation).
  */
object Selection {

  /** Shared two-phase parallel prefix sum over `groupCols`-scoped total
    * orders (global when `groupCols` is empty). The naive plan — one
    * `sum() OVER (PARTITION BY group ORDER BY …)` window — serializes
    * every group through a single task, and a GROUP here is a language
    * at 100 TB, not a bounded slice. Phases:
    *  1. `repartitionByRange` on (groups, sort key): a total order
    *     across partitions WITHIN each group, fully parallel
    *     partitions;
    *  2. per-(partition, group) subtotals — |partitions × groups
    *     present| rows — pass through ONE bounded single-task window to
    *     become prefix offsets (bounded by design: the
    *     [[Sampling.temperatureMixture]] |groups|-row discipline);
    *  3. offsets broadcast back; every partition computes its
    *     within-partition running sums in parallel.
    * offset + within-partition sum equals the naive window EXACTLY
    * (range boundaries respect each group's total order; costs are
    * integer-summed). The ranged input is checkpointed (eager,
    * data grain) — a RELIABLE materialization, not a cache hint: the
    * offsets pass and the final cumsum must see the SAME range
    * boundaries and partition ids, and a plain persist() keeps the
    * lineage alive, so losing a cached block silently RE-EVALUATES
    * it — the RangePartitioner may resample different boundaries and
    * offsets would join against a different partitioning, corrupting
    * cum_cost without any error. Checkpointing truncates the lineage:
    * a lost block is an explicit job failure, never a silent
    * re-partition. The result reads the checkpoint, so it passes to
    * the caller ([[Checkpoints]]). */
  private def phasedCumsum(df: DataFrame, groupCols: Seq[String],
                           orderBy: Seq[Column], costCol: Column): DataFrame =
    Checkpoints.scoped { ck =>
    val grp = groupCols.map(col)
    val ranged = ck.dataGrain(
      df.withColumn("__cost", costCol.cast("long"))
        .repartitionByRange(grp ++ orderBy: _*)
        .sortWithinPartitions(grp ++ orderBy: _*)
        .withColumn("__pid", spark_partition_id()))
    val keys = "__pid" +: groupCols
    val parts = ranged.groupBy(keys.map(col): _*)
      .agg(sum(col("__cost")).as("__psum"))
    // |partitions × groups| rows through a single-task window — bounded
    val offs = parts.withColumn("__off",
        coalesce(sum(col("__psum")).over(
          Window.partitionBy(grp: _*).orderBy(col("__pid"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select((col("__off") +: keys.map(col)): _*)
    // the (pid, groups)-partitioned window re-exchanges, but each
    // bucket is a slice of exactly one ranged partition — same
    // parallelism, no new skew beyond the range partitioner's balance
    val w = Window.partitionBy(col("__pid") +: grp: _*).orderBy(orderBy: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe join: a NULL group value is a legitimate group (the
    // naive PARTITION BY window keeps it) — a plain equality join
    // would silently drop every null-group row. The right side's key
    // columns are re-aliased (fresh attribute ids) so the explicit
    // condition can't trip the ambiguous-self-join check (offs derives
    // from ranged and grouping columns keep their expression ids).
    val offsR = offs.select(
      (col("__off") +: keys.map(k => col(k).as(s"${k}__r"))): _*)
    val cond = keys.map(k => col(k) <=> col(s"${k}__r")).reduce(_ && _)
    ranged.join(broadcast(offsR), cond)
      .drop(keys.map(k => s"${k}__r"): _*)
      .withColumn("cum_cost", col("__off") + sum(col("__cost")).over(w))
      .drop("__pid", "__off", "__cost")
  }

  /** Greedy budget selection: order rows by `orderBy` (a TOTAL order —
    * give it a unique tiebreaker) and keep the maximal prefix whose
    * running `costCol` sum stays ≤ `budget` (inclusive: a row is kept
    * only if the budget covers it entirely). Appends the running total
    * as `cum_cost` — callers (and the oracle) see the exact prefix-sum
    * arithmetic, not just the survivor set. Runs the [[phasedCumsum]]
    * two-phase prefix sum — no unbounded single-task window. */
  def takeByBudget(df: DataFrame, orderBy: Seq[Column], costCol: Column,
                   budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    phasedCumsum(df, Nil, orderBy, costCol)
      .filter(col("cum_cost") <= budget)
  }

  /** Per-group budget selection — [[takeByBudget]] with an independent
    * budget per `groupCol` value: "2M tokens of French, 10M of English"
    * is how multilingual mixtures are actually specified (the budget
    * realizes the mixture weights [[Sampling.temperatureMixture]]
    * computes). Each group's prefix runs under ITS own total order;
    * `cum_cost` restarts per group. The phased prefix sum partitions by
    * (range partition, group), so a 100 TB language still spreads over
    * all executors — the naive per-group window would serialize it
    * through one task. */
  def takeByBudgetPerGroup(df: DataFrame, groupCol: String,
                           orderBy: Seq[Column], costCol: Column,
                           budget: Long): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    phasedCumsum(df, Seq(groupCol), orderBy, costCol)
      .filter(col("cum_cost") <= budget)
  }

  /** Per-group quota cap: keep the top `n` rows of each `groupCol`
    * group under `orderBy`, with the 1-based position appended as
    * `rank` — "no single source may contribute more than N documents",
    * the deterministic counterpart of [[Sampling.temperatureMixture]]'s
    * probabilistic rebalancing. The `row_number <= n` filter is
    * rewritten by Spark to WindowGroupLimit (spec-asserted), so each
    * partition retains n rows per group instead of sorting full
    * groups — the W3 top-k discipline applied to the curation
    * surface. */
  def quotaPerGroup(df: DataFrame, groupCol: String, orderBy: Seq[Column],
                    n: Int): DataFrame = {
    require(n >= 1, "n must be positive")
    val w = Window.partitionBy(col(groupCol)).orderBy(orderBy: _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** [[takeByBudgetPerGroup]] with a DIFFERENT budget per group,
    * supplied as a (group, budget) table — the shape a mixture
    * allocator actually hands the selector ([[waterFillBudget]]'s
    * output feeds straight in): each group keeps the maximal prefix of
    * its own total order whose running cost stays within ITS budget.
    * The budget table is |groups| rows and broadcasts; the prefix sums
    * run through the same phased two-phase cumsum (no per-group
    * single-task window). Null-safe on the group key, like the
    * single-budget path — a NULL group with a NULL-keyed budget row is
    * selected, not dropped. Every group present in `df` MUST have a
    * budget row: the join is left + fail-fast (`raise_error`), so a
    * truncated or malformed allocator output surfaces as a loud job
    * failure instead of silently vanishing groups (an intentional
    * zero allocation is an explicit budget-0 row, which selects
    * nothing but errors nothing). Output appends `cum_cost` and the
    * group's `budget`. */
  def takeByBudgets(df: DataFrame, groupCol: String, orderBy: Seq[Column],
                    costCol: Column, budgets: DataFrame): DataFrame = {
    val b = budgets.select(col(groupCol).as(s"${groupCol}__b"),
      col("budget").cast("long").as("budget"))
    phasedCumsum(df, Seq(groupCol), orderBy, costCol)
      .join(broadcast(b), col(groupCol) <=> col(s"${groupCol}__b"), "left")
      .withColumn("budget", when(col("budget").isNull,
          raise_error(concat(lit("takeByBudgets: no budget row for group "),
            coalesce(col(groupCol).cast("string"), lit("NULL")))))
        .otherwise(col("budget")))
      .drop(s"${groupCol}__b")
      .filter(col("cum_cost") <= col("budget"))
  }

  /** Deterministic uniform coin in (0, 1) — [[Sampling.openCoin]]
    * (the package's one open-interval coin over its one md5-hex6
    * definition), finite ln(u)/ln(1−u) for the Gumbel transform. */
  private def openCoin(keyCol: Column, salt: String): Column =
    Sampling.openCoin(keyCol, salt)

  /** Hashed-feature bucket id in [0, numBuckets):
    * [[Sampling.hexInt]] mod numBuckets. Callers must pass a
    * power-of-two numBuckets ≤ 2^24 so the modulus divides the 16^6
    * hash domain exactly — any other choice has modulo bias across
    * buckets. */
  private def featureBucket(f: Column, salt: String, numBuckets: Int): Column =
    pmod(Sampling.hexInt(f, salt), lit(numBuckets)).cast("long")

  /** Per-occurrence hashed n-gram features (unigrams + bigrams) of a
    * document corpus: one row per feature OCCURRENCE, bucketed into
    * `numBuckets` hashed bins — the DSIR feature space. Entirely
    * narrow: a token split, two slice/zip fan-outs, a hash. Bigrams
    * join their tokens with a single space, which cannot collide with
    * a unigram (tokens are space-split, so never contain one). */
  private def hashedNgrams(docs: DataFrame, idCol: String, textCol: String,
                           salt: String, numBuckets: Int): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      graft.functions.Text.tokens(lower(col(textCol))).as("w"))
    val unis = base.select(col("id"), explode(col("w")).as("f"))
    val bis = base.select(col("id"), explode(zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("f"))
    unis.unionByName(bis)
      .select(col("id"), featureBucket(col("f"), salt, numBuckets).as("b"))
  }

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much likelier its hashed n-gram features are
    * under a TARGET corpus' bag-of-ngrams model than under the raw
    * pool's own — log w(x) = Σ_f (ln p_t(b_f) − ln p_r(b_f)) summed
    * over feature occurrences, with Laplace-smoothed bucket
    * multinomials p(b) = (c_b + 1)/(N + B) — then draw k documents
    * WITHOUT replacement ∝ softmax(log w) via the Gumbel-top-k trick
    * (key = log w + Gumbel(0,1)), reproducible because the Gumbel's
    * uniform is a deterministic per-doc md5 coin. Output: the k chosen
    * docs with `logw`, the perturbed `gkey`, and their 1-based `rank`.
    *
    * Scale shape: the corpus never sees a wide operation it doesn't
    * need. Feature fan-out is narrow; the raw and target bucket
    * histograms are map-side-combined aggregates that emit ≤ B rows
    * each; the B-row log-ratio table broadcasts back onto the feature
    * stream; scoring is ONE corpus shuffle (groupBy doc id, partially
    * aggregated); the global top-k is TakeOrderedAndProject (per-
    * partition heads, no global sort), and the rank window runs over
    * the k selected rows only. Summing ln-ratios per occurrence (vs
    * c·ln-ratio per distinct bucket) differs by ≤ c·ε rounding — both
    * engines replay the same per-occurrence sum, and the 6-decimal
    * round absorbs partial-sum order. */
  def importanceSelect(raw: DataFrame, target: DataFrame, idCol: String,
                       textCol: String, k: Int, numBuckets: Int = 256,
                       salt: String = ":dsir"): DataFrame =
    Checkpoints.scoped { ck =>
    require(k >= 1, "k must be positive")
    require(numBuckets >= 2 && numBuckets <= (1 << 24) &&
      (numBuckets & (numBuckets - 1)) == 0,
      "numBuckets must be a power of two in [2, 2^24] (unbiased modulus)")
    val rawF = ck.shared(hashedNgrams(raw, idCol, textCol, salt, numBuckets))
    val rb = rawF.groupBy("b").agg(count(lit(1)).as("cr"))
    val tb = hashedNgrams(target, idCol, textCol, salt, numBuckets)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val nr = rb.agg(sum("cr").as("nr"))
    val nt = tb.agg(sum("ct").as("nt"))
    // ≤ B rows: the smoothed log-likelihood ratio per bucket. A bucket
    // unseen in the target keeps its smoothing mass 1/(Nt + B).
    val lr = rb.join(tb, Seq("b"), "left")
      .crossJoin(broadcast(nt)).crossJoin(broadcast(nr))
      .select(col("b"),
        (log((coalesce(col("ct"), lit(0L)).cast("double") + lit(1.0)) /
             (col("nt") + lit(numBuckets))) -
         log((col("cr").cast("double") + lit(1.0)) /
             (col("nr") + lit(numBuckets)))).as("lr"))
    val scored = rawF.join(broadcast(lr), Seq("b"))
      .groupBy("id").agg(round(sum(col("lr")), 6).as("logw"))
      .withColumn("gkey", round(col("logw") +
        (-log(-log(openCoin(col("id"), salt + ":g")))), 6))
    val picked = scored.orderBy(col("gkey").desc, col("id")).limit(k)
    picked.withColumn("rank",
      row_number().over(Window.orderBy(col("gkey").desc, col("id")))
        .cast("long"))
  }

  /** UniMax-style budget allocation (Chung et al. 2023): split a total
    * token `budget` across groups as EVENLY as possible, except no
    * group may contribute more than `maxEpochs` passes over its own
    * data — the fairness rule that stops low-resource languages being
    * over-epoched. This is exact water-filling: each group gets
    * min(cap_g, θ) with cap_g = tokens_g·maxEpochs and the water level
    * θ chosen so the allocations sum to the budget. Closed form, no
    * iteration: sort caps ascending — the saturated groups are a
    * PREFIX of that order (if a cap fits under the equal share of the
    * remaining budget, every smaller cap did too) — find the last
    * saturated rank s, then θ = (budget − Σ_{i≤s} cap_i)/(n − s).
    * Output: one row per group with `group_tokens`, `cap`, the
    * allocated `alloc`, and `epochs` = alloc/tokens.
    *
    * Scale shape: the corpus collapses to |groups| rows in one
    * map-side-combined aggregate; everything after — ranking, prefix
    * sums, the s/θ probes — is |groups|-row work on that bounded set
    * (the [[Sampling.temperatureMixture]] discipline), stitched with
    * broadcast-1-row gates. Arithmetic stays integral until θ, whose
    * single division both engines of a replay round identically. */
  def waterFillBudget(docs: DataFrame, groupCol: String, costCol: Column,
                      budget: Long, maxEpochs: Int): DataFrame =
    Checkpoints.scoped { ck =>
    require(budget >= 0, "budget must be non-negative")
    require(maxEpochs >= 1, "maxEpochs must be positive")
    val sizes = docs.groupBy(col(groupCol))
      .agg(sum(costCol.cast("long")).as("group_tokens"))
      .withColumn("cap", col("group_tokens") * maxEpochs)
    val n1 = sizes.agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("cap").asc, col(groupCol).asc)
    val ranked = ck.shared(sizes.crossJoin(broadcast(n1))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("prefix", sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("sat_here",
        col("cap") * (col("n") - col("rn") + lit(1L)) <=
          lit(budget) - (col("prefix") - col("cap"))))
    val s1 = ranked.agg(
      coalesce(max(when(col("sat_here"), col("rn"))), lit(0L)).as("s"))
    val withS = ranked.crossJoin(broadcast(s1))
    val satSum = withS.agg(coalesce(
      max(when(col("rn") === col("s"), col("prefix"))), lit(0L))
      .as("sat_sum"))
    withS.crossJoin(broadcast(satSum))
      .withColumn("alloc", round(
        when(col("rn") <= col("s"), col("cap").cast("double"))
          .otherwise((lit(budget) - col("sat_sum")).cast("double") /
            (col("n") - col("s"))), 6))
      .withColumn("epochs", round(col("alloc") / col("group_tokens"), 6))
      .select(col(groupCol), col("group_tokens"), col("cap"),
        col("alloc"), col("epochs"))
  }

  /** DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * one Group-DRO multiplicative-weights update over the domain
    * mixture. Per domain g, the token-weighted mean EXCESS loss
    * λ_g = max(0, Σ_d tok_d·(ℓ_proxy,d − ℓ_ref,d) / Σ_d tok_d) —
    * how much headroom the reference model shows over the proxy —
    * drives the exponentiated update α'_g ∝ α_g·exp(η·λ_g) from the
    * baseline token shares α_g, then the uniform smoothing the paper
    * uses to keep every domain alive:
    * w_g = (1−c)·α'_g/Σα' + c/|G|. Domains where the stronger model
    * wins big (most learnable) get upweighted; already-saturated
    * domains decay toward the smoothed floor. DoReMi iterates this
    * while the proxy trains; with FIXED loss columns the T-step
    * composition is a single step at η·T, so one update is the
    * complete offline form.
    *
    * Scale shape: the corpus collapses to |domains| rows in ONE
    * map-side-combined aggregate (doc grain in, group grain out);
    * the normalizers are windows over that bounded |G|-row set — the
    * [[Sampling.temperatureMixture]] single-task-window discipline,
    * bounded by design, not data. No corpus shuffle, no collect.
    * Determinism: α is a ratio of exact integer sums; the excess sum
    * is a float aggregate whose cross-engine/order error (~1e-12) sits
    * orders below the 1e-6 rounding grid; `1−c` and `η` should be
    * exact binary doubles (0.125, 1.0) so both engines of a replay
    * compute identical interpolands — the
    * [[Quality.bigramPerplexityBuckets]] 1−0.8-trap argument. */
  def doremiWeights(perDoc: DataFrame, groupCol: String,
                    proxyLossCol: Column, refLossCol: Column,
                    tokCol: Column, eta: Double,
                    smoothing: Double): DataFrame = {
    require(eta > 0, "eta must be positive")
    require(smoothing >= 0 && smoothing < 1, "smoothing must be in [0, 1)")
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDoc.groupBy(col(groupCol))
      .agg(sum(tokCol.cast("long")).as("n_toks"),
        sum(tokCol.cast("double") * (proxyLossCol - refLossCol))
          .as("__ex_sum"))
      .withColumn("alpha",
        col("n_toks").cast("double") / sum(col("n_toks")).over(all))
      .withColumn("excess", greatest(lit(0.0),
        col("__ex_sum") / col("n_toks").cast("double")))
      .withColumn("__upd", col("alpha") * exp(lit(eta) * col("excess")))
      .withColumn("weight", round(
        lit(1.0 - smoothing) * (col("__upd") / sum(col("__upd")).over(all)) +
          lit(smoothing) / count(lit(1)).over(all), 6))
      .select(col(groupCol), col("n_toks"),
        round(col("alpha"), 6).as("alpha"),
        round(col("excess"), 6).as("excess"), col("weight"))
  }

  /** LEAKAGE-SAFE train/val/test split: hash-split like
    * [[Sampling.assignSplit]], but the coin is tossed on each doc's
    * NEAR-DUP CLUSTER REPRESENTATIVE instead of the doc itself — so an
    * entire duplicate cluster lands in ONE split and a test doc can
    * never have a near-copy in train (the eval-leakage mode a per-doc
    * hash split silently permits: two near-identical docs hash
    * independently, and at 10% test rate ~19% of cross-pair clusters
    * straddle the boundary).
    *
    * Composition: [[Dedup.jaccardPairs]] (inverted-index candidates,
    * LSH-gradeable) → [[Dedup.connectedComponents]] (rep = min id per
    * transitive cluster; singleton docs are their own rep) →
    * [[Sampling.assignSplit]] keyed on rep. Split fractions hold in
    * expectation over CLUSTERS rather than docs — the price of the
    * no-straddle guarantee, negligible when dup clusters are small
    * relative to the corpus (and if they are not, the corpus needed
    * dedup before splitting anyway). Adding new docs never reassigns
    * an existing cluster (rep-hash stability) UNLESS a new doc bridges
    * two clusters — then the merged cluster follows the new min-id
    * rep, which is the unavoidable cost of the guarantee. Output:
    * docs + (rep, split). */
  def leakageSafeSplit(docs: DataFrame, idCol: String, textCol: String,
                       splits: Seq[(String, Double)], threshold: Double,
                       shingleLen: Int = 3): DataFrame = {
    val pairs = Dedup.jaccardPairs(docs, idCol, textCol, threshold,
      shingleLen)
    val comps = Dedup.connectedComponents(pairs)
      .select(col("id").as(idCol), col("rep"))
    val withRep = docs.join(comps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("rep"), col(idCol)))
    Sampling.assignSplit(withRep, col("rep"), splits)
  }

  /** Token-budget EPOCH plan — the "how many passes over each source
    * does this run make" table every pretraining data card publishes:
    * temperature mixture weights w_g ∝ n_g^alpha over available
    * per-group token counts, a total budget of budgetFactor × corpus
    * tokens, epochs_g = w_g·B / n_g, capped at maxEpochs (the
    * repetition-harm ceiling). The deficit column is the token mass
    * the cap forfeits — the signal that the mixture wants more of a
    * source than repetition tolerance allows.
    *
    * Scale shape: ONE corpus aggregate to (group → n_docs, n_avail);
    * the normalizer and budget are a 1-row broadcast over the
    * |groups|-row table; all downstream arithmetic is group-grain.
    * Determinism: token counts are exact integers; pow/ratios follow
    * the established ≤1-ulp + 6dp-rounding convention; the capped
    * flag compares a continuous ratio against the maxEpochs constant
    * (never a near-boundary landing on real data); deficit is pinned
    * to exact 0.0 when the cap doesn't bind, avoiding the ±ulp
    * residue of wanted − (wanted/n)·n. */
  def epochPlan(docs: DataFrame, groupCol: String, tokCol: Column,
                alpha: Double, budgetFactor: Double,
                maxEpochs: Double): DataFrame = {
    require(alpha >= 0 && alpha <= 1, "alpha must be in [0, 1]")
    require(budgetFactor > 0 && maxEpochs > 0, "budget and cap positive")
    val avail = docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokCol.cast("long")).as("n_avail"))
    val tot = avail.agg(
      sum(col("n_avail")).as("__N"),
      sum(pow(col("n_avail").cast("double"), lit(alpha))).as("__Z"))
    val w = pow(col("n_avail").cast("double"), lit(alpha)) / col("__Z")
    val wanted = w * col("__N").cast("double") * lit(budgetFactor)
    val rawEp = wanted / col("n_avail").cast("double")
    val capped = rawEp > lit(maxEpochs)
    avail.crossJoin(broadcast(tot)).select(
      col(groupCol), col("n_docs"), col("n_avail"),
      round(w, 6).as("weight"),
      round(wanted, 2).as("tokens_wanted"),
      round(least(rawEp, lit(maxEpochs)), 6).as("epochs"),
      graft.functions.Clean.flag(capped).as("capped"),
      round(when(capped,
        wanted - lit(maxEpochs) * col("n_avail").cast("double"))
        .otherwise(lit(0.0)), 2).as("tokens_deficit"))
  }

  /** UniMax budget allocation (Chung et al., "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining", ICLR 2023) — the TEMPERATURE-FREE mixture solve:
    * where [[epochPlan]] shapes the mixture by n^alpha and forfeits the
    * capped deficit, UniMax distributes the token budget UNIFORMLY
    * across groups subject to the per-group epoch cap, redistributing
    * every capped group's surplus to the still-open ones — the unique
    * allocation that is as close to uniform as the caps allow (the
    * paper's fairness reading; equivalently water-filling on group
    * budget with capacity c_g = n_g·E).
    *
    * EXACT integer arithmetic end to end (the conformal-gate
    * discipline applied to mixture planning): budget B =
    * ⌊total·bNum/bDen⌋ tokens, epoch cap E = eNum/eDen, and the capped
    * set is decided by the PURE-INTEGER prefix test in ascending
    * capacity order (ties → group name)
    *   capped_i  ⟺  n_i·eNum·(G−i+1) ≤ B·eDen − eNum·Σ_{j<i} n_j
    * which is the sequential uniform-share recursion in closed form:
    * once false it stays false (c_{i+1} ≥ c_i shrinks the remaining
    * budget slower than the share), so the capped set is a prefix and
    * ONE cumulative window over the |G|-row table decides it. Every
    * uncapped group receives the identical share
    * (B·eDen − eNum·Σ_capped n_j)/(eDen·u) — doubles derived from
    * exact integers by one IEEE division, cross-engine replayable.
    * When the budget exceeds total capacity every group is capped and
    * the surplus is reported in `budget_left`.
    *
    * Scale shape: ONE corpus aggregate to (group, n_docs, n_avail);
    * everything after is |G|-row arithmetic under a single 1-row
    * broadcast total. Integer headroom: n·eNum·G — at 2.5e13 tokens,
    * eNum ≤ 8 and 4k groups that is ~8e17, inside long. */
  def unimaxAllocation(docs: DataFrame, groupCol: String, tokCol: Column,
                       budgetNum: Long, budgetDen: Long,
                       epochNum: Long, epochDen: Long): DataFrame = {
    require(budgetNum > 0 && budgetDen > 0, "budget ratio must be positive")
    require(epochNum > 0 && epochDen > 0, "epoch cap must be positive")
    val avail = docs.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n_docs"),
      sum(tokCol.cast("long")).as("n_avail"))
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val asc = Window.partitionBy(lit(1))
      .orderBy(col("n_avail"), col(groupCol).cast("string"))
    val g = avail
      .withColumn("__G", count(lit(1)).over(all))
      // integer floor division (Column./ is DOUBLE division — a float
      // quotient would lose exactness right where the integer
      // discipline matters)
      .withColumn("__BT", sum(col("n_avail")).over(all) * lit(budgetNum))
      .withColumn("__B", expr(s"__BT div $budgetDen"))
      .withColumn("__i", row_number().over(asc))
      .withColumn("__pre",
        coalesce(sum(col("n_avail")).over(
          asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__capped",
        col("n_avail") * lit(epochNum) * (col("__G") - col("__i") + 1) <=
          col("__B") * lit(epochDen) - lit(epochNum) * col("__pre"))
    val u = g
      .withColumn("__ncap", sum(when(col("__capped"), 1L).otherwise(0L))
        .over(all))
      .withColumn("__captoks",
        coalesce(sum(when(col("__capped"), col("n_avail"))).over(all),
          lit(0L)))
      // remaining budget in 1/eDen token units; every uncapped group
      // gets the identical share
      .withColumn("__runits",
        col("__B") * lit(epochDen) - lit(epochNum) * col("__captoks"))
      .withColumn("__alloc", when(col("__capped"),
          col("n_avail").cast("double") * lit(epochNum.toDouble) /
            lit(epochDen.toDouble))
        .otherwise(col("__runits").cast("double") /
          (lit(epochDen.toDouble) * (col("__G") - col("__ncap"))
            .cast("double"))))
    u.select(col(groupCol), col("n_docs"), col("n_avail"),
      col("__B").as("budget"),
      round(col("__alloc"), 6).as("allocation"),
      // a zero-mass group (capacity 0, allocation 0) has no epoch
      // reading — explicit NULL, not 0/0 = NaN
      when(col("n_avail") === 0, lit(null).cast("double"))
        .otherwise(round(col("__alloc") / col("n_avail").cast("double"),
          6)).as("epochs"),
      graft.functions.Clean.flag(col("__capped")).as("capped"),
      // surplus the caps strand (nonzero only when EVERY group capped)
      round(when(col("__ncap") === col("__G"),
          col("__runits").cast("double") / lit(epochDen.toDouble))
        .otherwise(lit(0.0)), 6).as("budget_left"))
  }

  /** The CELF lazy-greedy settle rule (Leskovec et al. KDD 2007) shared
    * by [[maxCoverageSelect]] and [[facilityLocationSelectLazy]].
    * Marginal gains are monotone non-increasing under submodularity, so
    * a gain evaluated in an earlier round is an UPPER BOUND on the
    * current one. Round 1's full sweep (unavoidable — no bounds exist
    * yet) is the IMMUTABLE `bounds` table, (id, ub) checkpointed once
    * and never rebuilt; everything that changes afterwards — the
    * re-evaluated bounds and the selected set — lives in a driver-side
    * overlay of size O(k·batch) and O(k).
    *
    * A later round fetches a head of `bounds` in (ub desc, id asc)
    * order, reads it through the overlay, and evaluates batches of
    * stale bounds that could still beat the best fresh gain (≤ 4 in the
    * first batch, then ≤ `batchCap`), the exact tie-break included (a
    * stale bound EQUAL to the fresh gain with a smaller id is still
    * evaluated). It settles only when the fresh winner also dominates
    * the fetch boundary: entries OUTSIDE the fetch have (ub <
    * boundary.ub) or (ub == boundary.ub && id > boundary.id), so the
    * winner (wid, wg) needs wg > boundary.ub, or wg == boundary.ub with
    * wid ≤ boundary.id — else an un-fetched doc could still hide the
    * true greedy winner, and the head is re-fetched at double depth.
    * The trajectory is therefore bit-identical to naive greedy.
    *
    * Driver bound (r20): the widening fetch is CAPPED at
    * fetchCapBatches·batchCap (+|selected|) rows per round — on an
    * adversarial pool of near-tied bounds (where pure widening would
    * pull the whole bound table to the driver) the round falls back to
    * the caller's ONE exact argmax aggregate (the naive round's plan,
    * 1-row collect), so driver rows per round stay O(batch), never
    * O(|candidates|). */
  private final class Celf(bounds: DataFrame, batchCap: Int,
                           fetchCapBatches: Int) {
    require(batchCap >= 1 && fetchCapBatches >= 1,
      "batchCap and fetchCapBatches must be >= 1")
    // first batch of a round: bounds are usually tight, so seed small
    // and let the beater rule widen
    private val seedCap = math.min(4, batchCap)
    private val overlay = scala.collection.mutable.HashMap.empty[Long, Long]
    private val selected = scala.collection.mutable.HashSet.empty[Long]
    private val nCand = bounds.count()
    /** Gain evaluations so far: the round-1 sweep, every evaluated
      * beater, and the whole remaining pool per exact-fallback round. */
    var evals: Long = nCand
    /** The largest single driver fetch of `bounds`, in rows returned. */
    var maxFetch = 0L
    var nFallbacks = 0L

    private def fetchHead(n: Int): Array[(Long, Long)] = {
      val rows = bounds.orderBy(col("ub").desc, col(bounds.columns.head))
        .limit(n).collect().map(r0 => (r0.getLong(0), r0.getLong(1)))
      // record rows actually RETURNED, not the requested limit — a
      // pool smaller than fetchN would otherwise overstate the
      // driver-rows measurement ~6x (r20 review)
      maxFetch = math.max(maxFetch, rows.length.toLong)
      rows
    }

    /** Round `r`'s winner (id, gain), now selected, or None when no
      * candidate remains. `freshGains(ids)` returns the current gains
      * of `ids` (an absent id gains 0); `exactArgmax(selected)` is one
      * aggregate's argmax over the candidates not in `selected`,
      * (gain desc, id asc). */
    def pick(r: Int, freshGains: Seq[Long] => Map[Long, Long],
             exactArgmax: Seq[Long] => Option[(Long, Long)]): Option[(Long, Long)] = {
      val fetchCap = fetchCapBatches.toLong * batchCap + selected.size
      val fresh = scala.collection.mutable.HashMap.empty[Long, Long]
      @annotation.tailrec
      def settle(fetchN: Int, head: Array[(Long, Long)]): Option[(Long, Long)] = {
        val cands = head.filterNot(p => selected(p._1))
          .map { case (id, ub) => (id, overlay.getOrElse(id, ub)) }
        val exhausted = head.length < fetchN // whole bound table fetched
        val remaining = cands.filterNot(p => fresh.contains(p._1))
        val best = if (fresh.isEmpty) None
          else Some(fresh.minBy { case (id, g) => (-g, id) })
        val beaters = best match {
          case None => remaining.sortBy { case (id, ub) => (-ub, id) }
            .take(seedCap)
          case Some((wid, wg)) => remaining
            .filter { case (id, ub) => ub > wg || (ub == wg && id < wid) }
            .sortBy { case (id, ub) => (-ub, id) }.take(batchCap)
        }
        if (cands.isEmpty && exhausted) None
        else if (beaters.nonEmpty) {
          val ids = beaters.map(_._1).toSeq
          val g = freshGains(ids)
          val gains = ids.map(i => i -> g.getOrElse(i, 0L))
          evals += ids.size
          fresh ++= gains
          overlay ++= gains // monotone: still valid bounds later
          settle(fetchN, head)
        } else if (best.exists { case (wid, wg) =>
            exhausted || {
              val (bid, bub) = head.last
              wg > bub || (wg == bub && wid <= bid)
            }
          }) best
        else if (fetchN >= fetchCap) {
          evals += nCand - selected.size
          nFallbacks += 1
          exactArgmax(selected.toSeq)
        } else {
          val n = math.min(math.max(fetchN.toLong * 2,
            fetchN.toLong + batchCap), fetchCap).toInt
          settle(n, fetchHead(n))
        }
      }
      val winner =
        if (r == 1) fetchHead(1).headOption
        else {
          val n = math.min(
            (batchCap + overlay.size + selected.size).toLong, fetchCap).toInt
          settle(n, fetchHead(n))
        }
      winner.foreach { case (id, _) => selected += id; overlay.remove(id) }
      winner
    }
  }

  /** Default CELF evaluation batch and per-round fetch cap (in batches)
    * of the two lazy-greedy selectors. */
  private val CelfBatch = 64
  private val CelfFetchBatches = 16

  /** Greedy MAX-COVERAGE selection — the submodular data-subset
    * primitive (facility location over lexical features; Wei et al.
    * ICML 2015's coverage objective): pick k documents whose shingle
    * sets jointly cover the most of the corpus vocabulary, one
    * farthest-marginal winner per round (the (1−1/e) greedy guarantee;
    * the lexical sibling of the embedding-space k-center in
    * [[Similarity.kCenterSelect]]). Ties break on id, so the greedy
    * trajectory is fully deterministic and oracle-replayable.
    *
    * Scale shape — CELF lazy-greedy ([[Celf]]): round 1 evaluates
    * every doc once and seeds the bound table; every later round
    * re-evaluates only candidates whose stale bound could still win,
    * each batch one semi-join-restricted read of the checkpointed (id,
    * shingle-hash) index + one anti-join against the covered set
    * (≤ k·shingles-per-doc hashes, broadcast-small) + one id-grain
    * count, so a round costs one head fetch + one (rarely two)
    * restricted gains job + the covered-set update (measured 2.8x on
    * q224's floor over per-round bound-table checkpoints). Total
    * re-evaluations ≈ n + O(k·B) instead of naive's n·k
    * (spec-pinned), and the trajectory is bit-identical to naive
    * greedy. The driver holds winners and 1-row argmaxes, never the
    * corpus; covered sets are rounds of [[Checkpoints.Scope.iterate]].
    * All-integer output. */
  def maxCoverageSelect(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, shingleLen: Int = 3): DataFrame =
    maxCoverageSelectCounted(docs, idCol, textCol, k, shingleLen, CelfBatch,
      CelfFetchBatches)._1

  /** [[maxCoverageSelect]] plus the CELF evaluation count (number of
    * marginal-gain computations across all rounds, round-1 full sweep
    * included; an exact-fallback round counts the whole remaining
    * pool), the LARGEST single driver fetch of the bound table and the
    * number of exact-fallback rounds — the spec hooks for
    * "re-evaluations ≪ n·k" and "driver rows per round are bounded".
    * `batchCap`/`fetchCapBatches` are spec-tunable to force the
    * adversarial paths on small fixtures. Returns (trajectory, evals,
    * maxFetch, nFallbacks). */
  private[graft] def maxCoverageSelectCounted(
      docs: DataFrame, idCol: String, textCol: String, k: Int,
      shingleLen: Int, batchCap: Int,
      fetchCapBatches: Int): (DataFrame, Long, Long, Long) =
    Checkpoints.scoped { ck =>
    require(k >= 1, "k must be positive")
    val session = docs.sparkSession
    import session.implicits._
    val base = ck.dataGrain(
      docs.select(col(idCol).cast("long").as("id"),
          explode(graft.functions.Text.shingles(lower(col(textCol)),
            shingleLen)).as("sh_s"))
        .select(col("id"), xxhash64(col("sh_s")).as("sh")))
    val celf = new Celf(ck.proxy(base.groupBy("id").agg(count(lit(1)).as("ub"))),
      batchCap, fetchCapBatches)
    // gains against `covered` of the docs `which` admits
    def gains(covered: DataFrame, which: Column): DataFrame =
      base.join(broadcast(covered), Seq("sh"), "left_anti")
        .filter(which)
        .groupBy("id").agg(count(lit(1)).as("g"))
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
    def keepCounted(df: DataFrame): DataFrame = {
      val c = ck.proxy(df)
      totals += c.count()
      c
    }
    // the state is the covered set of shingle hashes, empty before
    // round 1
    ck.iterate(base.select("sh").filter(lit(false)), keepCounted) {
      (covered, round) =>
        val r = round + 1
        if (r > k) None
        else celf.pick(r,
          ids => gains(covered, col("id").isin(ids: _*)).collect()
            .map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap,
          sel => gains(covered, !col("id").isin(sel: _*))
            .orderBy(col("g").desc, col("id")).limit(1).collect()
            .headOption.map(r0 => (r0.getLong(0), r0.getLong(1)))) match {
          case Some((winner, gain)) if r == 1 || gain > 0 =>
            picks += ((r.toLong, winner, gain))
            Some(covered.unionByName(
              base.filter(col("id") === winner).select("sh")).distinct())
          case _ => None // no candidate left, or everything covered
        }
    }
    (picks.zip(totals).map { case ((r, id, g), t) => (r, id, g, t) }.toSeq
      .toDF("round", "id", "marginal_gain", "covered_total"),
      celf.evals, celf.maxFetch, celf.nFallbacks)
  }

  /** FACILITY-LOCATION greedy data selection over an embedding column
    * (the submodular representativeness objective of Wei/Iyer/Bilmes
    * ICML 2015 "Submodularity in data subset selection"; Krause &
    * Golovin 2014 survey): pick k candidates maximizing
    * F(S) = Σ_{j ∈ corpus} max(0, max_{i ∈ S} sim(i, j)) — every
    * corpus point "served" by its most similar selected exemplar. The
    * (1 − 1/e) greedy picks, each round, the candidate with the
    * largest marginal gain Σ_j max(0, sim(c, j) − best_j); ties break
    * on the lowest id, so the trajectory is a total order.
    *
    * Determinism: similarities are QUANTIZED to the 1e-4 grid as longs
    * (s = round(cosine·10⁴) — the grid q26's oracle already proves
    * engine-portable on this kernel), so gains, the running best_j
    * map, and the objective are EXACT integer arithmetic — a
    * cross-engine replay of the greedy trajectory cannot diverge on a
    * float sum order (the hazard the k-center/min-based ops avoid by
    * construction but any SUM-based submodular objective must face).
    * The clamp at 0 makes negative-similarity pairs contribute
    * nothing, keeping F monotone.
    *
    * Scale shape: the candidate×corpus similarity table is computed
    * ONCE (codegen'd native cosine; candidates broadcast) and
    * persisted; each of the k rounds is one integer aggregate over it
    * plus a 1-row driver collect (the winner — model parameters, the
    * CELF/CC-loop exception) and a narrow best_j update
    * (localCheckpointed so lineage stays flat). At 100 TB the pair
    * table is the product to bound: restrict `candidates` (a curated
    * pool, not the corpus) and route the corpus side through the IVF /
    * LSH bucketing ([[Similarity]]) so each candidate meets only its
    * cell — the aggregate shape is unchanged. */
  def facilityLocationSelect(corpus: DataFrame, candidates: DataFrame,
                             idCol: String, vecCol: String, k: Int,
                             simScale: Double = 1e4): DataFrame = {
    require(k >= 1, "need k >= 1")
    val cand = candidates.select(col(idCol).cast("long").as("__c"),
      col(vecCol).as("__vc"))
    val corp = corpus.select(col(idCol).cast("long").as("__j"),
      col(vecCol).as("__vj"))
    val pairs = corp.crossJoin(broadcast(cand))
      .select(col("__c"), col("__j"),
        round(graft.functions.Vectors.cosine(col("__vc"), col("__vj")) *
          lit(simScale), 0).cast("long").as("__s"))
    greedyFacilityLoop(pairs, corp.select(col("__j")), idCol, k)
  }

  /** Facility-location marginal gains Σ_j max(0, s − best_j) of every
    * candidate in `pairs` against the service table `best`. */
  private def facilityGains(pairs: DataFrame, best: DataFrame): DataFrame =
    pairs.join(best, Seq("__j"))
      .groupBy(col("__c"))
      .agg(sum(greatest(col("__s") - col("__b"), lit(0L))).as("__g"))

  /** One naive facility-location round: the candidate not in `chosen`
    * with the largest gain (ties: smaller id) — one full-table
    * aggregate and a 1-row collect; None when none is pickable. */
  private def facilityArgmax(pairs: DataFrame, best: DataFrame,
                             chosen: Seq[Long]): Option[(Long, Long)] = {
    val gains0 = facilityGains(pairs, best)
    val gains = if (chosen.isEmpty) gains0
      else gains0.filter(!col("__c").isin(chosen: _*))
    gains.orderBy(col("__g").desc, col("__c")).limit(1).collect()
      .headOption.map(r0 => (r0.getLong(0), r0.getLong(1)))
  }

  /** The service table once `winner` is selected: every corpus point
    * keeps its best similarity to any selected candidate. */
  private def served(best: DataFrame, pairs: DataFrame, winner: Long): DataFrame =
    best.join(pairs.filter(col("__c") === winner)
        .select(col("__j"), col("__s")), Seq("__j"), "left")
      .select(col("__j"),
        greatest(col("__b"), coalesce(col("__s"), lit(0L))).as("__b"))

  /** The shared greedy loop of [[facilityLocationSelect]] /
    * [[facilityLocationSelectBucketed]]: k rounds of one integer
    * aggregate over the (persisted-once) pair table + a 1-row winner
    * collect (model parameters, the CELF/CC-loop exception) + a narrow
    * localCheckpointed best-service update. Candidates absent from the
    * pair table (a bucketed candidate whose cell holds no corpus point)
    * are unpickable; when NO candidate remains pickable (k past the
    * pool, or an empty pool/corpus) the loop returns the PARTIAL
    * trajectory instead of an opaque NoSuchElementException (r19,
    * advisor finding). */
  private def greedyFacilityLoop(pairs0: DataFrame, corpusIds: DataFrame,
                                 idCol: String, k: Int): DataFrame =
    Checkpoints.scoped { ck =>
    val spark = pairs0.sparkSession
    import spark.implicits._
    val pairs = ck.shared(pairs0)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var objective = 0L
    ck.iterate(ck.proxy(corpusIds.select(col("__j"), lit(0L).as("__b"))),
        ck.proxy) { (best, round) =>
      if (round >= k) None
      else facilityArgmax(pairs, best, sel.map(_._2).toSeq).map {
        case (wid, wg) =>
          objective += wg
          sel += ((round + 1L, wid, wg, objective))
          served(best, pairs, wid)
      }
    }
    sel.toSeq.toDF("round", idCol, "marginal_gain", "objective_total")
  }

  /** CELF lazy-greedy facility location ([[Celf]]): BIT-IDENTICAL
    * trajectory to [[facilityLocationSelect]] (spec-pinned, same
    * oracle), evaluating only the candidates whose stale upper bound
    * could still win — the [[maxCoverageSelect]] settle rule on the
    * gain objective. Round 1's full sweep seeds the IMMUTABLE bound
    * table; later rounds touch the pair table only for the evaluated
    * batch (a broadcast semi-join of ≤ batch ids), so total gain
    * evaluations ≈ |candidates| + O(k·batch) instead of naive's
    * |candidates|·k — at a 100 TB pair table the difference is k-fold
    * fewer full-table aggregates. A round whose settle fetch reaches
    * the cap runs the naive round's plan instead. */
  def facilityLocationSelectLazy(corpus: DataFrame, candidates: DataFrame,
                                 idCol: String, vecCol: String, k: Int,
                                 simScale: Double = 1e4): DataFrame =
    facilityLocationSelectLazyCounted(corpus, candidates, idCol, vecCol,
      k, simScale, CelfBatch, CelfFetchBatches)._1

  /** [[facilityLocationSelectLazy]] with the counters and tunables of
    * [[maxCoverageSelectCounted]]. Returns (trajectory, evals,
    * maxFetch, nFallbacks). */
  private[graft] def facilityLocationSelectLazyCounted(
      corpus: DataFrame, candidates: DataFrame, idCol: String,
      vecCol: String, k: Int, simScale: Double, batchCap: Int,
      fetchCapBatches: Int): (DataFrame, Long, Long, Long) =
    Checkpoints.scoped { ck =>
    require(k >= 1, "need k >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val cand = candidates.select(col(idCol).cast("long").as("__c"),
      col(vecCol).as("__vc"))
    val corp = corpus.select(col(idCol).cast("long").as("__j"),
      col(vecCol).as("__vj"))
    val pairs = ck.shared(corp.crossJoin(broadcast(cand))
      .select(col("__c"), col("__j"),
        round(graft.functions.Vectors.cosine(col("__vc"), col("__vj")) *
          lit(simScale), 0).cast("long").as("__s")))
    val best0 = ck.proxy(corp.select(col("__j"), lit(0L).as("__b")))
    // round-1 full sweep = the immutable bound table (gains vs best=0)
    val celf = new Celf(ck.proxy(pairs.groupBy(col("__c"))
      .agg(sum(greatest(col("__s"), lit(0L))).as("ub"))),
      batchCap, fetchCapBatches)
    val sel = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    var objective = 0L
    ck.iterate(best0, ck.proxy) { (best, round) =>
      if (round >= k) None
      else celf.pick(round + 1,
        ids => facilityGains(pairs.filter(col("__c").isin(ids: _*)), best)
          .collect().map(r0 => r0.getLong(0) -> r0.getLong(1)).toMap,
        chosen => facilityArgmax(pairs, best, chosen)).map {
        case (wid, wg) =>
          objective += wg
          sel += ((round + 1L, wid, wg, objective))
          served(best, pairs, wid)
      }
    }
    (sel.toSeq.toDF("round", idCol, "marginal_gain", "objective_total"),
      celf.evals, celf.maxFetch, celf.nFallbacks)
  }

  /** [[facilityLocationSelect]] with the corpus side routed through an
    * IVF-style CELL assignment — the 100 TB shape the dense form's
    * scaladoc promises, now code: each candidate meets only the corpus
    * points of its own cell, so the persisted pair table is
    * |corpus|·|candidates|/|cells| in expectation instead of the dense
    * product (measured in docs/SCALE.md). Semantics: similarity is
    * treated as 0 across cell boundaries — the clamp-at-0 reading
    * (cross-cell pairs contribute nothing to F), so with ONE cell the
    * bucketed trajectory equals the dense form EXACTLY (pinned in
    * SelectionSpec); with many cells it is the standard IVF recall
    * trade the ANN family already documents.
    *
    * Cell assignment is the QUANTIZED nearest-centroid argmax:
    * s4 = round(cosine·10⁴) (the q26-proven cross-engine grid), ties →
    * the smaller centroid id — deterministic and engine-portable, so an
    * oracle replays the routing exactly (the float-argmax of
    * [[Similarity.assignCells]] is the production routing when
    * cross-engine replay is not required; the plan shape is the same).
    * Centroids are collected once (model parameters, |cells|×dim) and
    * the per-row assignment is a ZERO-SHUFFLE codegen'd projection —
    * the native [[graft.plans.NearestCellQuantized]] kernel (one
    * method call at ANY centroid count; the r19 greatest()-fold form
    * built |cells| cosine subtrees in a single expression and would
    * fall out of codegen past a few hundred centroids — r19 advisory,
    * pinned equal to the kernel in SelectionSpec), no join, no window;
    * the only exchange added over the dense form is none at all (the
    * pair join stays broadcast). */
  def facilityLocationSelectBucketed(corpus: DataFrame,
                                     candidates: DataFrame,
                                     centroids: DataFrame, idCol: String,
                                     vecCol: String, k: Int,
                                     simScale: Double = 1e4): DataFrame = {
    require(k >= 1, "need k >= 1")
    val cents: Array[(Long, Seq[Double])] = centroids
      .select(col(idCol).cast("long"),
        graft.functions.Vectors.toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "need at least one centroid")
    // ragged centroids would mis-slice the flattened matrix (a wrong
    // total that happens divisible by k slips the kernel's % check)
    require(cents.map(_._2.length).distinct.size == 1,
      "centroid vectors must share one dimension")
    val cellIds = cents.map(_._1)
    val matrix = cents.flatMap(_._2)
    def cellOf(vec: Column): Column =
      graft.plans.exprs.nearestCellQuantized(vec, cellIds, matrix, simScale)
    val cand = candidates.select(col(idCol).cast("long").as("__c"),
      col(vecCol).as("__vc"))
      .withColumn("__cell", cellOf(col("__vc")))
    val corp = corpus.select(col(idCol).cast("long").as("__j"),
      col(vecCol).as("__vj"))
      .withColumn("__cell", cellOf(col("__vj")))
    val pairs = corp.join(broadcast(cand), Seq("__cell"))
      .select(col("__c"), col("__j"),
        round(graft.functions.Vectors.cosine(col("__vc"), col("__vj")) *
          lit(simScale), 0).cast("long").as("__s"))
    greedyFacilityLoop(pairs, corp.select(col("__j")), idCol, k)
  }
}
