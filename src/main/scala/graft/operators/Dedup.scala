package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Deduplication operators for training-data pipelines, each designed to
  * scale: no O(n²) cross joins — candidate generation is always a
  * key-partitioned shuffle (hash, token inverted index, or LSH band
  * buckets), so the work distributes across executors and skewed buckets
  * can be handled by AQE.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-aggregate, canonical survivor =
    * min(id). At 100 TB this is a single shuffle on md5(text) — uniform
    * keys, no skew. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact token-set Jaccard over all pairs ≥ threshold, WITHOUT a cross
    * join: explode distinct tokens → self-join on token (inverted index)
    * → co-occurrence count = |A∩B| → |A∪B| = |A|+|B|−|A∩B|.
    * Pairs sharing no token have Jaccard 0 and are correctly absent.
    * Scale notes: the inverted index ships 8-byte hashed token ids, not
    * the token strings — counts are unchanged up to 64-bit collision
    * odds (see VectorOps.hashTokens64); very common tokens blow up the
    * index, so `maxDocFreq` drops tokens appearing in more than that
    * fraction of docs (a standard prefix-filter; disabled when 1.0 for
    * oracle-exact parity). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   threshold: Double, shingleLen: Int = 1,
                   maxDocFreq: Double = 1.0): DataFrame =
    jaccardPairsFromIndex(
      hotFiltered(docs, shingleIndex(docs, idCol, textCol, shingleLen),
        maxDocFreq),
      threshold)

  /** The shared inverted shingle index both [[jaccardPairs]] and
    * [[containmentPairs]] self-join: one row per (doc, distinct
    * shingle), shingles lowercased then xxhash64'd BEFORE the index
    * joins so every downstream shuffle keys on the 8-byte id instead of
    * the shingle string (distinct strings stay distinct w.h.p., so
    * |A∩B| and doc-frequency counts are unchanged). Ensemble callers
    * that need several signals over the SAME corpus should build this
    * once, checkpoint it (proxy grain), and feed the `FromIndex`
    * variants — the index is a lightweight proxy (id, size, 8-byte
    * hash), so materializing it once replaces 2 corpus
    * scans+shingle-explodes PER SIGNAL SIDE with one. */
  def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                   shingleLen: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      Text.shingles(lower(col(textCol)), shingleLen).as("toks"))
      .withColumn("sz", size(col("toks")))
    toks.select(col("id"), col("sz"), explode(col("toks")).as("tok_s"))
      .select(col("id"), col("sz"), xxhash64(col("tok_s")).as("tok"))
  }

  /** `maxDocFreq` prefix-filter over a [[shingleIndex]] (corpus size
    * computed IN-PLAN as a 1-row broadcast aggregate — no driver-side
    * count() action at composition time); identity when disabled. */
  private[operators] def hotFiltered(docs: DataFrame, inv0: DataFrame,
                                     maxDocFreq: Double): DataFrame =
    if (maxDocFreq >= 1.0) inv0
    else {
      val total = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
      val hot = inv0.groupBy("tok").count()
        .crossJoin(broadcast(total))
        .filter(col("count") > col("__n_docs") * maxDocFreq).select("tok")
      inv0.join(broadcast(hot), Seq("tok"), "left_anti")
    }

  /** [[jaccardPairs]]' pair stage over a prepared [[shingleIndex]].
    *
    * Size-ratio prefilter (the length filter of Arasu, Ganti &
    * Kaushik VLDB 2006): |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max, so
    * J(A,B) ≤ min/max — a pair can only reach `threshold` when
    * min(szA,szB)/max(szA,szB) ≥ threshold. Applied on the index join
    * output BEFORE the pair aggregate, it prunes candidates at the
    * cheapest point on any length-skewed corpus (the sf fixtures are
    * near-uniform, so the bench barely moves — the win is structural,
    * guide §3.2 "reduce before the shuffle"). Recall-exact: IEEE
    * division is correctly rounded hence monotone, so
    * fl(inter/union) ≥ t ⟹ fl(min/max) ≥ t (property-tested). */
  def jaccardPairsFromIndex(inv: DataFrame, threshold: Double): DataFrame = {
    val a = inv.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val b = inv.select(col("id").as("id_b"), col("sz").as("sz_b"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") /
          greatest(col("sz_a"), col("sz_b")) >= threshold)
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Directed CONTAINMENT pairs — the asymmetric counterpart of
    * [[jaccardPairs]]: containment(A→B) = |A∩B| / |A| over distinct
    * shingle sets, the "is A quoted/embedded inside B" signal (Broder
    * 1997's containment, the criterion resemblance misses when sizes
    * differ — a tweet pasted into a long article has tiny Jaccard but
    * containment ≈ 1). Emits BOTH directions of a qualifying ordered
    * pair independently: curation treats "A inside B" (drop A, keep B)
    * differently from the reverse.
    *
    * Scale shape: identical to [[jaccardPairs]] — inverted index on
    * xxhash64(shingle) (strings never shuffle), co-occurrence count =
    * |A∩B| in one pair-keyed aggregate, `maxDocFreq` prefix-filters
    * boilerplate shingles. The score is an exact integer ratio (IEEE
    * division of two exact ints — identical on every engine), so the
    * threshold gate cannot flip cross-engine. */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       threshold: Double, shingleLen: Int = 3,
                       maxDocFreq: Double = 1.0): DataFrame =
    containmentPairsFromIndex(
      hotFiltered(docs, shingleIndex(docs, idCol, textCol, shingleLen),
        maxDocFreq),
      threshold)

  /** [[containmentPairs]]' pair stage over a prepared [[shingleIndex]]. */
  def containmentPairsFromIndex(inv: DataFrame,
                                threshold: Double): DataFrame = {
    val a = inv.select(col("id").as("id_a"), col("sz").as("sz_a"), col("tok"))
    val b = inv.select(col("id").as("id_b"), col("tok"))
    a.join(b, Seq("tok"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "sz_a")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment",
        col("inter").cast("double") / col("sz_a"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("containment"), 6).as("containment"))
  }

  /** Ensemble CONSENSUS over independent duplicate-pair signals — the
    * precision-boosting vote production dedup runs before destructive
    * drops: each signal (lexical Jaccard, containment, edit distance,
    * SimHash, embedding …) has its own false-positive mode, and
    * demanding agreement from `minVotes` of them suppresses
    * single-signal artifacts (a hash-band fluke, a boilerplate-inflated
    * Jaccard) while keeping true near-dups that any two signals see.
    * Input: (name, pairs) per signal, each with unordered `id_a < id_b`
    * columns (normalize directed signals first). Output: one row per
    * pair any signal flagged with votes ≥ `minVotes`, a 0/1 `f_<name>`
    * flag per signal, and the vote count — the attribution table audit
    * pipelines keep.
    *
    * Scale shape: everything is PAIR grain — a union of the (already
    * candidate-bounded) signal outputs and one pair-keyed aggregate;
    * the corpus is never touched. */
  def consensusVote(signals: Seq[(String, DataFrame)],
                    minVotes: Int): DataFrame = {
    require(signals.nonEmpty, "need at least one signal")
    require(minVotes >= 1 && minVotes <= signals.size,
      "minVotes must be within the signal count")
    val u = signals.map { case (name, df) =>
      df.select(col("id_a"), col("id_b")).distinct()
        .withColumn("__sig", lit(name))
    }.reduce(_ unionByName _)
    val flagCols = signals.map { case (n, _) =>
      max(when(col("__sig") === n, 1L).otherwise(0L)).as("f_" + n) }
    u.groupBy("id_a", "id_b").agg(flagCols.head, flagCols.tail: _*)
      .withColumn("votes", signals.map(s => col("f_" + s._1)).reduce(_ + _))
      .filter(col("votes") >= minVotes)
  }

  /** Threshold SWEEP over a materialized pair set — the dedup-tuning
    * table: how many pairs and how many distinct flagged documents a
    * given similarity gate would act on, across a threshold grid, from
    * ONE candidate-pair materialization (the caller localCheckpoints
    * the pairs; sweeping re-reads them |grid| times at PAIR grain —
    * never re-running candidate generation per gate, which is the whole
    * point at 100 TB). Thresholds with zero pairs still appear (the
    * grid left-join), so the curve is complete. All-integer counts. */
  def thresholdSweep(pairs: DataFrame, scoreCol: String,
                     grid: Seq[Double]): DataFrame = {
    require(grid.nonEmpty, "grid must be non-empty")
    val gridDf = pairs.sparkSession.range(1)
      .select(explode(array(grid.map(lit): _*)).as("threshold"))
    val hits = pairs.crossJoin(broadcast(gridDf))
      .filter(col(scoreCol) >= col("threshold"))
    val np = hits.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
    val nd = hits.select(col("threshold"),
        explode(array(col("id_a"), col("id_b"))).as("__id"))
      .groupBy("threshold")
      .agg(countDistinct(col("__id")).as("n_docs_flagged"))
    gridDf.join(np, Seq("threshold"), "left")
      .join(nd, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs_flagged"), lit(0L)).as("n_docs_flagged"))
  }

  /** Prefix-ANCHORED duplicate families — the "same head, different
    * tail" grouping (syndicated articles with varying footers, template
    * instantiations with appended chrome) that full-text exact dedup
    * (q22) misses and pair similarity need not flag when tails diverge:
    * documents sharing their first `anchorTokens` tokens (lowercased)
    * exactly form a family keyed by min id. Output: one row per member
    * of a family of size ≥ 2 (id, anchor, family_id, n_members).
    *
    * Scale shape: anchors are grouped via a 128-bit salted hash pair
    * (anchor strings never enter the family aggregate's shuffle); the
    * family table (collisions only) is small and joins back as a
    * broadcast, so flagged members are identified without a corpus
    * exchange. */
  def prefixFamilies(docs: DataFrame, idCol: String, textCol: String,
                     anchorTokens: Int): DataFrame = {
    require(anchorTokens >= 1, "anchorTokens must be positive")
    val keyed = docs.select(col(idCol).as("id"),
        concat_ws(" ", slice(Text.tokens(lower(col(textCol))), 1,
          anchorTokens)).as("anchor"))
      .withColumn("h1", xxhash64(col("anchor")))
      .withColumn("h2", xxhash64(lit("graft.anchor.salt"), col("anchor")))
    val fams = keyed.groupBy("h1", "h2")
      .agg(count(lit(1)).as("n_members"), min(col("id")).as("family_id"))
      .filter(col("n_members") >= 2)
    keyed.join(fams, Seq("h1", "h2"))
      .select(col("id"), col("anchor"), col("family_id"), col("n_members"))
  }

  /** Fuzzy (edit-distance) duplicate pairs over a bounded document KEY —
    * the entity-resolution / fuzzy-join primitive: pairs whose
    * normalized key (first `prefixTokens` tokens of lower(text)) is
    * within Levenshtein distance `maxDist`. Near-identical openings
    * with small in-place edits (typo variants, template instantiations)
    * are exactly what shingle Jaccard under-scores and edit distance
    * catches.
    *
    * Candidate generation is RECALL-COMPLETE, never all-pairs — the
    * q-gram prefix filter of Gravano et al. (VLDB 2001) / Xiao et al.
    * ED-Join: one edit destroys at most `q` gram instances, so a gram
    * TYPE absent from the other side costs ≥1 destroyed instance and
    * lev ≤ k bounds the absent types by k·q; hence two keys within k
    * share at least one of their (k·q+1) globally-rarest grams. Each
    * key therefore posts only its k·q+1 rarest distinct grams (rank =
    * (global df, gram) — the df table is charset^q-bounded model
    * metadata) into the inverted index; keys too short to carry grams
    * that survive k edits (klen ≤ q−1+k) post a shared sentinel bucket
    * instead. Candidates get a |len_a−len_b| ≤ k filter and an exact
    * `levenshtein` verify — integer-exact, so the oracle can demand the
    * full all-pairs answer and a missed block, wrong prefix length, or
    * df-order tie flip all hash-fail.
    *
    * Scale shape: grams are hashed (xxhash64) before the bucket
    * self-join — a collision only MERGES buckets (adds candidates the
    * verify rejects), never loses a pair; the index carries k·q+1 posts
    * per key (constant), the verify runs on bounded-length keys, and
    * the rarest-gram preference is precisely what keeps bucket sizes
    * sub-linear on skewed real-text gram distributions. */
  def fuzzyDupPairs(docs: DataFrame, idCol: String, textCol: String,
                    prefixTokens: Int = 6, maxDist: Int = 4,
                    qgramLen: Int = 2): DataFrame =
    Checkpoints.scoped { ck =>
    require(prefixTokens >= 1, "prefixTokens must be positive")
    require(maxDist >= 0, "maxDist must be non-negative")
    require(qgramLen >= 1, "qgramLen must be positive")
    val q = qgramLen
    val prefixLen = maxDist * q + 1
    // keyed/exploded/posts each feed SEVERAL downstream branches (df
    // table + rank join; candidate self-join x/y; the two enrichment
    // sides) — Catalyst plans every branch independently, so without
    // materialization the scan+tokenize+gram-explode subtree runs up
    // to 6x (measured: 16 parquet scans, 2 full window subtrees at
    // fixture scale). All three are lightweight proxies of the corpus
    // (id + a `prefixTokens`-token key / a 2-char gram), so eager
    // localCheckpoints pay one materialization for one-pass candidate
    // generation — guide §2.4/§8's "decide on small rows" shape.
    val keyed = ck.proxy(docs.select(col(idCol).as("id"),
        concat_ws(" ",
          slice(Text.tokens(lower(col(textCol))), 1, prefixTokens)).as("k"))
      .withColumn("klen", length(col("k"))))
    // distinct q-gram types per key (guarded: sequence(1, hi) with
    // hi < 1 would generate a DESCENDING range, not an empty one)
    val grams = keyed.withColumn("gs",
      when(col("klen") >= q, array_distinct(expr(
        s"transform(sequence(1, length(k) - ${q - 1}), i -> substr(k, i, $q))")))
        .otherwise(array().cast("array<string>")))
    val exploded = ck.proxy(grams.select(col("id"), col("klen"),
        explode(col("gs")).as("g_s")))
    // global df per gram type: bounded by |charset|^q — model metadata
    val dfTab = exploded.groupBy("g_s").agg(count(lit(1)).as("g_df"))
    val ranked = exploded.join(dfTab, Seq("g_s"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("id"))
        .orderBy(col("g_df"), col("g_s"))))
      .filter(col("rn") <= prefixLen)
      .select(col("id"), col("klen"), xxhash64(col("g_s")).as("g"))
    // short keys can lose EVERY gram instance to k edits whenever the
    // instance count (klen-q+1) is <= k*q — each edit destroys at most
    // q instances — so the sentinel must cover klen <= q-1+maxDist*q,
    // not merely keys that form no gram at all. Such keys still post
    // all their gram types above (type count <= instance count <= k*q
    // < prefixLen), so a LONGER partner within k meets them through a
    // shared posted type: the partner can miss at most k*q of its own
    // types (>=1 destroyed instance each), so one of its k*q+1 rarest
    // posted types survives in the short key's full posting. Short-vs-
    // short pairs meet in the sentinel bucket (a vanishing population
    // at corpus scale for multi-token prefixes).
    val sentinel = keyed.filter(col("klen") <= q - 1 + maxDist * q)
      .select(col("id"), col("klen"), lit(Long.MinValue).as("g"))
    // posts feeds both sides of the candidate self-join: checkpoint so
    // the df-rank window runs once, not once per side
    val posts = ck.proxy(ranked.unionByName(sentinel))
    // the |len| <= maxDist band is a NECESSARY condition for lev <= k,
    // so applying it on the posted klen BEFORE the pair distinct (and
    // before the key-string enrichment) prunes candidates at the
    // cheapest point without touching recall — the verify filter below
    // re-implies it
    val cand = posts.as("x").join(posts.as("y"), Seq("g"))
      .filter(col("x.id") < col("y.id") &&
        abs(col("x.klen") - col("y.klen")) <= maxDist)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    val ka = keyed.select(col("id").as("id_a"), col("k").as("k_a"))
    val kb = keyed.select(col("id").as("id_b"), col("k").as("k_b"))
    cand.join(ka, Seq("id_a")).join(kb, Seq("id_b"))
      // banded DP: O(len·maxDist) per pair instead of O(len²) — exact
      // distance when <= maxDist, -1 otherwise, so the gate and the
      // emitted dist are bit-identical to unbounded levenshtein
      .withColumn("dist", levenshtein(col("k_a"), col("k_b"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }

  /** Cross-source duplication PROVENANCE matrix — the curation
    * accounting table behind "which sources should be deduplicated
    * against which": near-dup pairs from [[jaccardPairs]] roll up to
    * one row per unordered source pair, diagonal included (src_lo ==
    * src_hi measures a source's INTERNAL redundancy; off-diagonal
    * entries are cross-source contamination — the per-corpus overlap
    * tables of the dedup literature, e.g. Lee et al. ACL 2022's
    * cross-validation-split leakage accounting, at source grain).
    *
    * Scale shape: the pair set is the SMALL side everywhere — the
    * id→group projection is corpus-sized but the two enrichment joins
    * key pair-grain rows against it (sort-merge on id, or broadcast of
    * the pair side once AQE sees its size); the matrix aggregate is
    * bounded by |sources|² rows, not data. Determinism: jaccard is
    * already rounded by [[jaccardPairs]]; the mean re-rounds after an
    * exact-count division (float-sum order error ~1e-15, orders under
    * the grid). */
  def dupProvenance(docs: DataFrame, idCol: String, textCol: String,
                    groupCol: String, threshold: Double,
                    shingleLen: Int = 3): DataFrame = {
    val pairs = jaccardPairs(docs, idCol, textCol, threshold, shingleLen)
    val grp = docs.select(col(idCol), col(groupCol))
    pairs
      .join(grp.select(col(idCol).as("id_a"), col(groupCol).as("__ga")),
        Seq("id_a"))
      .join(grp.select(col(idCol).as("id_b"), col(groupCol).as("__gb")),
        Seq("id_b"))
      .select(least(col("__ga"), col("__gb")).as("src_lo"),
        greatest(col("__ga"), col("__gb")).as("src_hi"), col("jaccard"))
      .groupBy("src_lo", "src_hi")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("mean_jaccard"))
  }

  /** SoftDedup-style duplicate DOWNWEIGHTING (He et al. 2024,
    * "SoftDedup: an Efficient Data Reweighting Method for Speeding Up
    * Language Model Pre-training", arXiv:2401.04044): instead of
    * DROPPING near-duplicates (the [[jaccardPairs]]→
    * [[connectedComponents]]→keep-one pipeline), keep every row and
    * emit a training-sampling weight that decays with the document's
    * "commonness" — here the mean document frequency of its distinct
    * `shingleLen`-gram shingles (the paper's n-gram commonness measure
    * at shingle grain). A doc built from corpus-unique text scores
    * commonness ≈ 1 and weight 1; a doc whose every shingle appears in
    * c documents scores commonness ≈ c and weight (c_min/c)^beta —
    * duplicated mass is downweighted smoothly rather than cliff-edge
    * removed, which the paper shows preserves distributional coverage
    * that hard dedup destroys. beta = 0.5 routes through `sqrt`
    * (correctly-rounded IEEE — exact cross-engine parity, the
    * [[Sampling.temperatureMixture]] alpha argument).
    *
    * Scale shape — the [[jaccardPairs]] inverted-index discipline:
    * shingles hash to 8-byte ids BEFORE any shuffle (distinct strings
    * stay distinct w.h.p., so document frequencies are unchanged —
    * the |A∩B| argument), df is one map-side-combined hash-grain
    * aggregate, the join back to postings is hash-grain, and the
    * doc-grain mean is the only doc-keyed exchange. The global
    * minimum commonness rides a broadcast-1-row gate — the corpus is
    * never reshuffled to be normalized. Determinism: commonness is a
    * ratio of exact integer sums (sum(df)/n_shingles — exact IEEE on
    * every engine), min over exact doubles is exact, and sqrt of the
    * exact ratio is correctly rounded — the weight replays
    * bit-identically cross-engine before the 1e-6 rounding. The
    * persisted commonness aggregate passes to the caller;
    * [[Checkpoints.release]] on the materialized weights frees it. */
  def softDedupWeights(docs: DataFrame, idCol: String, textCol: String,
                       shingleLen: Int = 3, beta: Double = 0.5): DataFrame =
    Checkpoints.scoped { ck =>
    require(beta > 0, "beta must be positive")
    val sh = docs.select(col(idCol).as("id"),
        explode(Text.shingles(lower(col(textCol)), shingleLen)).as("sh_s"))
      .select(col("id"), xxhash64(col("sh_s")).as("sh"))
    val df = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    // persisted: the min-aggregate and the final projection are two
    // consumers — without this the explode/df/join pipeline (the
    // operator's entire cost) runs twice per action
    val commonness = ck.shared(sh.join(df, Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shingles"),
        (sum(col("df")).cast("double") / count(lit(1))).as("commonness")))
    val cmin = commonness.agg(min(col("commonness")).as("c_min"))
    val w = if (beta == 0.5) sqrt(col("c_min") / col("commonness"))
            else pow(col("c_min") / col("commonness"), lit(beta))
    commonness.crossJoin(broadcast(cmin))
      .select(col("id"), col("n_shingles"),
        round(col("commonness"), 6).as("commonness"),
        round(w, 6).as("weight"))
  }

  /** LSH BAND-PLAN optimizer for [[minhashLshPairs]] — picks
    * (rowsPerBand r, bands b) for a target Jaccard threshold t under a
    * hash budget H, instead of folklore defaults. For each candidate
    * r ∈ 1..H with b = ⌊H/r⌋, the banded collision probability is the
    * classical S-curve P(s) = 1 − (1 − s^r)^b (Leskovec/Rajaraman/
    * Ullman, Mining of Massive Datasets §3.4); the plan's error is the
    * S-curve's total deviation from the ideal step at t —
    * fp_area = ∫₀ᵗ P(s) ds (sub-threshold pairs that still collide:
    * candidate-verification cost) plus fn_area = ∫ₜ¹ (1−P(s)) ds
    * (above-threshold pairs the bands miss: recall loss) — integrated
    * as a midpoint Riemann sum on a `gridN` grid. The chosen plan
    * minimizes err, ties to the smaller r.
    *
    * Everything is model-grain arithmetic (≤ H plans × gridN grid
    * points), no data touched — and every op chain is replayed
    * IDENTICALLY in SQL (the miss probability q = (1−s^r)^b is the one
    * computed quantity; fp terms are 1−q, fn terms are q, so both
    * engines run the same IEEE sequence; area sums round at 6, the
    * float-sum-order error ~1e-13 sits orders under the grid — the
    * q172 argument), so the WHOLE table hash-checks, not just flags.
    * Output: (rows_per_band, bands, n_hashes_used, fp_area, fn_area,
    * err, is_chosen).
    *
    * `fnWeight` prices the asymmetry of the two error kinds:
    * err = fp_area + fnWeight·fn_area. In the VERIFIED pipeline
    * ([[minhashLshPairs]] re-checks every candidate with exact
    * Jaccard), a false positive costs only verification compute while
    * a false negative is an unrecoverably missed duplicate — so
    * recall-critical dedup should weight fn high (at large fnWeight
    * the optimizer converges on low-row/deep-band plans like the
    * classical 2-row × 32-band default, whose fn_area is ~0 at
    * t = 0.8), while a candidate-budgeted prefilter can run the
    * balanced default. */
  def lshBandPlan(spark: org.apache.spark.sql.SparkSession,
                  threshold: Double, numHashes: Int,
                  gridN: Int = 200, fnWeight: Double = 1.0): DataFrame = {
    require(threshold > 0 && threshold < 1, "threshold must be in (0,1)")
    require(numHashes >= 1 && gridN >= 2, "numHashes/gridN too small")
    require(fnWeight > 0, "fnWeight must be positive")
    import spark.implicits._
    val plans = (1 to numHashes)
      .map(r => (r.toLong, (numHashes / r).toLong))
      .toDF("rows_per_band", "bands")
    val grid = spark.range(gridN.toLong)
      .select(((col("id").cast("double") + 0.5) / gridN).as("s"))
    val scored = plans.crossJoin(grid)
      .withColumn("q", pow(lit(1.0) -
        pow(col("s"), col("rows_per_band").cast("double")),
        col("bands").cast("double")))
      .groupBy("rows_per_band", "bands")
      .agg(
        round(sum(when(col("s") < threshold, lit(1.0) - col("q"))
          .otherwise(lit(0.0))) / gridN, 6).as("fp_area"),
        round(sum(when(col("s") >= threshold, col("q"))
          .otherwise(lit(0.0))) / gridN, 6).as("fn_area"))
      .withColumn("err",
        round(col("fp_area") + lit(fnWeight) * col("fn_area"), 6))
    // |plans| ≤ H rows — the single-task window is model-grain only
    val all = Window.partitionBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    scored
      .withColumn("best_err", min(col("err")).over(all))
      .withColumn("best_r", min(when(col("err") === col("best_err"),
        col("rows_per_band"))).over(all))
      .select(col("rows_per_band"), col("bands"),
        (col("rows_per_band") * col("bands")).as("n_hashes_used"),
        col("fp_area"), col("fn_area"), col("err"),
        when(col("err") === col("best_err") &&
          col("rows_per_band") === col("best_r"), 1L).otherwise(0L)
          .as("is_chosen"))
  }

  /** MinHash + LSH banded near-dup pairs, verified with exact Jaccard.
    *
    * numHashes = bands × rowsPerBand. With rowsPerBand=2, bands=32 a pair
    * at Jaccard j is missed with prob (1−j²)^32 — ≤ 7e-15 at j=0.8, so
    * the verified output equals the exact-Jaccard result with
    * overwhelming probability while candidate generation stays a banded
    * hash shuffle instead of an O(n²) scan — and [[lshBandPlan]] chooses
    * (bands, rowsPerBand) for a target threshold under a hash budget.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      threshold: Double, shingleLen: Int = 1,
                      bands: Int = 32, rowsPerBand: Int = 2): DataFrame = {
    val kind = Lsh.MinHash(threshold, shingleLen, bands, rowsPerBand)
    Lsh.selfPairs(kind, kind.encode(docs, idCol, col(textCol)))
      .select(col("id_a"), col("id_b"), round(col("score"), 6).as("jaccard"))
  }

  /** Eval-set decontamination pairs: CONTAINMENT of an eval doc's
    * shingle set in a training doc — |S(train) ∩ S(eval)| / |S(eval)| —
    * at or above `threshold`. Asymmetric on purpose (the standard
    * benchmark-decontamination metric): a training doc that embeds an
    * entire eval doc scores 1.0 no matter how much extra text it
    * carries, where Jaccard would dilute the signal toward 0.
    *
    * Same inverted-index discipline as [[jaccardPairs]]: both sides
    * explode to 8-byte hashed shingle ids, candidates come from the
    * shingle-keyed join (never a train×eval cross), and the grouped
    * intersection count divides by the eval set size. The eval side is
    * typically benchmark-scale (thousands of docs) — AQE broadcasts its
    * index when it is; the plan stays correct either way. */
  def contaminationPairs(train: DataFrame, evalDocs: DataFrame, idCol: String,
                         textCol: String, threshold: Double,
                         shingleLen: Int = 3): DataFrame = {
    def index(df: DataFrame, out: String) =
      df.select(col(idCol).as(out),
          Text.shingles(lower(col(textCol)), shingleLen).as("toks"))
        .withColumn("sz", size(col("toks")))
        .select(col(out), col("sz"), explode(col("toks")).as("s"))
        .select(col(out), col("sz"), xxhash64(col("s")).as("tok"))
    val ti = index(train, "train_id").drop("sz")
    val ei = index(evalDocs, "eval_id").withColumnRenamed("sz", "sz_e")
    ti.join(ei, Seq("tok"))
      .groupBy("train_id", "eval_id", "sz_e")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") / col("sz_e"))
      .filter(col("containment") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** Drop training docs contaminated by `evalDocs` (containment ≥
    * `threshold` against ANY eval doc) — the gate a training pipeline
    * runs before an eval set can be trusted. */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
                    textCol: String, threshold: Double,
                    shingleLen: Int = 3): DataFrame = {
    val bad = contaminationPairs(train, evalDocs, idCol, textCol, threshold,
      shingleLen).select(col("train_id").as(idCol)).distinct()
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** [[contaminationPairs]]' pair stage over a prepared TRAIN-side
    * [[shingleIndex]] (`id`, `sz`, `tok`) — for pipelines that already
    * built (and materialized) the train index for a near-dup stage:
    * the tokenize+shingle+explode pass over the training corpus runs
    * once and feeds both stages (§2.4). The index construction is
    * [[shingleIndex]]'s own, so counts are identical to the
    * from-documents path. `trainInv` must be a [[shingleIndex]] built
    * with the same `shingleLen`: `shingleLen` shapes only the eval side,
    * and mismatched n-gram spaces would share almost no tokens. */
  def contaminationPairsFromIndex(trainInv: DataFrame, evalDocs: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double,
                                  shingleLen: Int): DataFrame = {
    val ti = trainInv.select(col("id").as("train_id"), col("tok"))
    val ei = evalDocs.select(col(idCol).as("eval_id"),
        graft.functions.Text.shingles(lower(col(textCol)), shingleLen)
          .as("toks"))
      .withColumn("sz_e", size(col("toks")))
      .select(col("eval_id"), col("sz_e"), explode(col("toks")).as("s"))
      .select(col("eval_id"), col("sz_e"), xxhash64(col("s")).as("tok"))
    ti.join(ei, Seq("tok"))
      .groupBy("train_id", "eval_id", "sz_e")
      .agg(count(lit(1)).as("inter"))
      .withColumn("containment", col("inter").cast("double") / col("sz_e"))
      .filter(col("containment") >= threshold)
      .select(col("train_id"), col("eval_id"),
        round(col("containment"), 6).as("containment"))
  }

  /** [[decontaminate]] over a prepared train-side index (the
    * [[contaminationPairsFromIndex]] shape): `trainInv` must be the
    * [[shingleIndex]] of exactly `train`'s documents, built with the
    * same `shingleLen`. */
  def decontaminateFromIndex(train: DataFrame, trainInv: DataFrame,
                             evalDocs: DataFrame, idCol: String,
                             textCol: String, threshold: Double,
                             shingleLen: Int): DataFrame = {
    val bad = contaminationPairsFromIndex(trainInv, evalDocs, idCol, textCol,
      threshold, shingleLen).select(col("train_id").as(idCol)).distinct()
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** EMPIRICAL LSH recall audit — the measurement that closes
    * [[lshBandPlan]]'s loop: the band plan PREDICTS per-pair detection
    * probability P(s) = 1−(1−s^r)^b from the S-curve; this op runs the
    * actual [[minhashLshPairs]] machinery against the exact
    * [[jaccardPairs]] ground truth and checks the realized recall
    * lands inside the model's own binomial band. Run it whenever a
    * band plan changes — a model that stops predicting its machinery
    * is how silent recall loss ships.
    *
    * Output is ONE row: n_exact and expected_recall (mean P(s) over
    * the true pairs — both engine-replayable from exact jaccards),
    * plus two property flags in the q25 pattern (minhash signatures
    * are engine-private, so measured recall itself cannot cross the
    * oracle): `subset_ok` — every verified LSH pair is a true pair
    * (precision 1 by construction; 0 means the verify step broke) —
    * and `recall_in_band` — |measured − expected| ≤ 3σ + 0.02, σ the
    * exact binomial sd Σp(1−p) under the model. Zero true pairs →
    * vacuously green on both sides.
    *
    * Scale shape: both pair generators are the existing inverted-index
    * / banded machinery; the audit adds pair-grain joins and three
    * 1-row aggregates glued by broadcast gates. */
  def lshRecallAudit(docs: DataFrame, idCol: String, textCol: String,
                     threshold: Double, bands: Int, rowsPerBand: Int,
                     shingleLen: Int = 3): DataFrame =
    Checkpoints.scoped { ck =>
    // both pair sets feed TWO branches each (the recall join and the
    // precision anti-join); un-materialized, each branch re-runs the
    // full inverted-index / banded candidate machinery (measured 48
    // parquet scans in q195's plan). Pair-grain proxies — checkpoint.
    val exact = ck.dataGrain(
      jaccardPairs(docs, idCol, textCol, threshold, shingleLen))
    val lsh = ck.dataGrain(
      minhashLshPairs(docs, idCol, textCol, threshold, shingleLen,
          bands, rowsPerBand)
        .select(col("id_a"), col("id_b"), lit(1L).as("detected")))
    val joined = exact.join(lsh, Seq("id_a", "id_b"), "left")
      .select(col("jaccard"),
        coalesce(col("detected"), lit(0L)).as("detected"),
        (lit(1.0) - pow(lit(1.0) - pow(col("jaccard"), rowsPerBand),
          bands)).as("p_detect"))
    val agg = joined.agg(
      count(lit(1)).as("n_exact"),
      sum(col("detected")).as("n_detected"),
      avg(col("p_detect")).as("exp_recall"),
      sum(col("p_detect") * (lit(1.0) - col("p_detect"))).as("var_sum"))
    val extra = lsh.join(exact.select("id_a", "id_b"),
        Seq("id_a", "id_b"), "left_anti")
      .agg(count(lit(1)).as("n_extra"))
    agg.crossJoin(broadcast(extra)).select(
      col("n_exact"),
      round(coalesce(col("exp_recall"), lit(0.0)), 6).as("expected_recall"),
      graft.functions.Clean.flag(col("n_extra") === 0).as("subset_ok"),
      graft.functions.Clean.flag(col("n_exact") === 0 ||
        abs(col("n_detected").cast("double") / col("n_exact") -
          col("exp_recall")) <=
        lit(3.0) * sqrt(col("var_sum")) / col("n_exact") + lit(0.02))
        .as("recall_in_band"))
  }

  /** Contamination BLAST RADIUS — the transitive closure
    * [[decontaminate]] misses: if train doc t is contaminated and t'
    * is a near-duplicate of t, then t' carries (approximately) the
    * same benchmark text even when its own containment score dips
    * under the threshold (paraphrase, truncation, the extra token that
    * dilutes the n-gram overlap). Per-doc screening leaves t' in the
    * corpus; cluster-level screening does not. Returns the full
    * removal set with provenance: (idCol, reason ∈ direct | via_dup)
    * — `direct` docs trip the containment gate themselves, `via_dup`
    * docs are near-dup cluster-mates of a direct hit.
    *
    * Scale shape: [[contaminationPairs]] (inverted index, id-grain
    * output) + [[jaccardPairs]]→[[connectedComponents]] over the train
    * side (both already the banded/bucketed machinery); the closure
    * itself adds only id-grain joins — direct hits → their reps
    * (distinct, cluster-count-bounded) → members. Docs in no dup pair
    * are singleton clusters, so via_dup can only surface docs that
    * actually have a contaminated near-dup. */
  def contaminationBlastRadius(train: DataFrame, evalDocs: DataFrame,
                               idCol: String, textCol: String,
                               threshold: Double, dupThreshold: Double,
                               shingleLen: Int = 3): DataFrame =
    Checkpoints.scoped { ck =>
    // id-grain proxy consumed by three branches (rep lookup, via_dup
    // anti-join, final union) — checkpoint so the containment
    // inverted-index join runs once
    val direct = ck.proxy(contaminationPairs(train, evalDocs, idCol, textCol,
      threshold, shingleLen).select(col("train_id").as(idCol)).distinct())
    val comps = connectedComponents(
        jaccardPairs(train, idCol, textCol, dupThreshold, shingleLen))
      .select(col("id").as(idCol), col("rep"))
    val badReps = direct.join(comps, Seq(idCol)).select("rep").distinct()
    val viaDup = comps.join(badReps, Seq("rep"))
      .select(col(idCol))
      .join(direct, Seq(idCol), "left_anti")
    direct.select(col(idCol), lit("direct").as("reason"))
      .unionByName(viaDup.select(col(idCol), lit("via_dup").as("reason")))
  }

  /** Drop the full [[contaminationBlastRadius]] from `train`: the
    * cluster-consistent decontamination gate (every member of a
    * near-dup cluster containing a contaminated doc goes, not just
    * the doc that tripped the threshold). */
  def decontaminateTransitive(train: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String,
                              threshold: Double, dupThreshold: Double,
                              shingleLen: Int = 3): DataFrame = {
    val bad = contaminationBlastRadius(train, evalDocs, idCol, textCol,
      threshold, dupThreshold, shingleLen).select(idCol)
    train.join(bad, Seq(idCol), "left_anti")
  }

  /** ONE-PASS decontamination audit against MANY benchmark suites at
    * once — the production shape of [[contaminationPairs]]: a lab
    * screens its corpus against every eval suite it reports on
    * (dozens), and running the single-suite gate per suite re-scans
    * the corpus per suite. Here each suite's documents collapse to ONE
    * suite-level distinct-shingle set (per-eval-doc identity does not
    * matter for "did training see this benchmark's text"), the sets
    * are tagged and unioned, and a single corpus scan joins against
    * the union — per-doc/per-suite overlap in one pass no matter how
    * many suites.
    *
    * Metric: the fraction of a training doc's distinct n-grams that
    * appear anywhere in the suite (the n-gram-overlap contamination
    * definition of the GPT-3/PaLM eval cards) — the complement of
    * [[contaminationPairs]]'s eval-side containment: that one asks
    * "is this eval doc inside some training doc", this one asks "how
    * much of this training doc is benchmark material".
    *
    * Scale shape: suite grams and doc grams both shuffle as 64-bit
    * xxhash64 ids, never strings; the join fans a doc gram out only
    * per suite that contains it (≤ |suites| per gram); one exchange
    * at gram-hash grain, one at (doc, suite) grain. Only (doc, suite)
    * pairs with ≥ 1 shared gram surface — the zero rows that would
    * dominate the matrix are never materialized. Output: (train_id,
    * suite, hits, overlap_frac, contaminated 0/1 at `threshold`). */
  def multiSuiteContamination(train: DataFrame, suites: DataFrame,
                              idCol: String, suiteCol: String,
                              textCol: String, threshold: Double,
                              shingleLen: Int = 3): DataFrame = {
    val suiteGrams = suites.select(col(suiteCol).as("suite"),
        explode(Text.shingles(lower(col(textCol)), shingleLen)).as("s"))
      .select(col("suite"), xxhash64(col("s")).as("tok"))
      .distinct()
    val docGrams = train.select(col(idCol).as("train_id"),
        Text.shingles(lower(col(textCol)), shingleLen).as("toks"))
      .withColumn("sz", size(col("toks")))
      .select(col("train_id"), col("sz"), explode(col("toks")).as("s"))
      .select(col("train_id"), col("sz"), xxhash64(col("s")).as("tok"))
    docGrams.join(suiteGrams, Seq("tok"))
      .groupBy("train_id", "suite", "sz")
      .agg(count(lit(1)).as("hits"))
      .select(col("train_id"), col("suite"), col("hits"),
        round(col("hits").cast("double") / col("sz"), 6).as("overlap_frac"),
        graft.functions.Clean.flag(
          col("hits").cast("double") / col("sz") >= threshold)
          .as("contaminated"))
  }

  /** SURGICAL span decontamination — a REWRITE, where [[decontaminate]]
    * is a drop: every token covered by an n-gram that occurs anywhere
    * in the eval set is excised and the remaining tokens are rejoined.
    * This is the salvage path for long documents that merely QUOTE a
    * benchmark (a textbook containing one GSM8K problem): whole-doc
    * dropping forfeits the other 99%, span excision keeps it. Matching
    * and reassembly both operate on lower(text) — span identity is
    * case-folded, so the rewrite is case-normalizing by contract.
    *
    * Scale shape: three narrow passes over `train`, no corpus cache —
    * (1) a positional-n-gram pass ([[graft.plans.exprs.wordNgrams]]
    * kernel) whose grams shuffle as xxhash64 ids against the distinct
    * eval-gram set (benchmark-sized — AQE broadcasts it); (2) covered
    * positions expand ONLY for hit grams (contaminated-span grain, not
    * corpus grain) and flag the touched docs; (3) ONLY flagged docs
    * pay the token-grain explode/reassemble — the typical corpus has
    * few contaminated docs, and clean docs pass through at doc grain
    * untouched. A doc whose every token is covered comes back as the
    * empty string (kept, auditable), not a dropped row. Output:
    * (idCol, clean_text, n_tok, n_removed). */
  def redactContaminatedSpans(train: DataFrame, evalDocs: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3): DataFrame = {
    require(n >= 1, "n-gram length must be positive")
    val evalGrams = evalDocs.select(
        explode(Text.shingles(lower(col(textCol)), n)).as("s"))
      .select(xxhash64(col("s")).as("tok")).distinct()
    val base = train.select(col(idCol).as("rid"),
        Text.tokens(lower(col(textCol))).as("toks"))
      .withColumn("n_tok", size(col("toks")))
    val grams = train.select(col(idCol).as("rid"),
        posexplode(graft.plans.exprs.wordNgrams(
          lower(col(textCol)), n)).as(Seq("pos", "g")))
    val hits = grams.select(col("rid"), col("pos"),
        xxhash64(col("g")).as("tok"))
      .join(evalGrams, Seq("tok"))
      .select(col("rid"), col("pos"))
    val covered = hits.select(col("rid"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("p"))
      .distinct()
    val flagged = covered.select("rid").distinct()
    val tokRows = base.join(flagged, Seq("rid"))
      .select(col("rid"), col("n_tok"),
        posexplode(col("toks")).as(Seq("p", "tok")))
    val kept = tokRows.join(covered, Seq("rid", "p"), "left_anti")
    val rebuilt = kept.groupBy("rid", "n_tok")
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
    val flaggedOut = base.join(flagged, Seq("rid"))
      .join(rebuilt, Seq("rid", "n_tok"), "left")
      .select(col("rid"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_tok").cast("long").as("n_tok"),
        (col("n_tok") - coalesce(col("n_kept"), lit(0L)))
          .cast("long").as("n_removed"))
    val untouched = base.join(flagged, Seq("rid"), "left_anti")
      .select(col("rid"), array_join(col("toks"), " ").as("clean_text"),
        col("n_tok").cast("long").as("n_tok"), lit(0L).as("n_removed"))
    flaggedOut.unionByName(untouched).withColumnRenamed("rid", idCol)
  }

  /** Cross-document REPEATED-SPAN profile — the substring-level dedup
    * signal (the "repeated n-token span" filter of C4/RefinedWeb-style
    * corpus prep, which catches boilerplate and templated text that
    * whole-document similarity misses): for every doc, how many of its
    * `spanLen`-token windows also occur in at least one OTHER document.
    * Returns one row per doc: (id, n_spans, n_dup_spans, dup_frac) —
    * the fraction feeds a quality gate (drop or trim docs above a
    * boilerplate threshold).
    *
    * Shape: one narrow [[graft.plans.exprs.wordNgrams]] kernel pass
    * (multiplicity preserved — a window repeated WITHIN a doc counts
    * each occurrence, but only cross-doc sharing marks it duplicated),
    * hashed to a 128-bit span id (two independently-salted xxhash64
    * columns) before any exchange, the [[jaccardPairs]] hashing
    * discipline hardened for corpus scale: a single 64-bit hash meets
    * its birthday bound near 2^32 distinct windows — a few billion
    * spans, i.e. a handful of TB of text — where a collision would
    * silently mark a unique window as duplicated; at 128 bits the
    * bound moves past any realizable corpus. The cross-doc test is an
    * aggregate on the span hash — count DISTINCT docs per span, keep
    * spans with ≥ 2 — then a semi-join back tags each doc's duplicated
    * windows. Every shuffle ships (hash, id) pairs only; the window
    * STRINGS never leave their partition. At 100 TB the span-hash
    * aggregate is the [[exactGroups]] shape (uniform 16-byte keys, no
    * skew — the second hash column rides the same exchange); hot
    * boilerplate spans concentrate ids per hash, bounded by the doc
    * count holding that span — the same bound the inverted-index ops
    * carry. The per-doc window TOTAL never touches an exchange: it is
    * arithmetic on the token count (max(0, n_tok − spanLen + 1), the
    * kernel's own output size), so only DUPLICATED windows are ever
    * aggregated per doc. */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                      spanLen: Int): DataFrame = {
    require(spanLen >= 1, "spanLen must be positive")
    val spans = docs.select(col(idCol).as("id"),
        explode(graft.plans.exprs.wordNgrams(lower(col(textCol)), spanLen))
          .as("g"))
      .select(col("id"), xxhash64(col("g")).as("h1"),
        xxhash64(lit("graft.span.salt"), col("g")).as("h2"))
    val dupH = spans.select("id", "h1", "h2").distinct()
      .groupBy("h1", "h2").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("h1", "h2")
    val dupPerDoc = spans.join(dupH, Seq("h1", "h2"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_dup_spans"))
    docs.select(col(idCol).as("id"),
        greatest(lit(0L),
          Text.tokenCount(col(textCol)) - (spanLen - 1)).as("n_spans"))
      .join(dupPerDoc, Seq("id"), "left")
      .select(col("id"), col("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_frac",
        round(when(col("n_spans") === 0, lit(0.0))
          .otherwise(col("n_dup_spans").cast("double") / col("n_spans")), 6))
  }

  /** Cross-document REPEATED-SPAN REMOVAL — the repair to
    * [[duplicatedSpans]]' diagnosis (exact substring dedup in the style
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": repeated long spans are memorization fuel, and
    * TRIMMING them keeps the surrounding novel text that whole-document
    * dropping would discard). For every `spanLen`-token window occurring
    * in ≥ 2 documents, the MIN-id document keeps its text; every other
    * document has the window's token positions removed. Overlapping
    * removals union (a token is removed once), and a fully-covered doc
    * comes back as an empty string, not a dropped row. Returns one row
    * per doc: (id, cleaned_text, n_removed).
    *
    * Shape: the [[duplicatedSpans]] candidate machinery with positions —
    * windows hash to the same 128-bit (2 × salted xxhash64) span key
    * before the exchange (here a collision is not a diagnostic blip but
    * a WRONG EDIT — a unique window silently trimmed from a document —
    * so the birthday bound matters doubly), the keeper aggregate rides
    * the same (hash)-keyed shuffle, and only MATCHED windows fan out to
    * (id, token-index) removal rows (∝ duplicated volume, not corpus
    * volume). The text itself is rebuilt NARROWLY: the removal index
    * set joins back by id, the kept positions are `array_except`
    * (hash-set membership, O(n_tok + |removals|) per doc — not the
    * O(n_tok × |removals|) per-token scan a naive contains-filter
    * costs on boilerplate-heavy docs), and an O(1)-per-element
    * positional gather rebuilds the text — the token stream never
    * enters an exchange. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
                            spanLen: Int): DataFrame = {
    require(spanLen >= 1, "spanLen must be positive")
    val spans = docs.select(col(idCol).as("id"),
        posexplode(graft.plans.exprs.wordNgrams(lower(col(textCol)), spanLen))
          .as(Seq("pos", "g")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        xxhash64(col("g")).as("h1"),
        xxhash64(lit("graft.span.salt"), col("g")).as("h2"))
    val keepers = spans.select("id", "h1", "h2").distinct()
      .groupBy("h1", "h2")
      .agg(count(lit(1)).as("nd"), min(col("id")).as("keeper"))
      .filter(col("nd") >= 2)
      .select("h1", "h2", "keeper")
    val removed = spans.join(keepers, Seq("h1", "h2"))
      .filter(col("id") =!= col("keeper"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (spanLen - 1))).as("ti"))
      .distinct()
      .groupBy("id").agg(collect_set(col("ti")).as("rem"))
    docs.select(col(idCol).as("id"),
        // ORIGINAL casing: matching is case-insensitive (windows hash
        // over lower(text), the corpus-dedup convention), but the trim
        // must not case-fold the surviving text — lowercasing preserves
        // the delimiter structure, so token positions align and the
        // removal indices transfer to the original tokens
        graft.functions.Text.tokens(col(textCol)).as("toks"))
      .join(removed, Seq("id"), "left")
      .select(col("id"),
        // kept positions via array_except (builds a hash set over the
        // removal indices once per doc, then one O(1) probe per token —
        // linear where a per-token array_contains scan was quadratic on
        // boilerplate-heavy docs), then a 1-based positional gather.
        // sequence(0, -1) steps DOWNWARD, so the empty-doc case is
        // guarded explicitly rather than fed to sequence.
        array_join(
          when(size(col("toks")) === 0, array().cast("array<string>"))
            .otherwise(transform(
              array_except(
                sequence(lit(0L), size(col("toks")).cast("long") - 1L),
                coalesce(col("rem"), lit(Array.emptyLongArray))),
              i => element_at(col("toks"), (i + 1L).cast("int")))),
          " ").as("cleaned_text"),
        coalesce(size(col("rem")), lit(0)).cast("long").as("n_removed"))
  }

  /** BLOCK-level exact dedup — the CCNet/C4 "line dedup" pass re-expressed
    * for token streams: the dedup unit is a non-overlapping run of
    * `blockTokens` consecutive tokens (the line analogue when documents
    * carry no newline structure), each distinct block keeps its FIRST
    * occurrence (min (doc, position)) corpus-wide, every later copy is
    * dropped, and documents are rebuilt from their surviving blocks in
    * order. Coarser and cheaper than [[removeDuplicatedSpans]] (which
    * matches every sliding window): one candidate row per B tokens
    * instead of one per token, the shape used to strip shared
    * boilerplate headers/footers before the heavier span pass. Returns
    * one row per input doc: (id, n_tok_clean, text_clean) — a doc whose
    * every block is a repeat comes back as an empty string, not a
    * dropped row.
    *
    * Shape ([[duplicatedSpans]]' discipline at block granularity):
    * blocks hash to a 128-bit key (2 × salted xxhash64 — a collision
    * here is a WRONG EDIT, so the birthday-bound hardening applies) and
    * only (key, id, pos) rows enter the winner exchange — block STRINGS
    * never leave their partition. Non-winning copies (∝ duplicated
    * volume, not corpus volume) aggregate to a per-doc drop set that
    * joins back by id; the rebuild is narrow per-token arithmetic on
    * the original token array (array_except over block indices + an
    * O(1) positional gather), preserving original casing — matching is
    * case-insensitive, the corpus-dedup convention. */
  def blockDedup(docs: DataFrame, idCol: String, textCol: String,
                 blockTokens: Int): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be positive")
    val nblk = floor((size(col("t")) - 1) / lit(blockTokens)).cast("long") + 1L
    val blocks = docs.select(col(idCol).as("id"),
        Text.tokens(lower(col(textCol))).as("t"))
      .select(col("id"), posexplode(transform(
          sequence(lit(0L), nblk - 1L),
          i => concat_ws(" ", slice(col("t"),
            (i * blockTokens + 1L).cast("int"), lit(blockTokens)))))
        .as(Seq("pos", "blk")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        xxhash64(col("blk")).as("h1"),
        xxhash64(lit("graft.block.salt"), col("blk")).as("h2"))
    val winners = blocks.groupBy("h1", "h2")
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    val dropped = blocks.join(winners, Seq("h1", "h2"))
      .filter(!(col("id") === col("w.id") && col("pos") === col("w.pos")))
      .groupBy(col("id")).agg(collect_set(col("pos")).as("drop_pos"))
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .join(dropped, Seq("id"), "left")
      .withColumn("kept", flatten(transform(
        array_except(
          sequence(lit(0L),
            floor((size(col("toks")) - 1) / lit(blockTokens)).cast("long")),
          coalesce(col("drop_pos"), lit(Array.emptyLongArray))),
        p => slice(col("toks"), (p * blockTokens + 1L).cast("int"),
          lit(blockTokens)))))
      .select(col("id"),
        // NULL text propagates null through tokens → kept; the contract
        // is (0, "") — a row is never dropped and never carries nulls.
        // (size(toks) == 0 is unreachable — split always yields ≥ 1
        // token — so the sequence bounds stay ascending.)
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_tok_clean"),
        coalesce(array_join(col("kept"), " "), lit("")).as("text_clean"))
  }

  /** Boilerplate removal at block granularity — the CCNet frequent-line
    * filter re-expressed on the [[blockDedup]] grid: a block whose
    * DOCUMENT frequency reaches `minDocFreq` is boilerplate (headers,
    * navigation chrome, license banners) and EVERY copy is dropped —
    * unlike [[blockDedup]], which keeps one winner per distinct block.
    * The df rule counts distinct documents, not occurrences, so a block
    * repeated inside one template-y doc is not boilerplate (that is
    * [[graft.functions.Text.topNgramFrac]]'s q60 regime).
    *
    * Scale shape (the q95 ledger): blocks travel as 128-bit salted hash
    * pairs — block STRINGS never shuffle; the df aggregate and the
    * hot-set semi-join are both block-key-grain; drop sets (∝
    * boilerplate volume) aggregate per doc and the rebuild is the
    * narrow positional gather over original-case tokens. The df
    * threshold is an exact integer compare, so the oracle can replay
    * the drop rule block-string-for-block-string. */
  def boilerplateBlocks(docs: DataFrame, idCol: String, textCol: String,
                        blockTokens: Int, minDocFreq: Long): DataFrame = {
    require(blockTokens >= 1, "blockTokens must be positive")
    require(minDocFreq >= 2, "minDocFreq below 2 would drop every block")
    val nblk = floor((size(col("t")) - 1) / lit(blockTokens)).cast("long") + 1L
    val blocks = docs.select(col(idCol).as("id"),
        Text.tokens(lower(col(textCol))).as("t"))
      .select(col("id"), posexplode(transform(
          sequence(lit(0L), nblk - 1L),
          i => concat_ws(" ", slice(col("t"),
            (i * blockTokens + 1L).cast("int"), lit(blockTokens)))))
        .as(Seq("pos", "blk")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        xxhash64(col("blk")).as("h1"),
        xxhash64(lit("graft.block.salt"), col("blk")).as("h2"))
    val hot = blocks.groupBy("h1", "h2")
      .agg(countDistinct(col("id")).as("df"))
      .filter(col("df") >= minDocFreq)
      .select("h1", "h2")
    val dropped = blocks.join(hot, Seq("h1", "h2"), "left_semi")
      .groupBy(col("id")).agg(collect_set(col("pos")).as("drop_pos"))
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("toks"))
      .join(dropped, Seq("id"), "left")
      .withColumn("kept", flatten(transform(
        array_except(
          sequence(lit(0L),
            floor((size(col("toks")) - 1) / lit(blockTokens)).cast("long")),
          coalesce(col("drop_pos"), lit(Array.emptyLongArray))),
        p => slice(col("toks"), (p * blockTokens + 1L).cast("int"),
          lit(blockTokens)))))
      .select(col("id"),
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_tok_clean"),
        coalesce(array_join(col("kept"), " "), lit("")).as("text_clean"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long")
          .as("n_blocks_dropped"))
  }

  /** Keep-BEST survivor selection over dedup clusters: production
    * pipelines keep the highest-quality document per near-dup cluster,
    * not the smallest id (the min-id convention is for determinism
    * proofs, not curation). Input rows carry (id, cluster rep, score);
    * output appends `survivor_id` (argmax score, ties → smaller id) and
    * a 0/1 `kept` flag — rows, not deletions, so downstream stages
    * choose drop vs audit.
    *
    * Scale shape: one rep-keyed ranking window — the exchange is
    * cluster-grain (singletons ride along untouched), and the rank
    * window plans the usual WindowGroupLimit-free first_value (cluster
    * sizes are bounded by dedup-cluster size, not corpus size). Callers
    * MUST pass an engine-stable score (round it — a raw float ulp
    * difference flips cross-engine tie order). */
  def keepBestByCluster(labeled: DataFrame, idCol: String, repCol: String,
                        scoreCol: String): DataFrame =
    labeled.withColumn("survivor_id",
        first(col(idCol)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col(repCol))
            .orderBy(col(scoreCol).desc, col(idCol).asc)))
      .withColumn("kept",
        when(col(idCol) === col("survivor_id"), 1L).otherwise(0L))

  /** Content-defined chunk dedup — the SHIFT-ROBUST counterpart of
    * [[blockDedup]]. Fixed-width blocks break under a single inserted
    * token (every later block boundary moves, so no downstream block
    * matches); CDC places boundaries where a per-TOKEN content coin
    * fires (`hexInt(token) % avgChunkTokens == 0`, the storage-dedup
    * CDC idea of Muthitacharoen et al., SOSP'01 at token granularity),
    * so boundaries travel with the content and an insertion perturbs
    * only the chunk it lands in — the shared suffix re-aligns and
    * still dedups (property-tested in CdcSpec).
    *
    * Scale shape (the q95 ledger): chunking is per-row HOF arithmetic
    * over the token array — no token ever enters an exchange; the
    * generator emits (pos, start, end) COORDINATES and the chunk
    * string exists only inside the post-explode projection that hashes
    * it (md5, dropped before the winner shuffle, which carries
    * (key, id, pos) at chunk grain ≈ tokens/avgChunkTokens); drop sets
    * aggregate per doc (∝ duplicated volume) and the rebuild is the
    * same narrow positional gather as [[blockDedup]], from the
    * ORIGINAL-case tokens. Matching is case-insensitive (coins and
    * keys on lowered tokens), reconstruction case-preserving —
    * whitespace tokenization keeps indices aligned between the two.
    * First occurrence (min (id, pos)) survives; the md5 coin and the
    * chunk keys replay digit-for-digit in the SQL oracle (q124). */
  def cdcChunkDedup(docs: DataFrame, idCol: String, textCol: String,
                    avgChunkTokens: Int): DataFrame = {
    require(avgChunkTokens >= 2, "avgChunkTokens must be >= 2")
    val base = docs.select(col(idCol).as("id"),
      Text.tokens(lower(col(textCol))).as("tl"),
      Text.tokens(col(textCol)).as("t"))
    // boundary AFTER 1-based token i when its coin lands on 0; chunk
    // spans are (start, end] pairs over sorted boundary positions. The
    // coin runs as ONE codegen'd kernel pass (CdcBoundaries) — the HOF
    // filter(sequence)/hexInt formulation interprets per element and
    // re-evaluates the md5 six times per token inside the lambda
    // (measured 15.1 s vs ~2 s at sf0.1); the kernel reproduces
    // Sampling.hexInt's six-hex-digit value byte-for-byte, so the SQL
    // oracle replay is unchanged.
    def bpos(tl: Column): Column =
      graft.plans.exprs.cdcBoundaries(tl, ":cdc", avgChunkTokens)
    def spans(tl: Column): Column = {
      val b = bpos(tl)
      val starts = concat(array(lit(0)), b)
      val ends = concat(b, array(size(tl)))
      filter(zip_with(starts, ends, (s, e) =>
        struct(s.as("s"), e.as("e"))), p => p("e") > p("s"))
    }
    val chunks = base
      .select(col("id"), col("tl"), posexplode(spans(col("tl"))).as(Seq("pos", "sp")))
      .select(col("id"), col("pos").cast("long").as("pos"),
        md5(concat_ws(" ", slice(col("tl"), col("sp.s") + 1,
          col("sp.e") - col("sp.s")))).as("key"))
    val winners = chunks.groupBy("key")
      .agg(min(struct(col("id"), col("pos"))).as("w"))
    val dropped = chunks.join(winners, Seq("key"))
      .filter(!(col("id") === col("w.id") && col("pos") === col("w.pos")))
      .groupBy(col("id")).agg(collect_set(col("pos")).as("drop_pos"))
    base.join(dropped, Seq("id"), "left")
      .withColumn("sp_all", spans(col("tl")))
      .withColumn("kept", flatten(zip_with(
        col("sp_all"), sequence(lit(0L), size(col("sp_all")).cast("long") - 1L),
        (sp, p) => when(array_contains(
            coalesce(col("drop_pos"), lit(Array.emptyLongArray)), p),
          array().cast("array<string>"))
          .otherwise(slice(col("t"), sp("s") + 1, sp("e") - sp("s"))))))
      .select(col("id"),
        size(col("sp_all")).cast("long").as("n_chunks"),
        coalesce(size(col("drop_pos")), lit(0)).cast("long").as("n_dropped"),
        coalesce(size(col("kept")), lit(0)).cast("long").as("n_tok_clean"),
        coalesce(array_join(col("kept"), " "), lit("")).as("text_clean"))
  }

  /** Connected components over an undirected pair list — the clustering
    * step that turns pairwise near-duplicates into dedup GROUPS, so
    * survivor selection is consistent per cluster (transitive closure)
    * instead of per pair. Returns one row per node appearing in `pairs`:
    * (id, rep) with rep = min id in the node's component.
    *
    * Algorithm: alternating large-star / small-star (the MapReduce
    * connected-components formulation of Kiveris et al., SoCC'14),
    * expressed on DataFrame primitives. Each round rewires edges toward
    * neighborhood minima — large-star hangs every larger neighbor of u
    * under min(Γ(u) ∪ u), small-star then flattens each node's smaller
    * neighbors under its minimum — roughly HALVING component depth per
    * round, so convergence is O(log n) rounds regardless of component
    * DIAMETER. (Min-label propagation, the obvious alternative, needs
    * O(diameter) rounds: a chain-shaped dup cluster at web scale means
    * thousands of full-edge-set shuffles. Measured on id-shuffled paths:
    * 8 rounds at 1k nodes, 10 at 4k — vs a round per hop of distance
    * from the min for propagation.) The fixed point is a star
    * forest — every node points at its component min — detected from
    * the SAME node aggregate that feeds the large-star min (a star has
    * no node with two distinct targets and no 2-edge chain; both
    * counters ride the min's shuffle), so the probe adds no extra pass
    * over the edge set. Non-convergence within `maxRounds` throws
    * rather than returning a silently-wrong clustering.
    *
    * Each round's edge set is `localCheckpoint`ed (eager), NOT merely
    * persisted: persist caches data but keeps the logical plan, so an
    * iterative loop nests each round's plan inside the next and
    * analysis/optimization cost grows without bound (measured: minutes
    * of pure planning by round ~12). Checkpointing truncates the plan to
    * the materialized blocks — every round stays O(1) to plan. On a
    * cluster with executor churn, prefer `sparkContext.setCheckpointDir`
    * + reliable `checkpoint()` for the same truncation with HDFS-backed
    * blocks. Every superseded round's checkpoint is released as soon as
    * the next round materializes, so block-manager state stays O(1) in
    * rounds. The returned labels are one checkpointed node-grain table,
    * handed to the caller ([[Checkpoints]]). */
  def connectedComponents(pairs: DataFrame, idACol: String = "id_a",
                          idBCol: String = "id_b", maxRounds: Int = 50): DataFrame =
    connectedComponentsWithRounds(pairs, idACol, idBCol, maxRounds)._1

  /** [[connectedComponents]] plus the number of star rounds it took —
    * the O(log n) bound is a load-bearing scale property, so specs
    * assert on it directly. */
  def connectedComponentsWithRounds(pairs: DataFrame, idACol: String = "id_a",
                                    idBCol: String = "id_b",
                                    maxRounds: Int = 50): (DataFrame, Int) =
    Checkpoints.scoped { ck =>
    val a = col(idACol); val b = col(idBCol)
    // Canonicalize ONCE and checkpoint BEFORE dropping self-pairs: every
    // later reference (first round, convergence probe, the final node
    // set) reads these blocks instead of re-executing the upstream pair
    // pipeline — `pairs` is typically a full LSH/inverted-index plan,
    // and a second reference to it would re-run that whole plan just to
    // list node ids (measured ~2 s/extra pass on q57's input).
    val canon = ck.dataGrain(
      pairs.select(greatest(a, b).as("u"), least(a, b).as("v"))
        .distinct())
    // down-edges (larger -> smaller); self-pairs drop here and resurface
    // as singleton components in the final node join
    var edges = canon.filter(col("u") =!= col("v"))

    // Per-round node stats, ONE aggregate over the symmetrized edges that
    // serves BOTH the large-star min computation and the convergence
    // probe. In a canonical down-edge set every smaller neighbor of n is
    // one of n's targets and every larger neighbor points AT n, so from
    // sym alone: `nds` = n's distinct target count and `hl` = whether n
    // is itself a target. A star forest has no source with two distinct
    // targets and no node that is both source and target (2-edge chain)
    // — the probe is an isEmpty over this (checkpointed, node-sized)
    // table, no extra pass over the edge set (the naive version cost two
    // full-edge jobs per round: a groupBy-countDistinct plus a
    // self-join — ~2 extra edge passes per round at 100 TB).
    var round = 0
    var converged = false
    while (!converged) {
      val sym = edges.unionAll(edges.select(col("v").as("u"), col("u").as("v")))
      val stats = ck.proxy(sym.groupBy("u").agg(
          min(col("v")).as("mn"),
          countDistinct(when(col("v") < col("u"), col("v"))).as("nds"),
          max((col("v") > col("u")).cast("int")).as("hl")))
      converged = stats
        .filter(col("nds") > 1 || (col("nds") >= 1 && col("hl") === 1))
        .isEmpty
      if (!converged) {
        if (round >= maxRounds)
          throw new IllegalArgumentException(
            s"connectedComponents did not converge in $maxRounds star rounds - " +
              "raise maxRounds")
        // large-star: for each center u with m = min(Γ(u) ∪ u), every
        // LARGER neighbor v re-wires to (v, m). The min comes from the
        // materialized stats — node-sized, so AQE broadcasts it.
        val lsMin = stats.select(col("u"), least(col("mn"), col("u")).as("m"))
        val lsEdges = sym.join(lsMin, Seq("u"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star over the now-directed down-edges: each node's smaller
        // neighbors flatten under its minimum, plus the node itself.
        val ssMin = lsEdges.groupBy("u").agg(min(col("v")).as("m"))
        val next = ck.dataGrain(
          lsEdges.join(ssMin, Seq("u"))
            .filter(col("v") =!= col("m"))
            .select(col("v").as("u"), col("m").as("v"))
            .unionAll(ssMin.select(col("u"), col("m").as("v")))
            .distinct())
        // round 0's edge set is a filter over canon, which the scope
        // does not release here; later rounds free their own checkpoint
        ck.release(edges)
        edges = next
        round += 1
      }
      ck.release(stats)
    }
    // star edges ARE the labels for non-root nodes; roots and singleton
    // (self-pair-only) nodes map to themselves via the left join
    val nodes = canon.select(col("u").as("id"))
      .unionAll(canon.select(col("v").as("id"))).distinct()
    val labels = ck.proxy(nodes
      .join(edges.select(col("u").as("id"), col("v").as("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep")))
    (labels, round)
  }

  /** 64-bit SimHash over the token multiset: bit b of the output is the
    * sign of Σ_tokens (±1 by bit b of hash(token)). Near-dups differ in
    * few bits; bucketing on bit-ranges gives the scale path. Native
    * codegen'd expression — one pass over the tokens per row. */
  def simhash(text: Column): Column =
    graft.plans.exprs.simhash64(Text.tokens(lower(text)))

  /** SimHash near-dup pairs within `maxHamming` bits WITHOUT an all-pairs
    * scan (Manku et al., WWW'07): the 64-bit fingerprint splits into
    * maxHamming+1 bit-bands — a pair differing in at most maxHamming
    * bits matches EXACTLY on at least one band (pigeonhole), so
    * candidates come from equality self-joins on (band, value), id-only
    * through the banded shuffle, and are verified with an exact popcount
    * re-joined by id (the LSH discipline of [[minhashLshPairs]]). Recall
    * is EXACT (pigeonhole, not probabilistic). Candidate volume: random
    * far pairs collide on a w-bit band with prob 2^-w — at maxHamming=3
    * (4×16-bit bands) that is ~n²/2¹⁶ per band; for corpora where that
    * grows too fat, trade shuffle for precision with Manku's rotation
    * trick (more tables over permuted bits) before widening bands. */
  def simhashDupPairs(docs: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame =
    hammingDupPairs(docs, idCol, simhash(col(textCol)), maxHamming)

  /** The Manku pigeonhole machinery over an ARBITRARY 64-bit
    * fingerprint expression — [[simhashDupPairs]] generalized so other
    * 64-bit perceptual signatures (image aHash/dHash —
    * [[Multimodal.perceptualHashes]]) reuse the exact-recall banded
    * join instead of an all-pairs scan. Same plan, contracts, and
    * candidate-volume math as [[simhashDupPairs]] (whose scaladoc is
    * the reference). */
  def hammingDupPairs(docs: DataFrame, idCol: String, hashCol: Column,
                      maxHamming: Int = 3): DataFrame =
    Checkpoints.scoped { ck =>
    val kind = Lsh.Pigeonhole(maxHamming)
    // eager checkpoint: three downstream consumers (banded explode + the
    // two verify re-joins) would otherwise re-run the simhash kernel over
    // the corpus per reference — the same discipline as
    // [[Incremental.dedupAgainst]]'s signature checkpoint
    val sig = ck.proxy(kind.encode(docs, idCol, hashCol))
    Lsh.selfPairs(kind, sig)
      .select(col("id_a"), col("id_b"), col("score").cast("int").as("hamming"))
  }

  /** Embedding near-dup pairs: cosine ≥ threshold via hyperplane-LSH
    * bucketing (narrow signature pass + banded shuffle), exact cosine
    * verify inside each bucket. `bands` buckets of `bitsPerBand` bits;
    * signatures wider than 64 planes span multiple long words (each word
    * covers a distinct plane range via `planeOffset`).
    *
    * Recall math: a pair at cosine c agrees per plane with prob
    * 1 − acos(c)/π; it is missed iff no band fully agrees, prob
    * (1 − (1−acos(c)/π)^bitsPerBand)^bands. Defaults 64×16 give miss
    * ≈ 3e-6 at c = 0.95.
    *
    * Why 16-bit bands: candidate volume for a NON-dup pair is
    * 1−(1−p^bitsPerBand)^bands with p the pair's plane-agreement prob —
    * and real embedding corpora are not isotropic (vectors share
    * dominant directions), so p for unrelated pairs sits well above 0.5
    * (measured ≈ 0.62 on the harness corpus). At 8-bit bands that made
    * HALF of all pairs candidates (measured: ~1M of 2M at sf0.1) — a
    * silent slide back to O(n²) verify. 16-bit bands cut non-dup
    * collisions ~45× per band; recall is then bought back with more
    * bands (64), whose per-band cost is only more signature words in the
    * narrow codegen'd kernel pass. */
  def embeddingDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bands: Int = 64, bitsPerBand: Int = 16): DataFrame = {
    val kind = Lsh.Hyperplane(threshold, bands, bitsPerBand)
    Lsh.selfPairs(kind, kind.encode(emb, idCol, col(vecCol)))
      .select(col("id_a"), col("id_b"), round(col("score"), 4).as("cos"))
  }

  /** Dense-vector eval-set DECONTAMINATION — the embedding counterpart
    * of the n-gram [[decontaminate]]: flag every corpus vector whose
    * cosine to ANY held-out eval vector clears `threshold`, so eval
    * examples that leaked into the training pool (verbatim or
    * re-encoded) are dropped before training. Same 64×16
    * hyperplane-LSH discipline as [[embeddingDupPairs]], banded ACROSS
    * the two sides: a corpus row becomes a candidate only by sharing a
    * (band, bucket) with an eval row.
    *
    * Scale shape: the eval set is the SMALL side by construction
    * (thousands of rows vs a 100 TB pool), so its banded form and its
    * vectors both broadcast — the corpus is never shuffled; the only
    * exchange is the candidate-pair distinct, bounded by actual bucket
    * collisions. Exact-duplicate leakage (cosine 1.0 — the common
    * case) has identical sign bits in EVERY band and is never missed;
    * a natural pair sitting exactly at the threshold carries the usual
    * LSH miss probability (1−s^bits)^bands — callers gating compliance
    * rather than curation should run the brute-force verify
    * ([[Similarity.bruteForceTopK]]) instead. Output: every corpus row
    * plus a 0/1 `contaminated` flag (drop or audit downstream). */
  def embeddingDecontaminate(corpus: DataFrame, evalSet: DataFrame,
                             idCol: String, vecCol: String, threshold: Double,
                             bands: Int = 64, bitsPerBand: Int = 16): DataFrame = {
    val kind = Lsh.Hyperplane(threshold, bands, bitsPerBand)
    def banded(df: DataFrame) = Lsh.bands(kind, kind.encode(df, idCol, col(vecCol)))
    val cand = banded(corpus)
      .join(broadcast(banded(evalSet)
        .select(col("band"), col("bucket"), col("id").as("eval_id"))),
        Seq("band", "bucket"))
      .select(col("id"), col("eval_id")).distinct()
    val cv = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val ev = evalSet.select(col(idCol).as("eval_id"), col(vecCol).as("ev"))
    val hits = cand.join(cv, Seq("id")).join(broadcast(ev), Seq("eval_id"))
      .filter(Vectors.cosine(col("v"), col("ev")) >= threshold)
      .select(col("id").as(idCol)).distinct()
    corpus.join(hits.withColumn("contaminated", lit(1L)), Seq(idCol), "left")
      .withColumn("contaminated", coalesce(col("contaminated"), lit(0L)))
  }

  /** SemDeDup — SEMANTIC deduplication by cluster-then-prune (Abbas et
    * al. 2023, arXiv:2303.09540): assign every vector to its nearest
    * k-means centroid, then inside each cluster drop any vector whose
    * cosine to a LOWER-ID cluster-mate clears `threshold`. Where
    * [[embeddingDupPairs]] finds near-EXACT duplicates (LSH needs high
    * cosine to collide reliably), the cluster route prunes at the looser
    * thresholds of semantic redundancy (paraphrases, templated text) —
    * candidate generation is the centroid assignment itself, recall
    * within a cluster is exact at ANY threshold, and only cross-cluster
    * near-boundary pairs are missed (the paper's accepted
    * approximation).
    *
    * The keep rule — drop x iff some same-cluster y < x (by id) has
    * cos(x,y) ≥ τ — is pairwise-local and order-free, so it
    * parallelizes without the sequential-greedy chain dependency, and
    * it is deterministic: the survivor set replays exactly given the
    * same centroids (which are themselves deterministic,
    * [[Similarity.trainCentroidsKMeans]]).
    *
    * Scale shape: assignment is a zero-shuffle native projection
    * (centroids are k×dim driver model params); the intra-cluster
    * self-join co-partitions both sides on cell_id — pair work is
    * Σ|cell|², bounded by capping cell sizes up front
    * ([[Similarity.splitOversizedCells]], the same knob that bounds IVF
    * probe scans); the final flag join moves ids only. Output: every
    * input row + `cell_id` + 0/1 `semdup` (1 = prunable). */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    val cs = Similarity.collectCentroids(centroids)
    val assigned = Similarity.assignCells(
      emb.select(col(idCol).as("id"), col(vecCol).as("v")), "v", cs)
    val dupIds = assigned.select(col("cell_id"), col("id").as("id_a"), col("v").as("v_a"))
      .join(assigned.select(col("cell_id"), col("id").as("id_b"), col("v").as("v_b")),
        Seq("cell_id"))
      .filter(col("id_b") < col("id_a"))
      .filter(Vectors.cosine(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a").as("id")).distinct()
    emb.join(assigned.select(col("id").as(idCol), col("cell_id")), Seq(idCol))
      .join(dupIds.select(col("id").as(idCol)).withColumn("semdup", lit(1L)),
        Seq(idCol), "left")
      .withColumn("semdup", coalesce(col("semdup"), lit(0L)))
  }

  /** WINNOWING fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): char-k-gram hashes reduced to the rightmost
    * window minima by the [[graft.plans.VectorOps.winnow]] codegen
    * kernel. Unlike MinHash's probabilistic recall, winnowing carries a
    * GUARANTEE: any shared substring of ≥ w+k−1 chars produces a shared
    * fingerprint — the property that makes it the standard
    * clone/plagiarism detector. Narrow per-row kernel + one explode;
    * one row per selected (pos, hash), ~2/(w+1) of positions. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame =
    docs.select(col(idCol),
        explode(graft.plans.exprs.winnowFingerprints(col(textCol),
          ":win", k, w)).as("pk"))
      .select(col(idCol), shiftright(col("pk"), 24).cast("long").as("pos"),
        col("pk").bitwiseAND(lit(0xFFFFFFL)).as("h"))

  /** Fingerprint-overlap candidate pairs — the winnowing dedup/clone
    * report: documents sharing ≥ `minShared` distinct fingerprint
    * HASHES, with ubiquitous fingerprints (appearing in > `maxDocs`
    * documents — boilerplate, stopword runs) dropped before pairing.
    * The inverted-index discipline of [[jaccardDupPairs]]: only
    * (hash, id) ints ever shuffle, posting lists are bounded by
    * `maxDocs` so the per-hash pair fan-out is ≤ maxDocs², and the
    * final count runs at pair grain. The winnowing guarantee makes
    * recall deterministic: a ≥ w+k−1-char shared run ALWAYS lands a
    * shared hash (subject to the maxDocs cut, which is visible in the
    * posting counts, not silent). */
  def winnowDupPairs(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, w: Int, maxDocs: Long,
                     minShared: Long): DataFrame =
    Checkpoints.scoped { ck =>
    // (id, h) proxy consumed by the liveness aggregate and both sides
    // of the pair self-join — checkpoint so the winnowing window runs
    // once, not once per branch
    val fp = ck.proxy(winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol), col("h")).distinct())
    val live = fp.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"))
      .filter(col("nd") <= maxDocs)
      .select(col("h"))
    val lf = fp.join(live, Seq("h"))
    lf.as("a").join(lf.as("b"),
        col("a.h") === col("b.h") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Sample-extrapolated duplicate-rate estimate, audited against the
    * full-scan truth — the "how duplicated is this crawl?" readout you
    * run BEFORE committing to a full dedup pass. A deterministic
    * id-hash sample (md5 bucket prefix, the q52 device — sampled on
    * IDENTITY, never on content, or the sample would correlate with
    * dup status) estimates the fraction of documents whose exact
    * content hash appears ≥ 2 times; a normal-approximation 95% CI
    * quantifies the estimate, and the same pass computes the exact
    * full-corpus rate so the CI's coverage is checked in-plan.
    *
    * Scale shape: ONE shuffle at content-hash grain — the sampled flag
    * rides the hash rows into the multiplicity aggregate
    * (`groupBy(hash).agg(count, sum(flag))`), so there is no
    * sample-to-index join at all; the final readout is a 1-row
    * aggregate. Only 128-bit hashes and a byte flag move; text never
    * shuffles. At 100 TB the estimator's real saving arrives when the
    * multiplicity check is a near-dup probe instead of an exact hash —
    * this surface pins the estimator's statistics (estimate, CI,
    * coverage) so that swap stays audited.
    *
    * Output (1 row): n_total, dup_rate_true, n_sampled, dup_rate_est,
    * ci_lo, ci_hi (clamped to [0,1], rounded 6dp), covered (1 iff the
    * true rate lies in the unrounded CI). Doubles here are ratios of
    * exact integer counts and one IEEE sqrt — both correctly rounded
    * in any engine, so the flag is cross-engine stable. */
  def sampledDupRate(docs: DataFrame, idCol: String, textCol: String,
                     rate: Double): DataFrame = {
    val p = Sampling.prefixes(rate)
    require(p.nonEmpty, "rate too small: empty sample bucket set")
    val h = docs.select(md5(col(textCol)).as("__h"),
      substring(md5(col(idCol).cast("string")), 1, 2).isin(p: _*).as("__s"))
    val perHash = h.groupBy(col("__h")).agg(
      count(lit(1)).as("__m"),
      sum(when(col("__s"), 1L).otherwise(0L)).as("__sc"))
    val agg = perHash.agg(
      sum(col("__m")).as("n_total"),
      sum(when(col("__m") >= 2, col("__m")).otherwise(0L)).as("__dt"),
      sum(col("__sc")).as("n_sampled"),
      sum(when(col("__m") >= 2, col("__sc")).otherwise(0L)).as("__ds"))
    val pt = col("__dt").cast("double") / col("n_total").cast("double")
    val pe = col("__ds").cast("double") / col("n_sampled").cast("double")
    val se = sqrt(pe * (lit(1.0) - pe) / col("n_sampled").cast("double"))
    val lo = greatest(pe - lit(1.96) * se, lit(0.0))
    val hi = least(pe + lit(1.96) * se, lit(1.0))
    agg.select(col("n_total"),
      round(pt, 6).as("dup_rate_true"),
      col("n_sampled"),
      round(pe, 6).as("dup_rate_est"),
      round(lo, 6).as("ci_lo"),
      round(hi, 6).as("ci_hi"),
      graft.functions.Clean.flag(pt >= lo && pt <= hi).as("covered"))
  }
}
