package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Text

/** Composed training-corpus preparation: the end-to-end shape of an LLM
  * data pipeline — quality gate → language gate → exact dedup → near-dup
  * dedup — as one declarative plan.
  *
  * Dedup survivor policy: per exact-duplicate group keep min(id); then
  * the near-dup stage (3-gram Jaccard ≥ threshold) selects survivors
  * either GREEDILY (drop any doc with a smaller-id near-dup — the
  * default) or CLUSTER-CONSISTENTLY (`transitiveDedup = true`: one
  * survivor per connected component of the pair graph). Both are
  * deterministic; see [[prepare]] for the difference.
  *
  * Scale: each stage is one narrow projection or one keyed shuffle; the
  * near-dup stage reuses [[Dedup.jaccardPairs]]' inverted index (no O(n²)
  * scan). Stages compose lazily — Catalyst fuses the projections.
  */
object Corpus {

  /** The composed corpus. Its persisted stage intermediates (and, in
    * cluster mode, the component labels) pass to the caller:
    * [[Checkpoints.release]] on the result, once materialized, frees
    * exactly them.
    *
    * @param maxDocFreq prefix-filter knob forwarded to
    *   [[Dedup.jaccardPairs]]: shingles present in more than this fraction
    *   of docs are dropped from the inverted index before the pair join.
    *   The DEFAULT is capped (0.5) — on web-scale text, stopword-grade
    *   shingles otherwise produce postings lists whose pair counts square
    *   (the 100 TB scale-killer). Near-dup pairs at a meaningful threshold
    *   share many shingles, so dropping corpus-half-frequency ones loses a
    *   pair only if ALL its shared shingles are that hot (DedupSimilarity
    *   specs prove capped == exact on the harness corpus); pass 1.0 for
    *   oracle-exact mode.
    * @param transitiveDedup survivor-selection mode for the near-dup
    *   stage. `false` (default): GREEDY — drop every doc with a
    *   smaller-id near-duplicate. `true`: CLUSTER-CONSISTENT — run
    *   [[Dedup.connectedComponents]] over the pair graph and keep only
    *   each component's min id, the web-scale rule (greedy can keep two
    *   docs that are both near-dups of a third but not of each other;
    *   transitive closure keeps exactly one doc per dup cluster).
    *   The cluster mode runs the iterative component computation EAGERLY
    *   at composition time (it is a fixpoint of Spark jobs, not one
    *   declarative plan); its labels are released with the result.
    * @param evalDocs when set, a final DECONTAMINATION stage drops
    *   surviving docs whose shingle containment against any eval doc
    *   reaches `contaminationThreshold` ([[Dedup.decontaminate]]) — the
    *   production order is gate → dedup → decontaminate, so eval overlap
    *   is checked on the docs that would actually ship. The deduped set
    *   is persisted (the stage references it twice).
    * @param contaminationThreshold containment level at which a doc is
    *   considered contaminated (only used with `evalDocs`). */
  def prepare(docs: DataFrame, idCol: String, textCol: String,
              stopwords: Seq[String], langMarkers: Seq[(String, Seq[String])],
              keepLangs: Set[String], minQuality: Double,
              nearDupThreshold: Double, maxDocFreq: Double = 0.5,
              transitiveDedup: Boolean = false,
              evalDocs: Option[DataFrame] = None,
              contaminationThreshold: Double = 0.8): DataFrame =
    Checkpoints.scoped { ck =>
    val id = col(idCol); val text = col(textCol)

    // persisted: consumed by both the exact-keep aggregate and the
    // exact-set semi join — without a materialization barrier the
    // quality+lang scan re-runs per branch (~3× the corpus scan; at
    // 100 TB that is two extra full passes).
    val gated = ck.shared(docs
      .withColumn("quality", Text.qualityScore(text, stopwords))
      .withColumn("lang_pred", Text.langId(lower(text), langMarkers))
      .filter(col("quality") >= minQuality &&
        col("lang_pred").isin(keepLangs.toSeq.map(lit): _*)))

    // exact dedup: min id per content hash
    val exactKeep = gated.groupBy(md5(text).as("__h"))
      .agg(min(id).as(idCol))
      .select(idCol)
    // persisted: consumed by the jaccard inverted index AND the final
    // left_anti probe
    val exact = ck.shared(gated.join(exactKeep, Seq(idCol), "left_semi"))

    // near-dup dedup: greedy (drop docs with a smaller-id near-dup) or
    // cluster-consistent (keep one survivor per transitive dup cluster).
    // ONE shingle index over the exact-deduped set feeds BOTH the
    // near-dup pair stage and (with `evalDocs`) the decontamination
    // train side — without sharing, the tokenize+shingle+explode pass
    // over the corpus runs once per stage (§2.4). Persisted only when
    // a second consumer exists.
    val inv0 = Dedup.shingleIndex(exact, idCol, textCol, shingleLen = 3)
    val inv = if (evalDocs.isEmpty) inv0 else ck.shared(inv0)
    val pairs = Dedup.jaccardPairsFromIndex(
      Dedup.hotFiltered(exact, inv, maxDocFreq), nearDupThreshold)
    val dupOf =
      if (!transitiveDedup) pairs.select(col("id_b").as(idCol)).distinct()
      else {
        val labels = Dedup.connectedComponents(pairs)
        labels.filter(col("id") =!= col("rep")).select(col("id").as(idCol))
      }
    val deduped = exact.join(dupOf, Seq(idCol), "left_anti")
    // optional eval-set decontamination, LAST: checked on the docs that
    // survive dedup. Persisted when present — the stage references the
    // deduped set twice (train index + the anti-join). The train index
    // is the shared `inv` filtered to survivors (an id semi-join), not
    // a second tokenize pass over the corpus.
    val cleaned = evalDocs match {
      case None => deduped
      case Some(ev) =>
        val d = ck.shared(deduped)
        val survIdx = inv.join(d.select(col(idCol).as("id")),
          Seq("id"), "left_semi")
        Dedup.decontaminateFromIndex(d, survIdx, ev, idCol, textCol,
          contaminationThreshold)
    }
    cleaned
      .select(id, Text.tokenCount(text).as("n_tokens"), col("quality"),
        col("lang_pred"))
  }

  /** Per-document DROP LEDGER — the audit artifact behind every
    * published pipeline's "rule X removed Y% of documents" table
    * (Dolma's per-rule removal accounting, Soldaini et al. 2024; the
    * RefinedWeb/C4 ablation tables): one row per INPUT doc tagging the
    * FIRST stage of [[prepare]]'s gate→dedup chain that dropped it —
    * 'quality', 'lang', 'exact_dup', 'near_dup', 'contaminated' (when
    * `evalDocs` is given) — or 'kept'. Built from the SAME stage
    * machinery and parameters as [[prepare]] (greedy near-dup mode),
    * so the ledger's 'kept' rows are exactly prepare's survivor set
    * and drop accounting can never drift from the pipeline it audits.
    *
    * Scale shape: the stage computations are prepare's own (one
    * scored scan persisted, the exact-keep aggregate, the
    * inverted-index pair join); the ledger adds only id-keyed flag
    * joins at doc grain — ids and one-byte markers, never text — and
    * the stage column is one CASE over the flags, evaluated in the
    * pipeline's own stage order so a doc failing several gates
    * reports the first. Like [[prepare]], the persisted stage
    * intermediates pass to the caller; [[Checkpoints.release]] on the
    * materialized ledger frees them. */
  def dropLedger(docs: DataFrame, idCol: String, textCol: String,
                 stopwords: Seq[String],
                 langMarkers: Seq[(String, Seq[String])],
                 keepLangs: Set[String], minQuality: Double,
                 nearDupThreshold: Double, maxDocFreq: Double = 0.5,
                 evalDocs: Option[DataFrame] = None,
                 contaminationThreshold: Double = 0.8): DataFrame =
    Checkpoints.scoped { ck =>
    val id = col(idCol); val text = col(textCol)
    val scored = ck.shared(docs
      .withColumn("quality", Text.qualityScore(text, stopwords))
      .withColumn("lang_pred", Text.langId(lower(text), langMarkers)))
    val gated = scored.filter(col("quality") >= minQuality &&
      col("lang_pred").isin(keepLangs.toSeq.map(lit): _*))
    val exactKeep = gated.groupBy(md5(text).as("__h"))
      .agg(min(id).as(idCol)).select(idCol)
    val exact = ck.shared(gated.join(exactKeep, Seq(idCol), "left_semi"))
    // the prepare shared-index shape: one shingle index feeds
    // the near-dup stage and (with `evalDocs`) the contamination
    // train side
    val inv0 = Dedup.shingleIndex(exact, idCol, textCol, shingleLen = 3)
    val inv = if (evalDocs.isEmpty) inv0 else ck.shared(inv0)
    val nearDupIds = Dedup.jaccardPairsFromIndex(
        Dedup.hotFiltered(exact, inv, maxDocFreq), nearDupThreshold)
      .select(col("id_b").as(idCol)).distinct()
    val dedupedOpt = evalDocs.map { _ =>
      ck.shared(exact.join(nearDupIds, Seq(idCol), "left_anti"))
    }
    val contamIds = evalDocs.zip(dedupedOpt).map { case (ev, deduped) =>
      val survIdx = inv.join(deduped.select(col(idCol).as("id")),
        Seq("id"), "left_semi")
      Dedup.contaminationPairsFromIndex(survIdx, ev, idCol, textCol,
          contaminationThreshold)
        .select(col("train_id").as(idCol)).distinct()
    }
    def flag(ids: DataFrame, name: String) =
      ids.withColumn(name, lit(1L))
    val base = scored.select(id, col("quality"), col("lang_pred"))
      .join(flag(exactKeep, "__ek"), Seq(idCol), "left")
      .join(flag(nearDupIds, "__nd"), Seq(idCol), "left")
    val withContam = contamIds match {
      case Some(c) => base.join(flag(c, "__ct"), Seq(idCol), "left")
      case None    => base.withColumn("__ct", lit(null).cast("long"))
    }
    withContam.select(id, col("quality"), col("lang_pred"),
      when(col("quality") < minQuality, "quality")
        .when(!col("lang_pred").isin(keepLangs.toSeq.map(lit): _*), "lang")
        .when(col("__ek").isNull, "exact_dup")
        .when(col("__nd").isNotNull, "near_dup")
        .when(col("__ct").isNotNull, "contaminated")
        .otherwise("kept").as("stage"))
  }

  /** Corpus SNAPSHOT DIFF — the data-versioning audit between two
    * pipeline runs: which documents were added, removed, changed, or
    * untouched between snapshot `prev` and snapshot `cur`. This is the
    * reproducibility question every training run must answer ("what
    * exactly moved between corpus v3 and v4?") and the input to
    * incremental reprocessing (only `added`/`changed` docs need
    * re-scoring/re-embedding; `removed` feeds the forget protocol).
    *
    * Scale shape: each side collapses to (id, md5(text)) in its scan —
    * text never shuffles — then ONE full-outer join at id grain
    * decides the status per doc. No corpus cache, no collect. Output:
    * (idCol, status ∈ added|removed|changed|unchanged, h_prev, h_cur)
    * with null hash on the absent side. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                   textCol: String): DataFrame = {
    val a = prev.select(col(idCol), md5(col(textCol)).as("h_prev"))
    val b = cur.select(col(idCol), md5(col(textCol)).as("h_cur"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("h_prev").isNull, "added")
          .when(col("h_cur").isNull, "removed")
          .when(col("h_prev") =!= col("h_cur"), "changed")
          .otherwise("unchanged").as("status"),
        col("h_prev"), col("h_cur"))
  }

  /** Contrastive (anchor, positive) span pairs from single documents —
    * the self-supervised retrieval-training transform (ICT/Contriever
    * family: two independent spans of one document form a positive
    * pair; negatives come from the batch). For each doc with ≥ 2L
    * tokens, two NON-OVERLAPPING L-token spans are cut at
    * deterministic offsets: anchor start a = ⌊u_A·(n−2L+1)⌋, positive
    * start p = a + L + ⌊u_B·(n−2L−a+1)⌋ — u_A/u_B the salted open md5
    * coins, so the pair set replays exactly (coin grid 2^-24; the
    * ⌊u·R⌋ products stay < 2^53, exact in doubles, so the floor is
    * engine-stable; p's range [a+L, n−L] makes overlap impossible by
    * construction).
    *
    * Scale shape: ONE narrow projection per doc — coins, two floors,
    * two array slices; no shuffle at all (the output is consumed by
    * the trainer's own batching). Short docs (< 2L tokens) are
    * dropped, visibly (the n_tok column is emitted for audit).
    * Output: (id, n_tok, a_start, p_start, anchor, positive). */
  def contrastiveSpanPairs(docs: DataFrame, idCol: String,
                           textCol: String, spanLen: Int): DataFrame = {
    require(spanLen >= 1, "spanLen must be positive")
    val l = lit(spanLen)
    val ts = Text.tokens(lower(col(textCol)))
    val base = docs.select(col(idCol), ts.as("__ts"),
        size(ts).cast("long").as("n_tok"))
      .filter(col("n_tok") >= 2L * spanLen)
    val ua = Sampling.openCoin(col(idCol), ":spanA")
    val ub = Sampling.openCoin(col(idCol), ":spanB")
    val aStart = floor(ua * (col("n_tok") - 2L * spanLen + 1).cast("double"))
      .cast("long")
    val withA = base.withColumn("a_start", aStart)
    val pStart = (col("a_start") + l) + floor(ub *
      (col("n_tok") - 2L * spanLen - col("a_start") + 1).cast("double"))
      .cast("long")
    withA.withColumn("p_start", pStart)
      .select(col(idCol), col("n_tok"), col("a_start"), col("p_start"),
        concat_ws(" ", slice(col("__ts"),
          (col("a_start") + 1).cast("int"), lit(spanLen))).as("anchor"),
        concat_ws(" ", slice(col("__ts"),
          (col("p_start") + 1).cast("int"), lit(spanLen))).as("positive"))
  }
}
