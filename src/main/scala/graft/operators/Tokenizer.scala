package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING over a distributed corpus
  * (Sennrich, Haddow & Birch, ACL 2016 — the subword algorithm behind
  * GPT/Llama-family vocabularies).
  *
  * Division of labor (the [[Similarity.CentroidSet]] / [[Embeddings]]
  * pattern): the corpus-sized work per iteration — counting adjacent
  * symbol pairs — is ONE scan feeding a partial aggregate whose
  * exchange is bounded by the number of DISTINCT pairs (≤ current
  * vocab², in practice the live-pair set), never by corpus size; the
  * argmax pick is a 1-row collect and the merge table is MODEL
  * PARAMETERS on the driver. Applying a merge is a narrow per-word
  * array fold (no shuffle); each training iteration materializes its
  * symbol table (persist + count) so the plan stays one-fold deep
  * instead of nesting n HOFs — and so the lineage doesn't recompute
  * every prior merge per iteration.
  *
  * Word-boundary convention: words are whitespace tokens, pairs never
  * cross a boundary, and no end-of-word marker is appended (the
  * marker-free variant; adding one is a projection on [[toSymbols]]).
  */
object Tokenizer {

  /** Words → initial symbol arrays (one row per word, chars as
    * symbols). Narrow: split + explode + per-char slice. */
  def toSymbols(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .select(transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("sym"))

  /** Adjacent-pair counts over a symbol table: the BPE training
    * statistic. One explode of in-word adjacencies into a partial
    * aggregate — the exchange carries distinct (a, b) pairs only. */
  def pairCounts(symbols: DataFrame): DataFrame =
    symbols.filter(size(col("sym")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("sym")) - 1),
        i => struct(element_at(col("sym"), i).as("a"),
          element_at(col("sym"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cnt"))

  /** One merge applied to a symbol array: the standard greedy
    * left-to-right pass (overlaps resolve leftmost: a,a,a under (a,a)
    * → [aa, a]) as a single `aggregate` fold — pure narrow compute. */
  def applyMerge(sym: Column, a: String, b: String): Column =
    aggregate(sym, array().cast("array<string>"),
      (acc, x) => when(size(acc) > 0 &&
          element_at(acc, -1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** The trained artifact: ordered merges. Inference = replaying them
    * in order ([[applyMerges]]) — exactly how BPE vocabularies ship. */
  def applyMerges(sym: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(sym) { case (c, (a, b)) => applyMerge(c, a, b) }

  /** [[applyMerges]]' imperative JVM twin over ONE symbol array —
    * merges applied in table order, greedy-leftmost per merge, with a
    * presence-set skip that makes inactive merges O(1) (stale entries
    * — symbols later consumed — only cost a scan, never correctness:
    * the set is a superset of the live symbols, so a skip fires only
    * when a side CANNOT occur). Bit-identity with the HOF fold is
    * spec-pinned (TokenizerSpec) — this is the apply step [[encode]]
    * and the batched trainer share, because one nested interpreted
    * `aggregate` per merge is exactly the expression-depth pathology
    * both scaladocs document. */
  private[graft] def applyMergesJvm(
      syms0: scala.collection.mutable.ArrayBuffer[String],
      table: Array[(String, String)]): scala.collection.mutable.ArrayBuffer[String] = {
    var syms = syms0
    val present = scala.collection.mutable.HashSet.empty[String]
    present ++= syms
    var t = 0
    while (t < table.length) {
      val (a, b) = table(t)
      if (present(a) && present(b) && syms.length >= 2) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        var applied = false
        while (i < syms.length) {
          if (out.nonEmpty && out.last == a && syms(i) == b) {
            out(out.length - 1) = a + b
            applied = true
          } else out += syms(i)
          i += 1
        }
        if (applied) { syms = out; present += (a + b) }
      }
      t += 1
    }
    syms
  }

  /** Train `nMerges` BPE merges: per iteration, count pairs (corpus
    * scan #i), pick the most frequent (ties: lexicographic (a, b) —
    * deterministic across runs and partitionings), apply it, and
    * materialize the new symbol table. Stops early when no pair
    * remains. Returns the ordered merge table. */
  def trainMerges(docs: DataFrame, textCol: String,
                  nMerges: Int): Seq[(String, String)] =
    Checkpoints.scoped { ck =>
    require(nMerges >= 0, "nMerges must be non-negative")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var cached = ck.shared(toSymbols(docs, textCol))
    cached.count()
    var continue = true
    var i = 0
    while (i < nMerges && continue) {
      val top = pairCounts(cached)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) continue = false
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val next = ck.shared(cached
          .select(applyMerge(col("sym"), a, b).as("sym")))
        next.count()
        ck.release(cached)
        cached = next
      }
      i += 1
    }
    merges.toSeq
  }

  /** [[trainMerges]]' 100 TB path: BATCHED shielded-greedy merges —
    * up to `maxBatch` merges per corpus scan instead of one, so a
    * realistic 32k-merge vocabulary costs ~32k/maxBatch scans, not 32k
    * (the strict trainer's honest scale flaw).
    *
    * Per round: ONE pair-count scan ranks candidates ((cnt desc, a, b)
    * — deterministic), and the batch is selected greedily in rank
    * order under the SHIELD rule: a candidate joins only if neither of
    * its symbols appears in any already-selected member's sides OR
    * produced token. Shielded members touch pairwise-disjoint symbol
    * occurrences, so (a) each selected merge's pre-batch count is its
    * EXACT count at application time (merging (a,b) only perturbs
    * pairs containing a, b, or ab — all blocked), and (b) applying the
    * batch in any order gives identical symbol tables — the narrow
    * per-word fold applies them in rank order in one projection.
    *
    * Equivalence contract vs strict sequential BPE: a batch of size 1
    * is exactly one strict step, and a batched run equals the strict
    * run whenever, after each batch prefix, the next member is still
    * the recounted global argmax — true when top counts are separated
    * and newly-created pairs ((x,ab)/(ab,y), each bounded by the
    * parent pair's count) don't outrank remaining members. It DIVERGES
    * when a created or count-reduced pair would have reordered the
    * ranking: strict BPE would interleave that pair, batched defers it
    * to the next round — same statistic family, possibly different
    * merge ORDER and (past the divergence point) different merges.
    * Both are valid BPE vocabularies (Sennrich et al. leave tie/order
    * policy to the implementation); the spec pins a fixture where the
    * two agree and characterizes a divergence case.
    *
    * Scale shape per round is the strict trainer's: the ranked collect
    * is `maxBatch * 8` rows (model grain), the exchange is the
    * distinct-pair partial aggregate, the apply is narrow.
    * Returns (ordered merges, rounds); scans = 2·rounds (count + apply)
    * vs strict's 2·nMerges. */
  def trainMergesBatchedWithRounds(docs: DataFrame, textCol: String,
                                   nMerges: Int, maxBatch: Int):
      (Seq[(String, String)], Int) = Checkpoints.scoped { ck =>
    require(nMerges >= 0, "nMerges must be non-negative")
    require(maxBatch >= 1, "maxBatch must be >= 1")
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var cached = ck.shared(toSymbols(docs, textCol))
    cached.count()
    var rounds = 0
    var continue = true
    while (merges.size < nMerges && continue) {
      val k = math.min(maxBatch, nMerges - merges.size)
      // collect a deterministic candidate prefix wide enough that
      // shield skips rarely starve the batch (model-grain rows)
      val ranked = pairCounts(cached)
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(k * 8).collect()
      rounds += 1
      if (ranked.isEmpty) continue = false
      else {
        val used = scala.collection.mutable.Set.empty[String]
        val batch = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
        val it = ranked.iterator
        while (batch.size < k && it.hasNext) {
          val r = it.next()
          val (a, b) = (r.getString(0), r.getString(1))
          if (!used(a) && !used(b) && !used(a + b)) {
            batch += ((a, b))
            used += a; used += b; used += (a + b)
          }
        }
        merges ++= batch
        // apply via the JVM twin (spec-pinned bit-identical to the
        // applyMerges fold): one narrow typed map instead of
        // `maxBatch` nested interpreted aggregate() expressions —
        // measured 2.5 s -> ~0.3 s per round at fixture scale
        val spark = cached.sparkSession
        import spark.implicits._
        val bcBatch = spark.sparkContext.broadcast(batch.toArray)
        val next = ck.shared(cached.select(col("sym")).as[Seq[String]]
          .map { s =>
            val buf = scala.collection.mutable.ArrayBuffer.empty[String]
            buf ++= s
            applyMergesJvm(buf, bcBatch.value).toSeq
          }
          .toDF("sym"))
        next.count()
        ck.release(cached)
        cached = next
      }
    }
    (merges.toSeq, rounds)
  }

  /** [[trainMergesBatchedWithRounds]] without the round count. */
  def trainMergesBatched(docs: DataFrame, textCol: String,
                         nMerges: Int, maxBatch: Int): Seq[(String, String)] =
    trainMergesBatchedWithRounds(docs, textCol, nMerges, maxBatch)._1

  /** BPE ENCODE at vocabulary scale — [[applyMerges]]' production
    * sibling. The HOF replay builds one nested `aggregate` expression
    * PER MERGE, so a realistic 32k-merge vocabulary means a 32k-deep
    * expression tree: catastrophic to analyze, impossible to codegen
    * (the inference-side twin of the strict trainer's one-scan-per-
    * merge flaw). This encode broadcasts the merge table once as
    * MODEL PARAMETERS and tokenizes per word in plain JVM code inside
    * `mapPartitions` — semantics are BIT-IDENTICAL to [[applyMerges]]
    * by construction (merges applied in learned order, greedy-leftmost
    * overlap resolution per merge; spec-asserted on the hand-traced
    * corpus AND the fixture), the per-word cost is
    * O(active merges · word) with a symbol-presence skip that makes
    * inactive merges O(1), and the plan is one narrow projection —
    * zero shuffle, whole corpus embarrassingly parallel.
    *
    * One row per input row: (the id column, toks array<string>). Word
    * boundaries and the marker-free convention are [[toSymbols]]'. */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[(String, String)]): DataFrame =
    encodeWithText(docs, idCol, textCol, merges).select(col(idCol), col("toks"))

  /** [[encode]] that also CARRIES the input text through the typed map
    * — (id, text, toks). The map is opaque to Catalyst, so a caller
    * that needs both the tokens and the text (round-trip audits,
    * compression accounting) would otherwise pay a corpus-grain
    * id-keyed join to re-attach the text it just encoded; carrying it
    * through costs one projected column and removes that shuffle
    * (guide §2.4). Token semantics are [[encode]]'s, bit-identical. */
  def encodeWithText(docs: DataFrame, idCol: String, textCol: String,
                     merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(merges.toArray)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        val table = bc.value
        val toks = scala.collection.mutable.ArrayBuffer.empty[String]
        // null-tolerant AND null-faithful to the applyMerges SQL path
        // it claims bit-identity with: split/transform/flatten all
        // propagate NULL there, so a NULL text encodes to a NULL token
        // array (handled at the result below) instead of NPE-ing the
        // executor
        val words = if (text == null) Array.empty[String] else text.split(" ")
        for (w <- words if w.nonEmpty) {
          // seed symbols at CODE POINT grain, not UTF-16 char grain:
          // the applyMerges SQL path splits via Spark substr, which
          // walks UTF-8 code points — char-grain seeding would hand
          // non-BMP text (emoji, astral CJK) to the merge loop as
          // lone surrogates and break the bit-identity contract
          var syms = {
            val b = scala.collection.mutable.ArrayBuffer.empty[String]
            var ci = 0
            while (ci < w.length) {
              val cp = w.codePointAt(ci)
              b += new String(Character.toChars(cp))
              ci += Character.charCount(cp)
            }
            b
          }
          toks ++= applyMergesJvm(syms, table)
        }
        (id, text, if (text == null) null else toks.toSeq)
      }
      .toDF(idCol, textCol, "toks")
  }
}
