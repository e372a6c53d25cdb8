package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, shingling.
  *
  * All column expressions (codegen'd built-ins + higher-order functions) —
  * no UDFs, so they vectorize and survive a 1000-executor scale-up with no
  * serialization overhead. Oracle-parity note: token operations use plain
  * single-space splitting where a DuckDB oracle must reproduce them.
  */
object Text {

  /** Whitespace tokens (exact single-space split — oracle-reproducible). */
  def tokens(text: Column): Column = split(text, " ")

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  /** Distinct-token ratio — low values indicate repetitive/spammy text. */
  def distinctTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Compression ratio (deflated bytes / raw UTF-8 bytes) — the
    * whole-document repetitiveness signal of the Gopher/CCNet filter
    * family: n-gram ratios ([[distinctTokenRatio]], topNgramFrac) see
    * LOCAL repetition, zlib sees long-range and structural repetition
    * (templates, boilerplate, looping generations) in one pass. Low
    * ratio = compressible = repetitive; natural prose sits in a stable
    * band. Native codegen'd kernel
    * ([[graft.plans.exprs.deflatedLength]]); empty text → 0. Engine-
    * private (zlib is not SQL) — consumers gate on wide measured
    * margins, the q25 property-oracle pattern. */
  def compressionRatio(text: Column): Column =
    when(octet_length(text) === 0, 0.0).otherwise(
      graft.plans.exprs.deflatedLength(text).cast("double") /
        octet_length(text))

  /** Gopher-style repetition signal: fraction of tokens covered by the
    * single most frequent word n-gram (native one-pass kernel — a
    * per-row count map no codegen'd built-in combination expresses). */
  def topNgramFrac(text: Column, n: Int): Column =
    graft.plans.exprs.topNgramFrac(text, n)

  def avgTokenLength(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(tokens(text))

  /** Fraction of characters that are punctuation. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast("double") /
      greatest(length(text), lit(1))

  def stopwordRatio(text: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(tokens(text), t => array_contains(sw, t))).cast("double") /
      greatest(size(tokens(text)), lit(1))
  }

  /** Composite quality score in [0,1]: rewards moderate length, lexical
    * diversity and some stopword mass; penalizes punctuation soup. All
    * integer-count arithmetic → deterministic across engines. */
  def qualityScore(text: Column, stopwords: Seq[String]): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 50d, lit(1d))
    val divScore = distinctTokenRatio(text)
    val swScore  = least(stopwordRatio(text, stopwords) * 5d, lit(1d))
    val punPen   = greatest(lit(0d), lit(1d) - punctRatio(text) * 4d)
    round(lenScore * 0.3 + divScore * 0.3 + swScore * 0.2 + punPen * 0.2, 6)
  }

  /** Per-language marker-word hit counts → argmax language ID. Pure
    * integer counts so an ANSI-SQL oracle reproduces it exactly.
    * `markers` is an ordered Seq: on ties the FIRST listed language wins,
    * matching a CASE chain written in the same order. */
  def langScores(text: Column, markers: Seq[(String, Seq[String])]): Seq[(String, Column)] =
    markers.map { case (lang, words) =>
      val w = array(words.map(lit): _*)
      lang -> size(filter(tokens(text), t => array_contains(w, t))).cast("long")
    }

  def langId(text: Column, markers: Seq[(String, Seq[String])], default: String = "und"): Column = {
    val scores = langScores(text, markers)
    val best = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit(default): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Canonical content fingerprint: md5 over the sorted distinct token
    * set — stable under token reordering/duplication, so it catches
    * shuffled near-duplicates that exact text hashing misses. */
  def canonicalFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Rabin–Karp rolling hash over tokens (poly accumulate, 64-bit wrap).
    * Order-sensitive counterpart of [[canonicalFingerprint]]. Native
    * expression: wrapping multiply is not expressible under ANSI SQL
    * arithmetic (overflow raises). */
  def rollingHash(text: Column): Column =
    graft.plans.exprs.tokenRollingHash(tokens(text))

  /** Word n-gram shingles, distinct (the MinHash/Jaccard unit). Native
    * codegen'd expression — see graft.plans.WordShingles for why the
    * HOF formulation ([[shinglesHof]]) is quadratic. */
  def shingles(text: Column, n: Int): Column =
    graft.plans.exprs.wordShingles(text, n)

  /** ALL word n-grams in order with multiplicity — the vocabulary/
    * frequency-analysis unit ([[shingles]] dedups, which is right for
    * set similarity but loses counts). Fewer than n tokens → empty. */
  def ngrams(text: Column, n: Int): Column =
    graft.plans.exprs.wordNgrams(text, n)

  /** HOF shingles — executable spec for [[shingles]]; same output as a
    * set (ordering of distinct elements also matches: first occurrence). */
  def shinglesHof(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array_distinct(toks)).otherwise(
      array_distinct(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n))))))
  }

  /** PII patterns, RE2-compatible (shared verbatim with the oracle SQL —
    * no backreferences/lookaround; `\b` is the ASCII word boundary in
    * both Java and RE2, and `(?:…)` grouping is common to both — the
    * full chain was validated to produce byte-identical output from
    * java.util.regex and DuckDB's RE2 on adversarial inputs like
    * `1234.5.6.7890`, `x555-123-4567y`, `v1.2.3.4`). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val CardRe = "\\b[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}\\b"
  val SsnRe = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"
  val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  val LongNumRe = "[0-9]{6,}"

  /** The redaction taxonomy in application order: emails → `<EMAIL>`,
    * dotted quads → `<IP>`, dashed 4-4-4-4 card shapes → `<CARD>`, SSN
    * shapes (3-2-4) → `<SSN>`, separator phones (3-3-4) → `<PHONE>`,
    * bare 6+-digit runs → `<NUM>`. Order matters and is part of the
    * contract: email first (its local part can contain digit runs a
    * later pattern would split), structured digit shapes before the
    * bare-run catch-all. The dashed shapes (card/ssn/phone) have
    * pairwise-distinct group widths, so no span matches two of them —
    * their relative order only decides labels, not coverage. */
  val PiiTaxonomy: Seq[(String, String)] = Seq(
    EmailRe -> "<EMAIL>", Ipv4Re -> "<IP>", CardRe -> "<CARD>",
    SsnRe -> "<SSN>", PhoneRe -> "<PHONE>", LongNumRe -> "<NUM>")

  /** PII redaction — the pretraining scrub step: the [[PiiTaxonomy]]
    * chain as nested codegen'd `regexp_replace`s. Narrow, zero shuffle
    * at any scale; extend the taxonomy per deployment. */
  def redactPii(text: Column): Column =
    PiiTaxonomy.foldLeft(text) { case (c, (re, tag)) =>
      regexp_replace(c, re, tag)
    }
}
