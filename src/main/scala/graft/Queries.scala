package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Clean, Text}
import graft.operators.{Checkpoints, Corpus, Dedup, Relational, Selection, Sessionize, Similarity}
import graft.sources.Tables

/** The engine's query surface: one entry per operator of SURVEY.md §2
  * (re-expressed over the harness tables) plus the training-data-pipeline
  * operators (dedup / similarity / text analysis / sessionization).
  *
  * Every SQL-expressible query carries a DuckDB oracle. Cross-engine
  * determinism rules used throughout:
  *  - integer outputs cast to BIGINT on both sides;
  *  - double aggregates rounded (sums of continuous values never land on
  *    round boundaries, so rounding is stable across engines);
  *  - ratios of integer counts are exact IEEE doubles on both sides;
  *  - orderings always carry a unique tiebreaker key.
  */
object Queries {

  final case class Q(name: String,
                     run: (SparkSession, String) => DataFrame,
                     oracle: Option[String])

  private final class Ctx(s: SparkSession, d: String) {
    def tbl(n: String): DataFrame = Tables(s, d, n)
  }

  /** Temp staging dir for the streaming / interchange queries, which
    * stage corpus-sized files under /tmp. Footprint bounds:
    *  - WITHIN a JVM: creating a new dir for a prefix deletes that
    *    prefix's PREVIOUS dir first (a bench run samples each staging
    *    query several times; its prior sample's stream has fully
    *    terminated before the next begins, so at most ONE corpus copy
    *    per query is alive instead of one per sample);
    *  - at EXIT: one shared shutdown hook (not one per call) drains
    *    whatever the last samples left.
    * Deletion is best-effort — failures are swallowed. */
  private val stagingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  private lazy val stagingHook: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagingDirs.values.forEach(d => deleteStaging(d))))
    ()
  }
  private def deleteStaging(dir: java.nio.file.Path): Unit =
    try {
      import java.nio.file.{Files, Path}
      import java.util.Comparator
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => { Files.deleteIfExists(p); () })
      finally walk.close()
    } catch { case _: Throwable => () }
  private def tempStagingDir(prefix: String): java.nio.file.Path = {
    stagingHook
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    val prev = stagingDirs.put(prefix, dir)
    if (prev != null) deleteStaging(prev)
    dir
  }

  /** Stage `df` as ONE parquet file at `srcDir/name.parquet` with a
    * pinned mtime — the file-stream fixture shared by the streaming
    * oracles (q68/q79/q89): under maxFilesPerTrigger=1 the file source
    * orders files by mtime, so pinning it makes micro-batch order
    * deterministic. */
  private def stageStreamFile(df: DataFrame, srcDir: java.nio.file.Path,
                              name: String, mtime: Long): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val st = srcDir.resolveSibling("stage_" + name).toString
    df.coalesce(1).write.mode("overwrite").parquet(st)
    val listing = Files.list(Paths.get(st))
    val part = try listing.filter(p =>
      p.getFileName.toString.startsWith("part-") &&
      p.getFileName.toString.endsWith(".parquet")).findFirst().get()
    finally listing.close()
    val dst = srcDir.resolve(name + ".parquet")
    Files.move(part, dst)
    Files.setLastModifiedTime(dst, FileTime.fromMillis(mtime))
  }

  /** Drops each table and deletes its warehouse directory, so a query
    * that builds a managed store starts from nothing even when an
    * earlier run left files behind. */
  private def dropTables(s: SparkSession, tables: String*): Unit =
    tables.foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    }

  /** Stopword list shared by quality scoring (and its oracle SQL). */
  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to", "is", "in")
  private val StopSql = Stopwords.map(w => s"'$w'").mkString(", ")

  /** Ordered language-marker table for langId (first match wins ties). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"))

  /** DuckDB SQL for 3-gram word shingles of lower(text) — must mirror
    * [[graft.functions.Text.shingles]] exactly. */
  private val ShinglesSql =
    """list_distinct(CASE WHEN len(string_split(lower(text),' ')) < 3
      |  THEN string_split(lower(text),' ')
      |  ELSE list_transform(range(1, len(string_split(lower(text),' '))-1),
      |    i -> concat_ws(' ', string_split(lower(text),' ')[i],
      |                        string_split(lower(text),' ')[i+1],
      |                        string_split(lower(text),' ')[i+2])) END)""".stripMargin

  /** DuckDB replay of [[graft.operators.Sampling.hexInt]] — the raw
    * 24-bit integer from the first six hex digits of md5(key || salt)
    * (the integer [[OpenCoinSql]] shifts onto the open unit interval).
    * Used by the checksum oracles (q215). */
  private def HexIntSql(key: String, salt: String): String =
    s"(${uTerms(s"md5($key || '$salt')")})"

  /** DuckDB SQL for the [[graft.operators.Sampling]] open md5 coin of
    * `key` under `salt`: first 6 hex digits → integer v, coin =
    * (v + 0.5)/2^24 — the q117 digit-extraction device, shared by the
    * deterministic-offset oracles (q206). */
  private def OpenCoinSql(key: String, salt: String): String =
    s"(((${uTerms(s"md5($key || '$salt')")}) + 0.5) / 16777216.0)"

  /** DuckDB replay of the MONOLITHIC corpus datasheet at
    * (source, lang) grain — shared by q127 (one-shot) and q204 (the
    * incremental maintenance, whose mergeable-moments + hash-store
    * accumulation equals the one-shot card exactly). */
  private lazy val DatasheetSql: String =
    s"""WITH m AS (SELECT source, lang, doc_id, text,
       |    len(string_split(lower(text), ' ')) AS n_tok,
       |    len(regexp_extract_all(text,
       |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email
       |  FROM documents),
       |sc AS (SELECT doc_id, round(
       |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0) * 0.3
       |  + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' '))) * 0.3
       |  + least(CAST(len(list_filter(string_split(text, ' '),
       |      t -> t IN ($StopSql))) AS DOUBLE)
       |      / greatest(len(string_split(text, ' ')), 1) * 5, 1.0) * 0.2
       |  + greatest(0.0, 1.0 - (CAST(length(text) -
       |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
       |      / greatest(length(text), 1)) * 4) * 0.2, 6) AS q
       |  FROM documents)
       |SELECT source, lang,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(min(n_tok) AS BIGINT) AS min_tok,
       |  CAST(max(n_tok) AS BIGINT) AS max_tok,
       |  round(avg(n_tok), 4) AS avg_tok,
       |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
       |    AS n_exact_dup,
       |  round(avg(q), 4) AS avg_quality,
       |  CAST(sum(n_email) AS BIGINT) AS n_emails
       |FROM m JOIN sc USING (doc_id)
       |GROUP BY source, lang""".stripMargin

  /** DuckDB replay of the monolithic A-ES weighted top-10-per-lang
    * sample (w = token count, the q117 coin discipline) — shared by
    * q117 (one-shot) and q201 (the streaming reservoir maintenance,
    * whose top-k merge identity makes accumulation EQUAL the one-shot
    * sample). */
  private val AesTop10Sql: String =
    s"""WITH w AS (SELECT doc_id, lang,
       |    len(string_split(lower(text), ' ')) AS wt,
       |    md5(doc_id::VARCHAR || ':aes') AS h
       |  FROM documents),
       |k AS (SELECT doc_id, lang,
       |    pow(((${uTerms("h")}) + 0.5) / 16777216.0, 1.0 / wt) AS key
       |  FROM w),
       |r AS (SELECT doc_id, lang,
       |    CAST(row_number() OVER (PARTITION BY lang
       |      ORDER BY key DESC, doc_id) AS BIGINT) AS rank
       |  FROM k)
       |SELECT doc_id, lang, rank FROM r WHERE rank <= 10""".stripMargin

  /** DuckDB replay of the MONOLITHIC KMV chain (sketch per source →
    * pairwise Beyer estimator at k=128) — the shared gate of q183 (the
    * one-shot build) and q191 (the incremental build: bottom-k merge of
    * per-batch sketches is mathematically EQUAL to the monolithic
    * sketch, so the same oracle pins the merge). */
  private val KmvOverlapSql =
    s"""WITH t AS (SELECT source, unnest($ShinglesSql) AS s
       |           FROM documents),
       |h AS (SELECT DISTINCT source, md5(s) AS h FROM t),
       |sk AS (SELECT source, h FROM
       |        (SELECT source, h, row_number() OVER
       |           (PARTITION BY source ORDER BY h) AS rn FROM h)
       |       WHERE rn <= 128),
       |g AS (SELECT DISTINCT source FROM documents),
       |p AS (SELECT a.source AS src_a, b.source AS src_b
       |      FROM g a, g b WHERE a.source < b.source),
       |m AS (SELECT p.src_a, p.src_b, s.h,
       |        max(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END)
       |          AS in_a,
       |        max(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END)
       |          AS in_b
       |      FROM p JOIN sk s ON s.source IN (p.src_a, p.src_b)
       |      GROUP BY 1, 2, 3),
       |r AS (SELECT *, row_number() OVER
       |        (PARTITION BY src_a, src_b ORDER BY h) AS rn FROM m)
       |SELECT src_a, src_b, count(*) AS denom,
       |  CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
       |  round(CAST(sum(in_a * in_b) AS DOUBLE) / count(*), 6)
       |    AS j_est
       |FROM r WHERE rn <= 128 GROUP BY 1, 2""".stripMargin

  private def jaccardOracle(threshold: Double): String =
    s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |        len(a.sh) + len(b.sh) AS tot
       |      FROM t a JOIN t b ON a.doc_id < b.doc_id)
       |SELECT id_a, id_b, round(inter / (tot - inter), 6) AS jaccard
       |FROM p WHERE inter / (tot - inter) >= $threshold""".stripMargin

  /** Shared DuckDB oracle prefix for the corpus-prep compositions
    * (q51 greedy / q58 cluster-consistent): quality + lang gates (m, g,
    * f), exact dedup (ek, e), shingle sets (t), near-dup pair scores
    * (p). Callers append their survivor-selection tail; `recursive`
    * emits WITH RECURSIVE for tails using a recursive CTE; `source`
    * substitutes the corpus relation (default: the documents table). */
  private def corpusPrepOracleCte(recursive: Boolean,
                                  source: String = "documents"): String = {
    val scores = LangMarkers.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($lst))) AS s_$lang"
    }.mkString(",\n    ")
    val best = LangMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
    val cases = LangMarkers.map { case (l, _) =>
      s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
    }.mkString(" ")
    s"""WITH ${if (recursive) "RECURSIVE " else ""}m AS (SELECT doc_id, text,
       |    len(string_split(text, ' ')) AS n_tok,
       |    len(list_distinct(string_split(text, ' '))) AS n_dis,
       |    len(list_filter(string_split(text, ' '), t -> t IN ($StopSql))) AS n_sw,
       |    length(text) AS n_ch,
       |    length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_np,
       |    $scores
       |  FROM $source),
       |g AS (SELECT doc_id, text,
       |    round(least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
       |      + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
       |      + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0) * 0.2
       |      + greatest(0.0, 1.0 - (CAST(n_ch - n_np AS DOUBLE)
       |          / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality,
       |    CASE $cases ELSE 'und' END AS lang_pred
       |  FROM m),
       |f AS (SELECT * FROM g WHERE quality >= 0.5 AND lang_pred IN ('en')),
       |ek AS (SELECT min(doc_id) AS doc_id FROM f GROUP BY md5(text)),
       |e AS (SELECT f.* FROM f JOIN ek USING (doc_id)),
       |t AS (SELECT doc_id, $ShinglesSql AS sh FROM e),
       |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
       |        len(a.sh) + len(b.sh) AS tot
       |      FROM t a JOIN t b ON a.doc_id < b.doc_id)""".stripMargin
  }

  /** The q146/q147/q151 classifier feature CTE: exact integer-ratio
    * surface features + weak label, one row per doc (doc_id carried
    * for q151's per-step batch coins). */
  private def ClfFeaturesSql: String =
    s"""f AS (SELECT
       |    doc_id,
       |    1.0 AS x0,
       |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50,
       |      1.0) AS x1,
       |    CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')) AS x2,
       |    CAST(len(list_filter(string_split(text, ' '),
       |        t -> t IN ($StopSql))) AS DOUBLE)
       |      / greatest(len(string_split(text, ' ')), 1) AS x3,
       |    CAST(length(text)
       |        - length(regexp_replace(text, '[[:punct:]]', '', 'g'))
       |        AS DOUBLE)
       |      / greatest(length(text), 1) AS x4,
       |    CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents)""".stripMargin

  private def ClfGsum(sig: String, from: String): String = (0 to 4).map(i =>
    s"sum(($sig - y) * x$i) AS g$i").mkString(",\n|    ") +
    s"\n|  FROM $from"

  private def ClfWupd(prev: Option[String], g: String): String =
    (0 to 4).map { i =>
      val base = prev.map(p => s"$p.v$i").getOrElse("0")
      s"$base - 0.5 * ($g.g$i / n) AS v$i"
    }.mkString(",\n|    ")

  private val ClfZ = "x0*v0 + x1*v1 + x2*v2 + x3*v3 + x4*v4"

  /** Shared oracle fragment for q146/q147: features + three unrolled
    * FULL-BATCH logistic-GD steps (lr 0.5, zero init) ending in CTE
    * `w3` (weights v0..v4) with `f` and `cnt` still in scope. Mirrors
    * Classifier.trainLogistic op-for-op. */
  private def GdOracleCtes: String =
    s"""WITH $ClfFeaturesSql,
       |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM f),
       |g1 AS (SELECT ${ClfGsum("0.5", "f")}),
       |w1 AS (SELECT ${ClfWupd(None, "g1")}
       |  FROM g1, cnt),
       |p2 AS (SELECT y, x0, x1, x2, x3, x4,
       |    1.0 / (1.0 + exp(-($ClfZ))) AS sig FROM f, w1),
       |g2 AS (SELECT ${ClfGsum("sig", "p2")}),
       |w2 AS (SELECT ${ClfWupd(Some("w1"), "g2")}
       |  FROM w1, g2, cnt),
       |p3 AS (SELECT y, x0, x1, x2, x3, x4,
       |    1.0 / (1.0 + exp(-(${ClfZ.replace("v", "w2.v")}))) AS sig
       |  FROM f, w2),
       |g3 AS (SELECT ${ClfGsum("sig", "p3")}),
       |w3 AS (SELECT ${ClfWupd(Some("w2"), "g3")}
       |  FROM w2, g3, cnt)""".stripMargin

  /** q151's oracle fragment: three unrolled MINI-BATCH SGD steps —
    * step t trains on the rows whose md5-hex6 coin (salt ":sgd<t>")
    * lands under `thr` on the 16^6 grid, normalized by THAT batch's
    * count. Mirrors Classifier.trainLogisticSgd op-for-op. */
  private def SgdOracleCtes(thr: Long): String = {
    def batch(t: Int): String =
      s"""s$t AS (SELECT * FROM f WHERE
         |    (${uTerms(s"md5(CAST(doc_id AS VARCHAR) || ':sgd$t')")})
         |    < $thr),
         |n$t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM s$t)""".stripMargin
    s"""WITH $ClfFeaturesSql,
       |${batch(1)},
       |g1 AS (SELECT ${ClfGsum("0.5", "s1")}),
       |w1 AS (SELECT ${ClfWupd(None, "g1")}
       |  FROM g1, n1),
       |${batch(2)},
       |p2 AS (SELECT y, x0, x1, x2, x3, x4,
       |    1.0 / (1.0 + exp(-($ClfZ))) AS sig FROM s2, w1),
       |g2 AS (SELECT ${ClfGsum("sig", "p2")}),
       |w2 AS (SELECT ${ClfWupd(Some("w1"), "g2")}
       |  FROM w1, g2, n2),
       |${batch(3)},
       |p3 AS (SELECT y, x0, x1, x2, x3, x4,
       |    1.0 / (1.0 + exp(-(${ClfZ.replace("v", "w2.v")}))) AS sig
       |  FROM s3, w2),
       |g3 AS (SELECT ${ClfGsum("sig", "p3")}),
       |w3 AS (SELECT ${ClfWupd(Some("w2"), "g3")}
       |  FROM w2, g3, n3)""".stripMargin
  }

  /** The md5-hex6 digit-extraction SQL fragment — the ONE replayable
    * definition of `Sampling.hexInt`'s arithmetic for oracle builders
    * (value = first six hex digits of `h` as an integer). Every coin
    * oracle must use this; a second inline copy is how a digit-order or
    * case-fold edit silently desynchronizes one oracle from the rest. */
  private def uTerms(h: String): String = (0 until 6).map { i =>
    val dig = s"ascii(substr($h, ${i + 1}, 1))"
    s"(CASE WHEN $dig >= 97 THEN $dig - 87 ELSE $dig - 48 END) * ${1 << (4 * (5 - i))}"
  }.mkString("\n      + ")

  /** Shared DuckDB CTE chain for the DoReMi queries (q172 weight table /
    * q175 applied mixture): retrains the q105 unigram and q107 bigram
    * LMs, scores per-doc perplexities, and runs the Group-DRO update
    * through the un-normalized exponentiated weights (`up`) and their
    * sum (`sm`). One definition so an LM-oracle fix cannot silently
    * diverge between the two replays. Callers append their tail
    * (`wt`/rates/coin for q175) and the final SELECT. */
  private val DoremiCtes: String =
    """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
      |  FROM documents),
      |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
      |v AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
      |tot AS (SELECT sum(c1) AS total FROM v),
      |su AS (SELECT doc_id, round(exp(-avg(ln(c1 / total))), 6) AS ppl_u
      |  FROM tok JOIN v USING (tok), tot GROUP BY doc_id),
      |bg AS (SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
      |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
      |        FROM t)),
      |b2 AS (SELECT prev, cur, count(*) AS c2 FROM bg
      |       GROUP BY prev, cur),
      |cx AS (SELECT prev, sum(c2) AS cctx FROM b2 GROUP BY prev),
      |s2 AS (SELECT bg.doc_id,
      |    sum(-ln(0.75 * (c2 / cctx) + 0.25 * (c1 / total))) AS s2,
      |    count(*) AS n2
      |  FROM bg JOIN b2 USING (prev, cur) JOIN cx USING (prev)
      |    JOIN v ON v.tok = bg.cur, tot
      |  GROUP BY bg.doc_id),
      |s1 AS (SELECT f.doc_id, -ln(c1 / total) AS s1
      |  FROM (SELECT doc_id, w[1] AS tok FROM t) f
      |    JOIN v USING (tok), tot),
      |sb AS (SELECT s1.doc_id,
      |    round(exp((s1.s1 + coalesce(s2.s2, 0)) /
      |              (1 + coalesce(s2.n2, 0))), 6) AS ppl_b
      |  FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id),
      |pd AS (SELECT d.source, len(string_split(d.text, ' ')) AS n_tok,
      |    ln(su.ppl_u) - ln(sb.ppl_b) AS ex
      |  FROM documents d JOIN su USING (doc_id)
      |    JOIN sb USING (doc_id)),
      |g AS (SELECT source, sum(n_tok) AS n_toks,
      |    sum(n_tok * ex) AS ex_sum FROM pd GROUP BY source),
      |k AS (SELECT count(*) AS k FROM g),
      |tt AS (SELECT sum(n_toks) AS tt FROM g),
      |e AS (SELECT source, n_toks, n_toks / tt AS alpha,
      |    greatest(0.0, ex_sum / n_toks) AS excess FROM g, tt),
      |up AS (SELECT source, n_toks, alpha, excess,
      |    alpha * exp(1.0 * excess) AS upd FROM e),
      |sm AS (SELECT sum(upd) AS sup FROM up)""".stripMargin

  /** Shared DuckDB CTE prefix for the bloom-decontamination replays
    * (q122 batch / q176 streaming): 8-gram shingles, eval bit set,
    * train-side positions — verbatim the q122 recipe, one definition so
    * the bit arithmetic cannot diverge between the two. Callers append
    * their `hit` aggregation and final SELECT. */
  private val BloomScreenCtes: String = {
    val sh8 =
      """list_distinct(CASE WHEN len(t) < 8 THEN t
        |  ELSE list_transform(range(1, len(t) - 6),
        |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
        |                        t[i+4], t[i+5], t[i+6], t[i+7])) END)""".stripMargin
    val evalPos = (0 until 6).map { sd =>
      s"""SELECT (${uTerms(s"md5(ng || ':bf$sd')")}) % 1048576 AS pos FROM e"""
    }.mkString("\n  UNION ")
    val trainPos = (0 until 6).map { sd =>
      s"""SELECT doc_id, ng, $sd AS s,
         |  (${uTerms(s"md5(ng || ':bf$sd')")}) % 1048576 AS pos FROM tn""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH w AS (SELECT doc_id, $sh8 AS sh
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
       |        FROM documents)),
       |e AS (SELECT DISTINCT unnest(sh) AS ng FROM w WHERE doc_id % 7 = 0),
       |tn AS (SELECT doc_id, unnest(sh) AS ng FROM w WHERE doc_id % 7 <> 0),
       |bits AS ($evalPos),
       |tp AS ($trainPos)""".stripMargin
  }

  val all: Seq[Q] = Seq(

    // ── §2.1/§2.2 scans, projection, filters ────────────────────────────

    Q("q01_pruned_scan",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("lineitem").select(
          col("l_orderkey").as("order_id"),
          col("l_linenumber").cast("long").as("line_no"),
          col("l_quantity").as("qty"),
          col("l_returnflag").as("rflag"))
      },
      Some("""SELECT l_orderkey AS order_id, CAST(l_linenumber AS BIGINT) AS line_no,
             |l_quantity AS qty, l_returnflag AS rflag FROM lineitem""".stripMargin)),

    Q("q02_filter_conjunctive",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("customer").filter(
          col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") &&
          col("c_acctbal").between(0, 5000) &&
          col("c_name").like("%1%") &&
          col("c_nationkey").isNotNull)
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
             |WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE')
             |  AND c_acctbal BETWEEN 0 AND 5000
             |  AND c_name LIKE '%1%' AND c_nationkey IS NOT NULL""".stripMargin)),

    // ── §2.3 \N-aware cleaning, lenient casts, bucketing ────────────────

    Q("q03_null_clean_trycast",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val messyBrand = when(pmod(col("p_partkey"), lit(5)) === 0, lit("\\N"))
          .when(pmod(col("p_partkey"), lit(5)) === 1, lit("  "))
          .otherwise(col("p_brand"))
        val messySize = when(pmod(col("p_partkey"), lit(3)) === 0, lit("\\N"))
          .otherwise(col("p_size").cast("string"))
        // C7: bool-string lenient cast — numeric try_cast, falling back
        // to lower(x)='true' (the reference's COALESCE(TRY_TO_NUMBER, IFF)
        // Snowflake idiom)
        val messyBool = when(pmod(col("p_partkey"), lit(4)) === 0, lit("true"))
          .when(pmod(col("p_partkey"), lit(4)) === 1, lit("1"))
          .otherwise(lit("no"))
        tbl("part").select(
          col("p_partkey"),
          Clean.nullify(messyBrand).as("brand_clean"),
          Clean.tryCastClean(messySize, "long").as("size_try"),
          coalesce(Clean.tryCastClean(messyBool, "long"),
            when(lower(messyBool) === "true", 1L).otherwise(0L)).as("bool_flag"))
      },
      Some("""WITH m AS (SELECT p_partkey,
             |  CASE WHEN p_partkey % 5 = 0 THEN '\N'
             |       WHEN p_partkey % 5 = 1 THEN '  ' ELSE p_brand END AS mb,
             |  CASE WHEN p_partkey % 3 = 0 THEN '\N'
             |       ELSE CAST(p_size AS VARCHAR) END AS ms,
             |  CASE WHEN p_partkey % 4 = 0 THEN 'true'
             |       WHEN p_partkey % 4 = 1 THEN '1' ELSE 'no' END AS mbo
             |  FROM part)
             |SELECT p_partkey,
             |  CASE WHEN mb IS NULL OR mb = '\N' OR length(trim(mb)) = 0
             |       THEN NULL ELSE mb END AS brand_clean,
             |  TRY_CAST(CASE WHEN ms IS NULL OR ms = '\N' OR length(trim(ms)) = 0
             |       THEN NULL ELSE ms END AS BIGINT) AS size_try,
             |  coalesce(TRY_CAST(CASE WHEN mbo IS NULL OR mbo = '\N'
             |       OR length(trim(mbo)) = 0 THEN NULL ELSE mbo END AS BIGINT),
             |    CASE WHEN lower(mbo) = 'true' THEN 1 ELSE 0 END) AS bool_flag
             |FROM m""".stripMargin)),

    Q("q04_decade_case_buckets",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("orders").select(
          Clean.decadeOf(year(col("o_orderdate"))).as("order_decade"),
          Clean.caseBucket(Seq(
            (col("o_totalprice") >= 100000) -> "high",
            (col("o_totalprice") >= 50000)  -> "mid",
            (col("o_totalprice") >= 10000)  -> "low"), "micro").as("price_bucket"),
          Clean.caseBucket(Seq(
            (col("o_orderstatus") === "F") -> "finished",
            (col("o_orderstatus") === "O") -> "open"), "other").as("status_band"))
          .groupBy("order_decade", "price_bucket", "status_band")
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(floor(year(o_orderdate)/10)*10 AS BIGINT) AS order_decade,
             |  CASE WHEN o_totalprice >= 100000 THEN 'high'
             |       WHEN o_totalprice >= 50000 THEN 'mid'
             |       WHEN o_totalprice >= 10000 THEN 'low' ELSE 'micro' END AS price_bucket,
             |  CASE WHEN o_orderstatus = 'F' THEN 'finished'
             |       WHEN o_orderstatus = 'O' THEN 'open' ELSE 'other' END AS status_band,
             |  count(*) AS n
             |FROM orders GROUP BY 1, 2, 3""".stripMargin)),

    // ── §2.4 joins ──────────────────────────────────────────────────────

    Q("q05_join_left_enrich",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("orders").join(broadcast(tbl("customer")),
            col("o_custkey") === col("c_custkey"), "left")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("c_name"), col("c_mktsegment"))
      },
      Some("""SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
             |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    Q("q06_join_inner_agg",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("lineitem").join(broadcast(tbl("part")),
            col("l_partkey") === col("p_partkey"), "inner")
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_lines"),
            sum(col("l_quantity")).as("sum_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"))
      },
      Some("""SELECT p_brand, count(*) AS n_lines, sum(l_quantity) AS sum_qty,
             |round(avg(l_extendedprice), 4) AS avg_price
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    Q("q07_join_multiway",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("customer")
          .join(broadcast(tbl("nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl("region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_customers"),
            round(avg(col("c_acctbal")), 6).as("avg_bal"))
      },
      Some("""SELECT r_name, count(*) AS n_customers, round(avg(c_acctbal), 6) AS avg_bal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name""".stripMargin)),

    Q("q08_semi_flag",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.flagJoin(tbl("customer"), col("c_custkey"),
            tbl("orders").filter(col("o_orderpriority") === "1-URGENT"),
            col("o_custkey"), "has_urgent")
          .select(col("c_custkey"), col("has_urgent"))
      },
      Some("""SELECT c_custkey,
             |  CAST(CASE WHEN u.o_custkey IS NULL THEN 0 ELSE 1 END AS BIGINT) AS has_urgent
             |FROM customer LEFT JOIN
             |  (SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') u
             |ON c_custkey = u.o_custkey""".stripMargin)),

    Q("q09_join_anti",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("customer").join(tbl("orders"),
            col("c_custkey") === col("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
             |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    // ── §2.5 explode / lateral ──────────────────────────────────────────

    Q("q10_explode_tokens",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("part").select(explode(split(col("p_type"), " ")).as("word"))
          .groupBy("word").agg(count(lit(1)).as("cnt"))
      },
      Some("""SELECT word, count(*) AS cnt FROM
             |(SELECT unnest(string_split(p_type, ' ')) AS word FROM part)
             |GROUP BY word""".stripMargin)),

    // ── §2.6 aggregations ───────────────────────────────────────────────

    Q("q11_agg_rollup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("lineitem").groupBy("l_returnflag", "l_linestatus").agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg(col("l_quantity")), 6).as("avg_qty"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("count_order"),
          countDistinct(col("l_orderkey")).as("n_orders"))
      },
      Some("""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
             |round(sum(l_extendedprice), 2) AS sum_base_price,
             |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
             |round(avg(l_quantity), 6) AS avg_qty,
             |round(avg(l_discount), 6) AS avg_disc,
             |count(*) AS count_order,
             |CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    Q("q12_ordered_listagg",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.orderedStringAgg(tbl("orders"),
          groupCols = Seq(col("o_custkey")),
          sortKeys = Seq(col("o_orderdate"), col("o_orderkey")),
          payload = col("o_orderkey").cast("string"),
          sep = ",", outName = "order_keys")
      },
      Some("""SELECT o_custkey,
             |string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderdate, o_orderkey)
             |  AS order_keys
             |FROM orders GROUP BY o_custkey""".stripMargin)),

    Q("q13_dq_snapshot",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.dqSnapshot(tbl("orders"), "orders",
          nullishCols = Seq("o_orderpriority"),
          numericCols = Seq("o_totalprice"),
          distinctCols = Seq("o_orderstatus", "o_custkey"),
          approxDistinct = false)
      },
      Some("""SELECT count(*) AS row_count,
             |CAST(sum(CASE WHEN o_orderpriority IS NULL OR o_orderpriority = '\N'
             |  OR length(trim(o_orderpriority)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
             |  AS null_o_orderpriority,
             |min(o_totalprice) AS min_o_totalprice, max(o_totalprice) AS max_o_totalprice,
             |CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS distinct_o_orderstatus,
             |CAST(count(DISTINCT o_custkey) AS BIGINT) AS distinct_o_custkey,
             |'orders' AS dataset FROM orders""".stripMargin)),

    // ── §2.7 windows ────────────────────────────────────────────────────

    Q("q14_window_topk_group",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.topKPerGroup(tbl("customer"),
            partitionCols = Seq(col("c_mktsegment")),
            orderCols = Seq(col("c_acctbal").desc, col("c_custkey")), k = 5)
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            col("rnk").cast("long").as("rnk"))
      },
      Some("""SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rnk AS BIGINT) AS rnk FROM
             |(SELECT c_mktsegment, c_custkey, c_acctbal,
             |  row_number() OVER (PARTITION BY c_mktsegment
             |    ORDER BY c_acctbal DESC, c_custkey) AS rnk
             | FROM customer)
             |WHERE rnk <= 5""".stripMargin)),

    Q("q15_window_groupmax_flag",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.withGroupMax(tbl("lineitem"),
            Seq(col("l_orderkey")), col("l_linenumber"), "max_line")
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("line_no"),
            Clean.flag(col("l_linenumber") === col("max_line")).as("is_last_line"))
      },
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS line_no,
             |CAST(CASE WHEN l_linenumber = max(l_linenumber)
             |  OVER (PARTITION BY l_orderkey) THEN 1 ELSE 0 END AS BIGINT) AS is_last_line
             |FROM lineitem""".stripMargin)),

    // ── §2.8 sort / limit / set ops ─────────────────────────────────────

    Q("q16_global_topn",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("orders").orderBy(col("o_totalprice").desc, col("o_orderkey"))
          .select(col("o_orderkey"), col("o_totalprice"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
             |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    Q("q17_union_by_name",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val a = tbl("orders").agg(count(lit(1)).as("row_count"),
            round(sum(col("o_totalprice")), 2).as("total_value"))
          .withColumn("dataset", lit("orders"))
        val b = tbl("part").agg(count(lit(1)).as("row_count"),
            countDistinct(col("p_brand")).as("n_brands"))
          .withColumn("dataset", lit("part"))
        a.unionByName(b, allowMissingColumns = true)
      },
      Some("""SELECT count(*) AS row_count, round(sum(o_totalprice), 2) AS total_value,
             |  'orders' AS dataset FROM orders
             |UNION ALL BY NAME
             |SELECT count(*) AS row_count, CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
             |  'part' AS dataset FROM part""".stripMargin)),

    // ── §2.10 latest-slice / incremental semantics ──────────────────────

    Q("q18_latest_slice",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Relational.latestSlice(
            tbl("events").withColumn("day", to_date(col("ts"))), col("day"))
          .groupBy(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             |count(*) AS n FROM events
             |WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
             |GROUP BY 1, 2""".stripMargin)),

    // ── §2.9 scalar functions ───────────────────────────────────────────

    Q("q19_date_parts",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("orders").groupBy(
            year(col("o_orderdate")).cast("long").as("order_year"),
            quarter(col("o_orderdate")).cast("long").as("order_quarter"))
          .agg(count(lit(1)).as("n"),
            date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_day"),
            date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_day"))
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
             |CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
             |count(*) AS n,
             |strftime(CAST(min(o_orderdate) AS DATE), '%Y-%m-%d') AS first_day,
             |strftime(CAST(max(o_orderdate) AS DATE), '%Y-%m-%d') AS last_day
             |FROM orders GROUP BY 1, 2""".stripMargin)),

    Q("q20_string_funcs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("customer").select(
          col("c_custkey"),
          lower(col("c_name")).as("name_lower"),
          lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
          regexp_extract(col("c_name"), "([0-9]+)", 1).as("name_digits"),
          concat_ws("-", col("c_mktsegment"), trim(col("c_name"))).as("seg_name"),
          length(col("c_name")).cast("long").as("name_len"),
          substring(col("c_name"), 1, 8).as("name_prefix"))
      },
      Some("""SELECT c_custkey, lower(c_name) AS name_lower,
             |lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS key_pad,
             |regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
             |concat_ws('-', c_mktsegment, trim(c_name)) AS seg_name,
             |CAST(length(c_name) AS BIGINT) AS name_len,
             |substring(c_name, 1, 8) AS name_prefix
             |FROM customer""".stripMargin)),

    Q("q21_json_extract",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("events")
          .withColumn("k_val", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy("event_type")
          .agg(sum(col("k_val")).as("sum_k"), count(lit(1)).as("n"))
      },
      Some("""SELECT event_type,
             |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |count(*) AS n FROM events GROUP BY event_type""".stripMargin)),

    // ── training-data ops: dedup ────────────────────────────────────────

    Q("q22_dedup_exact",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Dedup.exactGroups(tbl("documents"), "doc_id", "text")
      },
      Some("""SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
             |count(*) AS n_dups FROM documents GROUP BY md5(text)""".stripMargin)),

    Q("q23_dedup_jaccard",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Dedup.jaccardPairs(tbl("documents"), "doc_id", "text",
          threshold = 0.6, shingleLen = 3)
      },
      Some(jaccardOracle(0.6))),

    Q("q24_dedup_minhash_lsh",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Dedup.minhashLshPairs(tbl("documents"), "doc_id", "text",
          threshold = 0.6, shingleLen = 3, bands = 32, rowsPerBand = 2)
      },
      // LSH + exact verify: at j ≥ 0.6 with 32 bands × 2 rows the miss
      // probability is ≤ (1−0.36)^32 ≈ 6e-7, so the exact-Jaccard oracle
      // is the expected result.
      Some(jaccardOracle(0.6))),

    Q("q25_dedup_simhash",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the raw 64-bit signature is not expressible in DuckDB SQL, so
        // assert the PROPERTY instead of the value (q37 pattern): planted
        // near-dup texts (one appended token) must land close in Hamming
        // space, unrelated texts far, identical texts identical — one
        // boolean row the oracle can match exactly. Margins are wide and
        // SF-stable: measured avg_near ≈ 2.4–2.5 bits, avg_far ≈
        // 18.3–18.5 bits, avg popcount ≈ 28.2 at sf0.001/0.01/0.1 (the
        // shared synthetic vocabulary compresses far distances below the
        // 32-bit random-text expectation). SF ASSUMPTION: thresholds are
        // empirical for the harness generator's text statistics — a new
        // SF or generator change requires re-measuring the three
        // averages before trusting this gate.
        val sigs = tbl("documents").select(col("doc_id"), md5(col("text")).as("th"),
            Dedup.simhash(col("text")).as("h"),
            Dedup.simhash(concat(col("text"), lit(" zzgraftprobe"))).as("h_near"))
        val nearAgg = sigs.agg(
          avg(expr("bit_count(h ^ h_near)")).as("avg_near"),
          avg(expr("bit_count(h)")).as("avg_pop"))
        val farAgg = sigs.as("a")
          .join(sigs.as("b"), col("a.doc_id") + 1 === col("b.doc_id"))
          .filter(col("a.th") =!= col("b.th"))
          .agg(avg(expr("bit_count(a.h ^ b.h)")).as("avg_far"))
        val dupAgg = sigs.as("a")
          .join(sigs.as("b"),
            col("a.th") === col("b.th") && col("a.doc_id") < col("b.doc_id"))
          .agg(coalesce(max(expr("bit_count(a.h ^ b.h)")), lit(0)).as("max_dup_ham"))
        nearAgg.crossJoin(farAgg).crossJoin(dupAgg).select(
          Clean.flag(col("avg_near") <= 8.0).as("near_ok"),
          Clean.flag(col("avg_far") >= 14.0).as("far_ok"),
          Clean.flag(col("avg_near") + 10.0 <= col("avg_far")).as("sep_ok"),
          Clean.flag(col("max_dup_ham") === 0).as("dup_ok"),
          Clean.flag(col("avg_pop").between(16.0, 48.0)).as("bits_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS near_ok, CAST(1 AS BIGINT) AS far_ok,
             |CAST(1 AS BIGINT) AS sep_ok, CAST(1 AS BIGINT) AS dup_ok,
             |CAST(1 AS BIGINT) AS bits_ok""".stripMargin)),

    // ── training-data ops: similarity search ────────────────────────────

    Q("q26_ann_cosine_topk",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val emb = tbl("embeddings")
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
             |          FROM embeddings WHERE vec_id < 10),
             |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
             |      FROM embeddings),
             |sc AS (SELECT query_id, neighbor_id, list_cosine_similarity(qv, cv) AS cos
             |       FROM q, c WHERE neighbor_id <> query_id),
             |r AS (SELECT query_id, neighbor_id, cos,
             |        row_number() OVER (PARTITION BY query_id
             |          ORDER BY cos DESC, neighbor_id) AS rnk FROM sc)
             |SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk,
             |  round(cos, 4) AS cos FROM r WHERE rnk <= 5""".stripMargin)),

    Q("q27_embedding_dup_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // plant scaled copies (2·v, new ids) of the first 5 vectors so the
        // oracle compares NONZERO rows at every SF: cosine(v, 2v) = 1.0
        // exactly, and positive scaling preserves every hyperplane sign,
        // so the planted pairs collide in ALL bands — found with
        // probability 1, no LSH flakiness in the gate
        // float×2 is exact (exponent bump), so CAST-to-double on the
        // oracle side sees bit-identical values
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val planted = emb.filter(col("vec_id") < 5)
          .select((col("vec_id") + 1000000).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        Dedup.embeddingDupPairs(emb.unionByName(planted), "vec_id", "embedding",
          threshold = 0.95)
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (SELECT * FROM e0 UNION ALL
             |      SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
             |      FROM e0 WHERE vec_id < 5)
             |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             |  round(list_cosine_similarity(a.v, b.v), 4) AS cos
             |FROM e a JOIN e b ON a.vec_id < b.vec_id
             |WHERE list_cosine_similarity(a.v, b.v) >= 0.95""".stripMargin)),

    // ── training-data ops: text analysis ────────────────────────────────

    Q("q28_text_stats",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("documents").select(
          col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_calc"),
          round(Text.distinctTokenRatio(col("text")), 6).as("distinct_ratio"),
          round(Text.avgTokenLength(col("text")), 6).as("avg_token_len"))
      },
      Some("""SELECT doc_id,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             |CAST(length(text) AS BIGINT) AS n_chars_calc,
             |round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             |  / len(string_split(text, ' ')), 6) AS distinct_ratio,
             |round(CAST(list_sum(list_transform(string_split(text, ' '),
             |  t -> length(t))) AS DOUBLE) / len(string_split(text, ' ')), 6)
             |  AS avg_token_len
             |FROM documents""".stripMargin)),

    Q("q29_quality_score",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val score = Text.qualityScore(col("text"), Stopwords)
        tbl("documents").select(col("doc_id"), score.as("quality"),
          Clean.flag(score >= 0.5).as("is_quality"))
      },
      Some(s"""WITH m AS (SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '), t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
              |  FROM documents),
              |sc AS (SELECT doc_id, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0) * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality FROM m)
              |SELECT doc_id, quality,
              |  CAST(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END AS BIGINT) AS is_quality
              |FROM sc""".stripMargin)),

    Q("q30_lang_id",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("documents").select(col("doc_id"),
          Text.langId(lower(col("text")), LangMarkers).as("lang_pred"))
      },
      Some {
        val scores = LangMarkers.map { case (lang, words) =>
          val lst = words.map(w => s"'$w'").mkString(", ")
          s"len(list_filter(string_split(lower(text), ' '), t -> t IN ($lst))) AS s_$lang"
        }.mkString(",\n  ")
        val best = LangMarkers.map { case (l, _) => s"s_$l" }.mkString("greatest(", ", ", ")")
        val cases = LangMarkers.map { case (l, _) =>
          s"WHEN s_$l = $best AND $best > 0 THEN '$l'"
        }.mkString("\n  ")
        s"""WITH m AS (SELECT doc_id,
           |  $scores
           |  FROM documents)
           |SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred FROM m""".stripMargin
      }),

    Q("q31_fingerprint",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("documents").select(col("doc_id"),
          Text.canonicalFingerprint(lower(col("text"))).as("fingerprint"))
      },
      Some("""SELECT doc_id,
             |md5(array_to_string(list_sort(list_distinct(
             |  string_split(lower(text), ' '))), ' ')) AS fingerprint
             |FROM documents""".stripMargin)),

    // ── events: sessionization & windowed aggregation ───────────────────

    Q("q32_sessionize",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        Sessionize.sessionSummary(tbl("events"), "user_id", "ts", "value",
          gapSeconds = 7200)
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events),
             |x AS (SELECT user_id, us, value,
             |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 7200000000
             |       THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (SELECT user_id, us, value,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS session_id FROM x)
             |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
             |  count(*) AS n_events,
             |  CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_sec,
             |  round(sum(value), 4) AS total_value
             |FROM g GROUP BY user_id, session_id""".stripMargin)),

    Q("q33_tumbling_window",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("events")
          .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("total_value"))
      },
      Some("""SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
             |count(*) AS n, round(sum(value), 4) AS total_value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    Q("q34_event_pivot",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val aggs = Seq("click", "view", "purchase", "signup", "error").map(t =>
          sum(when(col("event_type") === t, 1L).otherwise(0L)).as(s"n_$t"))
        tbl("events").groupBy("user_id").agg(aggs.head, aggs.tail: _*)
      },
      Some("""SELECT user_id,
             |CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n_click,
             |CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS n_view,
             |CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
             |CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS n_signup,
             |CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS n_error
             |FROM events GROUP BY user_id""".stripMargin)),

    // ── grouping sets ───────────────────────────────────────────────────

    Q("q35_rollup_agg",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("customer")
          .join(broadcast(tbl("nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(tbl("region")), col("n_regionkey") === col("r_regionkey"))
          .select("r_name", "n_name", "c_acctbal")
          .createOrReplaceTempView("__q35_base")
        // SQL form: Dataset.rollup's Expand node trips Spark's
        // ambiguous-self-join detection on the joined attributes
        s.sql("""SELECT r_name, n_name, count(*) AS n,
                |round(sum(c_acctbal), 2) AS sum_bal
                |FROM __q35_base GROUP BY ROLLUP (r_name, n_name)""".stripMargin)
      },
      Some("""SELECT r_name, n_name, count(*) AS n, round(sum(c_acctbal), 2) AS sum_bal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY ROLLUP (r_name, n_name)""".stripMargin)),

    // ── extended scalar/agg/window surface ──────────────────────────────

    Q("q36_regex_tokens",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // BPE-ish pre-tokenization: alpha runs and digit runs as separate
        // tokens (RE2-compatible pattern, shared verbatim with the oracle)
        tbl("documents").select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit("[A-Za-z]+|[0-9]+"), lit(0)))
            .cast("long").as("n_word_tokens"),
          Text.tokenCount(col("text")).as("n_ws_tokens"))
      },
      Some("""SELECT doc_id,
             |CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+')) AS BIGINT)
             |  AS n_word_tokens,
             |CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
             |FROM documents""".stripMargin)),

    Q("q37_approx_distinct",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // HLL++ sketch vs exact count — the query asserts its own 5%
        // accuracy bound, which IS the cross-engine-checkable property
        // (raw sketch estimates are engine-specific). The sketch runs
        // at rsd=0.01, not the 0.05 default: a gate at the sketch's
        // own expected rsd is a coin flip (the realized error exceeded
        // 5% at sf0.001), while a 1%-rsd sketch leaves the 5% gate a
        // 5-sigma margin at every SF. The two counts run as SEPARATE
        // 1-row aggregates joined by a broadcast gate: a combined
        // agg(approx, countDistinct) trips the distinct rewrite
        // (Expand + group-by-value partial), which allocates the
        // 1%-sketch's ~20 KB register buffer PER DISTINCT KEY instead
        // of per partition — measured 8x on this query at sf0.1.
        val approx = tbl("lineitem").agg(
          approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))
        val exact = tbl("lineitem").agg(
          countDistinct(col("l_orderkey")).as("exact_orders"))
        approx.crossJoin(broadcast(exact))
          .select(Clean.flag(
            abs(col("approx_orders") - col("exact_orders")).cast("double") /
              col("exact_orders") <= 0.05).as("within_5pct"))
      },
      Some("SELECT CAST(1 AS BIGINT) AS within_5pct")),

    Q("q38_sliding_window",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("events")
          .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("w.start").as("window_start"), col("event_type"), col("n"))
      },
      Some("""SELECT window_start, event_type, count(*) AS n FROM (
             |  SELECT unnest(list_value(
             |    CAST(date_trunc('hour', ts) AS TIMESTAMP),
             |    CAST(date_trunc('hour', ts) - INTERVAL 1 HOUR AS TIMESTAMP)))
             |    AS window_start, event_type
             |  FROM events)
             |GROUP BY 1, 2""".stripMargin)),

    Q("q39_session_window",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Spark-native session_window generalizes Sessionize (q32)
        tbl("events")
          .groupBy(session_window(col("ts"), "2 hours").as("w"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("user_id"), col("w.start").as("session_start"), col("n_events"))
      },
      Some("""WITH e AS (SELECT user_id, ts, epoch_us(ts) AS us FROM events),
             |x AS (SELECT user_id, ts, us,
             |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 7200000000
             |       THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS sid FROM x)
             |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
             |  count(*) AS n_events
             |FROM g GROUP BY user_id, sid""".stripMargin)),

    Q("q40_intersect_except",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val building = tbl("customer").filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))
        val urgent = tbl("orders").filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey").as("c_custkey"))
        building.intersect(urgent)
          .withColumn("src", lit("both"))
          .unionByName(building.except(urgent).withColumn("src", lit("building_only")))
      },
      Some("""SELECT c_custkey, 'both' AS src FROM (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |  INTERSECT
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
             |UNION ALL
             |SELECT c_custkey, 'building_only' AS src FROM (
             |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
             |  EXCEPT
             |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin)),

    Q("q41_argmax",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // deterministic argmax: max value, then min key achieving it
        val mx = tbl("lineitem").groupBy("l_returnflag")
          .agg(max(col("l_extendedprice")).as("max_price"))
        tbl("lineitem").join(broadcast(mx), Seq("l_returnflag"))
          .filter(col("l_extendedprice") === col("max_price"))
          .groupBy("l_returnflag", "max_price")
          .agg(min(col("l_orderkey")).as("argmax_order"))
          .select(col("l_returnflag"), col("max_price"), col("argmax_order"))
      },
      Some("""WITH mx AS (SELECT l_returnflag, max(l_extendedprice) AS max_price
             |  FROM lineitem GROUP BY 1)
             |SELECT l.l_returnflag, mx.max_price,
             |  min(l.l_orderkey) AS argmax_order
             |FROM lineitem l JOIN mx ON l.l_returnflag = mx.l_returnflag
             |  AND l.l_extendedprice = mx.max_price
             |GROUP BY 1, 2""".stripMargin)),

    Q("q42_lag_lead",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        tbl("events").select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"))
          .select(col("event_id"), col("user_id"),
            lag(col("event_type"), 1).over(w).as("prev_type"),
            lead(col("event_type"), 1).over(w).as("next_type"),
            ((col("us") - lag(col("us"), 1).over(w)) / 1000000L).cast("long")
              .as("gap_sec"))
      },
      Some("""SELECT event_id, user_id,
             |lag(event_type, 1) OVER w AS prev_type,
             |lead(event_type, 1) OVER w AS next_type,
             |CAST((epoch_us(ts) - lag(epoch_us(ts), 1) OVER w) // 1000000 AS BIGINT)
             |  AS gap_sec
             |FROM events WINDOW w AS (PARTITION BY user_id
             |  ORDER BY epoch_us(ts), event_id)""".stripMargin)),

    Q("q43_running_sum",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        tbl("orders").select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice")).over(w), 4).as("running_total"))
      },
      Some("""SELECT o_custkey, o_orderkey,
             |round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             |  ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 4)
             |  AS running_total
             |FROM orders""".stripMargin)),

    Q("q44_percentiles",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("lineitem").groupBy("l_returnflag").agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"))
      },
      Some("""SELECT l_returnflag,
             |round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
             |round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price
             |FROM lineitem GROUP BY 1""".stripMargin)),

    Q("q45_ntile",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        tbl("orders").select(col("o_orderkey"),
            ntile(4).over(w).cast("long").as("price_quartile"))
      },
      Some("""SELECT o_orderkey,
             |CAST(ntile(4) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT)
             |  AS price_quartile
             |FROM orders""".stripMargin)),

    Q("q48_asof_join",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // for each error event: the most recent click (<=) by the same
        // user — as-of join via single-shuffle union+window composition
        val ev = tbl("events").select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("us"), col("us").as("click_us"))
        operators.AsOfJoin.asOf(errors, clicks, "user_id", "us",
          Seq("click_id", "click_us"))
          .select(col("error_id"), col("user_id"), col("click_id"),
            ((col("us") - col("click_us")) / 1000000L).cast("long").as("gap_sec"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
             |            FROM events),
             |e AS (SELECT event_id AS error_id, user_id, us FROM ev
             |      WHERE event_type = 'error'),
             |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM ev
             |      WHERE event_type = 'click')
             |SELECT e.error_id, e.user_id, c.click_id,
             |  CAST((e.us - c.click_us) // 1000000 AS BIGINT) AS gap_sec
             |FROM e ASOF JOIN c
             |  ON e.user_id = c.user_id AND e.us >= c.click_us""".stripMargin)),

    Q("q47_file_metadata",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // S9: file-path metadata column — scan provenance survives into
        // results (the reference's Athena "$path" / run_key extraction)
        tbl("lineitem")
          .groupBy(regexp_extract(input_file_name(), "([a-z]+\\.parquet)", 1)
            .as("fname"))
          .agg(count(lit(1)).as("n"))
      },
      Some("SELECT 'lineitem.parquet' AS fname, count(*) AS n FROM lineitem")),

    Q("q49_cube",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        tbl("orders")
          .select(col("o_orderstatus"), col("o_orderpriority"), col("o_totalprice"))
          .createOrReplaceTempView("__q49_base")
        s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
                |round(sum(o_totalprice), 2) AS total
                |FROM __q49_base GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
             |round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    Q("q50_dedup_fingerprint",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // canonical-fingerprint dedup: catches token-reordered duplicates
        // exact text hashing (q22) misses
        tbl("documents")
          .groupBy(Text.canonicalFingerprint(lower(col("text"))).as("fingerprint"))
          .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      },
      Some("""SELECT md5(array_to_string(list_sort(list_distinct(
             |  string_split(lower(text), ' '))), ' ')) AS fingerprint,
             |CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_docs
             |FROM documents GROUP BY 1""".stripMargin)),

    Q("q51_corpus_prep",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // flagship composition: quality gate → lang gate → exact dedup →
        // near-dup dedup, one declarative plan (operators.Corpus)
        // maxDocFreq = 1.0: oracle-exact mode (the production default is
        // the capped prefix filter; CorpusSpec proves capped == exact on
        // this corpus)
        Corpus.prepare(tbl("documents"), "doc_id", "text",
          Stopwords, LangMarkers, keepLangs = Set("en"),
          minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0)
      },
      Some(corpusPrepOracleCte(recursive = false) +
        """,
          |dups AS (SELECT DISTINCT id_b AS doc_id FROM p
          |         WHERE inter / (tot - inter) >= 0.6)
          |SELECT e.doc_id, CAST(len(string_split(e.text, ' ')) AS BIGINT) AS n_tokens,
          |  e.quality, e.lang_pred
          |FROM e WHERE e.doc_id NOT IN (SELECT doc_id FROM dups)""".stripMargin)),

    Q("q52_hash_sample",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // reproducible content-hash sampling: ~25% flat + stratified
        // (en downsampled to ~12.5%, others kept at 50%)
        val flat = operators.Sampling.hashSample(tbl("documents"), col("text"), 0.25)
          .groupBy("lang").agg(count(lit(1)).as("n_flat"))
        val strat = operators.Sampling.stratifiedHashSample(tbl("documents"),
            col("text"), col("lang"), Map("en" -> 0.125), defaultRate = 0.5)
          .groupBy("lang").agg(count(lit(1)).as("n_strat"))
        flat.join(strat, Seq("lang"), "full")
          .select(col("lang"),
            coalesce(col("n_flat"), lit(0L)).as("n_flat"),
            coalesce(col("n_strat"), lit(0L)).as("n_strat"))
      },
      Some {
        def pfx(rate: Double) =
          (0 until math.round(rate * 256).toInt).map(i => f"'$i%02x'").mkString(", ")
        s"""WITH flat AS (SELECT lang, count(*) AS n_flat FROM documents
           |  WHERE substr(md5(text), 1, 2) IN (${pfx(0.25)}) GROUP BY lang),
           |strat AS (SELECT lang, count(*) AS n_strat FROM documents
           |  WHERE CASE WHEN lang = 'en'
           |    THEN substr(md5(text), 1, 2) IN (${pfx(0.125)})
           |    ELSE substr(md5(text), 1, 2) IN (${pfx(0.5)}) END
           |  GROUP BY lang)
           |SELECT coalesce(flat.lang, strat.lang) AS lang,
           |  coalesce(n_flat, 0) AS n_flat, coalesce(n_strat, 0) AS n_strat
           |FROM flat FULL JOIN strat ON flat.lang = strat.lang""".stripMargin
      }),

    Q("q53_skew_join",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // hybrid hot-key join: hot keys broadcast, tail shuffled —
        // result provably identical to the plain join, so the plain
        // join IS the oracle
        val li = tbl("lineitem").select(col("l_partkey"), col("l_quantity"))
        val part = tbl("part").select(col("p_partkey").as("l_partkey"), col("p_brand"))
        operators.Skew.hybridSkewJoin(li, part, "l_partkey", hotKeyThreshold = 40)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      },
      Some("""SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty
             |FROM lineitem JOIN part ON l_partkey = p_partkey
             |GROUP BY p_brand""".stripMargin)),

    Q("q54_multimodal_meta",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // binary media plumbing end-to-end: encode → mapPartitions stub
        // decode → typed metadata (checksum/dims excluded: engine-local)
        operators.Multimodal.extractFeatures(
            operators.Multimodal.mediaFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"), col("mime"), col("n_bytes"))
      },
      Some("""SELECT doc_id AS media_id,
             |CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
             |  ELSE 'video/mp4' END AS mime,
             |CAST(strlen(text) AS BIGINT) AS n_bytes
             |FROM documents""".stripMargin)),

    Q("q61_multimodal_decode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // REAL image decode end-to-end: synthesize actual PNG payloads
        // (BufferedImage → ImageIO PNG codec, dims deterministic from
        // doc_id) and decode genuine width/height back out with
        // ImageIO.read. The oracle recomputes the dimension arithmetic
        // in SQL — a stub decode (checksum-derived dims) cannot pass.
        operators.Multimodal.extractFeatures(
            operators.Multimodal.imagesFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(8 + doc_id % 16 AS BIGINT) AS width,
             |CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS height
             |FROM documents""".stripMargin)),

    Q("q55_first_last_value",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val full = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
        tbl("events")
          .select(col("event_id"), col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_type"))
          .select(col("user_id"), col("event_id"),
            first(col("event_type")).over(full).as("first_type"),
            last(col("event_type")).over(full).as("last_type"))
      },
      Some("""SELECT user_id, event_id,
             |first_value(event_type) OVER w AS first_type,
             |last_value(event_type) OVER w AS last_type
             |FROM events WINDOW w AS (PARTITION BY user_id
             |  ORDER BY epoch_us(ts), event_id
             |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),

    Q("q46_ann_ivf",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // IVF ANN is approximate by construction, so the checkable
        // cross-engine property is RECALL vs the exact brute-force top-k,
        // computed in-plan (q37 pattern): one boolean row the oracle
        // matches exactly. Deterministic: k-means init/tiebreaks are
        // hash-based, no RNG.
        val emb = tbl("embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val cents = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding",
          dim = 64, cells = 8, iters = 2)
        val ivf = Similarity.ivfTopK(emb, queries, cents,
          "vec_id", "embedding", k = 5, nProbe = 3)
        val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5)
        val hits = bf.select("query_id", "neighbor_id")
          .join(ivf.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit"))
        val total = bf.agg(count(lit(1)).as("n_bf"))
        // expected bf rows derived IN-PLAN (n_queries × min(k, corpus)) —
        // a hardcoded 50 would flip spuriously at an SF with < 10 query
        // ids or < 5 corpus vectors even when the operators are correct
        val expected = queries.agg(count(lit(1)).as("n_q"))
          .crossJoin(emb.agg(count(lit(1)).as("n_corpus")))
          .select((col("n_q") * least(lit(5L), col("n_corpus"))).as("n_expected"))
        hits.crossJoin(total).crossJoin(expected).select(
          Clean.flag(col("n_hit").cast("double") / col("n_bf") >= 0.6).as("recall_ok"),
          Clean.flag(col("n_bf") === col("n_expected")).as("bf_rows_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS recall_ok,
             |CAST(1 AS BIGINT) AS bf_rows_ok""".stripMargin)),

    Q("q56_asof_bucketed",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // q48's as-of join through the time-bucketed variant: identical
        // results (same oracle), but the carry window partitions on
        // (user, hour bucket) so a hot user's history never sorts in one
        // task — the 100 TB skew path, oracle-proven equivalent
        val ev = tbl("events").select(col("event_id"), col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"))
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("error_id"), col("user_id"), col("us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("click_id"), col("user_id"),
            col("us"), col("us").as("click_us"))
        operators.AsOfJoin.asOfBucketed(errors, clicks, "user_id", "us",
          Seq("click_id", "click_us"), bucketWidth = 3600L * 1000000L)
          .select(col("error_id"), col("user_id"), col("click_id"),
            ((col("us") - col("click_us")) / 1000000L).cast("long").as("gap_sec"))
      },
      Some("""WITH ev AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
             |            FROM events),
             |e AS (SELECT event_id AS error_id, user_id, us FROM ev
             |      WHERE event_type = 'error'),
             |c AS (SELECT event_id AS click_id, user_id, us AS click_us FROM ev
             |      WHERE event_type = 'click')
             |SELECT e.error_id, e.user_id, c.click_id,
             |  CAST((e.us - c.click_us) // 1000000 AS BIGINT) AS gap_sec
             |FROM e ASOF JOIN c
             |  ON e.user_id = c.user_id AND e.us >= c.click_us""".stripMargin)),

    Q("q58_corpus_prep_cc",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // q51's corpus prep with CLUSTER-CONSISTENT survivor selection:
        // near-dup pairs → connected components → keep one doc per
        // transitive dup cluster (greedy can keep two docs that are both
        // near-dups of a third; this cannot). Oracle reproduces it with
        // a recursive reachability closure over the same pair graph.
        Corpus.prepare(tbl("documents"), "doc_id", "text",
          Stopwords, LangMarkers, keepLangs = Set("en"),
          minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0,
          transitiveDedup = true)
      },
      Some(corpusPrepOracleCte(recursive = true) +
        """,
          |pp AS (SELECT id_a, id_b FROM p WHERE inter / (tot - inter) >= 0.6),
          |ed AS (SELECT id_a AS u, id_b AS v FROM pp
          |       UNION ALL SELECT id_b, id_a FROM pp),
          |cc(id, lab) AS (
          |  SELECT u, u FROM ed
          |  UNION
          |  SELECT ed.u, cc.lab FROM ed JOIN cc ON cc.id = ed.v),
          |reps AS (SELECT id, min(lab) AS rep FROM cc GROUP BY id),
          |drops AS (SELECT id AS doc_id FROM reps WHERE rep <> id)
          |SELECT e.doc_id, CAST(len(string_split(e.text, ' ')) AS BIGINT) AS n_tokens,
          |  e.quality, e.lang_pred
          |FROM e WHERE e.doc_id NOT IN (SELECT doc_id FROM drops)""".stripMargin)),

    Q("q59_decontamination",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // eval-set decontamination: training docs containing ≥ 60% of an
        // eval doc's 3-gram shingles (CONTAINMENT, not jaccard — a train
        // doc embedding a whole eval doc must score 1.0 regardless of
        // extra text). Eval set = every 7th doc, the benchmark-shaped
        // small side; candidates come from the shingle-keyed inverted
        // index, never a train×eval cross join.
        val docs = tbl("documents")
        Dedup.contaminationPairs(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", threshold = 0.6, shingleLen = 3)
      },
      Some(s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
              |e AS (SELECT doc_id AS eval_id, sh AS sh_e FROM t
              |      WHERE doc_id % 7 = 0),
              |tr AS (SELECT doc_id AS train_id, sh AS sh_t FROM t
              |       WHERE doc_id % 7 <> 0)
              |SELECT train_id, eval_id,
              |  round(CAST(len(list_intersect(sh_t, sh_e)) AS DOUBLE)
              |    / len(sh_e), 6) AS containment
              |FROM tr, e
              |WHERE CAST(len(list_intersect(sh_t, sh_e)) AS DOUBLE)
              |  / len(sh_e) >= 0.6""".stripMargin)),

    Q("q60_repetition_filter",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Gopher-style repetition filters: per-doc fraction of tokens
        // covered by the most frequent 2-/3-gram — the pretraining
        // quality gate that catches looping/spammy text which length
        // and stopword ratios miss
        tbl("documents").select(
          col("doc_id"),
          round(Text.topNgramFrac(lower(col("text")), 2), 6).as("top2_frac"),
          round(Text.topNgramFrac(lower(col("text")), 3), 6).as("top3_frac"))
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             |             FROM documents),
             |g2 AS (SELECT doc_id, len(w) AS n_tok,
             |         unnest(list_transform(range(1, len(w)),
             |           i -> concat_ws(' ', w[i], w[i+1]))) AS ng
             |       FROM tok WHERE len(w) >= 2),
             |c2 AS (SELECT doc_id, least(1.0, max(c * 2.0 / n_tok)) AS frac FROM
             |        (SELECT doc_id, n_tok, ng, count(*) AS c FROM g2
             |         GROUP BY doc_id, n_tok, ng) GROUP BY doc_id),
             |g3 AS (SELECT doc_id, len(w) AS n_tok,
             |         unnest(list_transform(range(1, len(w) - 1),
             |           i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS ng
             |       FROM tok WHERE len(w) >= 3),
             |c3 AS (SELECT doc_id, least(1.0, max(c * 3.0 / n_tok)) AS frac FROM
             |        (SELECT doc_id, n_tok, ng, count(*) AS c FROM g3
             |         GROUP BY doc_id, n_tok, ng) GROUP BY doc_id)
             |SELECT t.doc_id, round(coalesce(c2.frac, 0.0), 6) AS top2_frac,
             |  round(coalesce(c3.frac, 0.0), 6) AS top3_frac
             |FROM tok t LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)""".stripMargin)),

    Q("q62_dedup_incremental",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // incremental cross-snapshot dedup: a new batch (doc_id % 3 == 0)
        // checked against a signature store of the historical corpus —
        // exact-hash anti-join + LSH candidate join against the store
        // only, never a batch×store cross or a full re-cluster. The
        // oracle recomputes the greedy semantics exactly (LSH verify
        // makes the output exact-Jaccard w.h.p., the q24 argument).
        val docs = tbl("documents")
        val kind = operators.Lsh.MinHash()
        val store = kind.signatures(
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", col("text"))
        operators.Incremental.dedupAgainst(kind,
            docs.filter(col("doc_id") % 3 === 0), store,
            "doc_id", col("text"), threshold = 0.6)
          .select(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, md5(text) AS h, $ShinglesSql AS sh
              |           FROM documents),
              |s AS (SELECT * FROM t WHERE doc_id % 3 <> 0),
              |n AS (SELECT * FROM t WHERE doc_id % 3 = 0),
              |ne AS (SELECT n.doc_id, n.sh FROM n
              |       JOIN (SELECT h, min(doc_id) AS k FROM n GROUP BY h) mk
              |         ON n.h = mk.h AND n.doc_id = mk.k
              |       WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.h = n.h)),
              |dr AS (SELECT DISTINCT a.doc_id FROM ne a JOIN s b ON
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6
              |       UNION
              |       SELECT DISTINCT b.doc_id FROM ne a JOIN ne b
              |       ON a.doc_id < b.doc_id AND
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6)
              |SELECT doc_id FROM ne
              |WHERE doc_id NOT IN (SELECT doc_id FROM dr)""".stripMargin)),

    Q("q64_corpus_prep_decontam",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the FULL production composition: quality gate → lang gate →
        // exact dedup → near-dup dedup → eval-set DECONTAMINATION, one
        // managed pipeline (decontamination last: checked on the docs
        // that would actually ship). Train = non-7th docs, eval = every
        // 7th (q59's split); containment ≥ 0.6 drops the doc.
        val docs = tbl("documents")
        Corpus.prepare(docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text",
          Stopwords, LangMarkers, keepLangs = Set("en"),
          minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0,
          evalDocs = Some(docs.filter(col("doc_id") % 7 === 0)),
          contaminationThreshold = 0.6)
      },
      Some(corpusPrepOracleCte(recursive = false,
          source = "(SELECT * FROM documents WHERE doc_id % 7 <> 0)") +
        s""",
           |dups AS (SELECT DISTINCT id_b AS doc_id FROM p
           |         WHERE inter / (tot - inter) >= 0.6),
           |surv AS (SELECT e.* FROM e
           |         WHERE e.doc_id NOT IN (SELECT doc_id FROM dups)),
           |ev AS (SELECT doc_id, $ShinglesSql AS sh FROM documents
           |       WHERE doc_id % 7 = 0),
           |ts AS (SELECT doc_id, $ShinglesSql AS sh FROM surv),
           |bad AS (SELECT DISTINCT ts.doc_id FROM ts JOIN ev ON
           |          CAST(len(list_intersect(ts.sh, ev.sh)) AS DOUBLE)
           |            / len(ev.sh) >= 0.6)
           |SELECT s.doc_id,
           |  CAST(len(string_split(s.text, ' ')) AS BIGINT) AS n_tokens,
           |  s.quality, s.lang_pred
           |FROM surv s WHERE s.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin),
    ),

    Q("q63_embedding_dup_clusters",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // cluster-consistent EMBEDDING dedup: cosine dup pairs →
        // connected components (the q58 survivor rule, in embedding
        // space). Two planted scaled copies per seed vector (2v at
        // +1M, 4v at +2M — float scaling is exact, cosine exactly 1.0)
        // make each seed a 3-node transitive cluster with rep = seed;
        // the oracle reproduces the closure recursively (q57 pattern).
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val seeds = emb.filter(col("vec_id") < 5)
        def planted(off: Int, scale: Float) = seeds.select(
          (col("vec_id") + off).as("vec_id"),
          transform(col("embedding"), x => x * lit(scale)).as("embedding"))
        val pairs = Dedup.embeddingDupPairs(
          emb.unionByName(planted(1000000, 2.0f)).unionByName(planted(2000000, 4.0f)),
          "vec_id", "embedding", threshold = 0.95)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("vec_id"), col("rep"))
      },
      Some("""WITH RECURSIVE
             |e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |e AS (SELECT * FROM e0
             |      UNION ALL SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
             |      FROM e0 WHERE vec_id < 5
             |      UNION ALL SELECT vec_id + 2000000, list_transform(v, x -> x * 4.0)
             |      FROM e0 WHERE vec_id < 5),
             |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
             |      FROM e a JOIN e b ON a.vec_id < b.vec_id
             |      WHERE list_cosine_similarity(a.v, b.v) >= 0.95),
             |ed AS (SELECT id_a AS u, id_b AS w FROM p
             |       UNION ALL SELECT id_b, id_a FROM p),
             |cc(id, lab) AS (
             |  SELECT u, u FROM ed
             |  UNION
             |  SELECT ed.u, cc.lab FROM ed JOIN cc ON cc.id = ed.w)
             |SELECT id AS vec_id, CAST(min(lab) AS BIGINT) AS rep
             |FROM cc GROUP BY id""".stripMargin)),

    Q("q65_simhash_dup_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // SimHash near-dup pairs via pigeonhole bit-band bucketing —
        // recall is exact, so planted exact duplicates (same text →
        // identical fingerprint, hamming 0) MUST all surface. The raw
        // 64-bit signatures are engine-local (q25 pattern), so the gate
        // asserts the planted recall count against an in-plan total;
        // banded == brute-force equivalence is spec-asserted.
        val docs0 = tbl("documents").select(col("doc_id"), col("text"))
        val planted = docs0.select((col("doc_id") + 1000000).as("doc_id"),
          col("text"))
        val pairs = Dedup.simhashDupPairs(docs0.unionByName(planted),
          "doc_id", "text", maxHamming = 3)
        val found = pairs
          .filter(col("id_b") === col("id_a") + 1000000 && col("hamming") === 0)
          .agg(count(lit(1)).as("planted_found"))
        val total = docs0.agg(count(lit(1)).as("n_docs"))
        found.crossJoin(broadcast(total))
          .select(col("planted_found"), col("n_docs"),
            (col("planted_found") === col("n_docs")).as("all_planted_found"))
      },
      Some("""SELECT count(*) AS planted_found, count(*) AS n_docs,
             |true AS all_planted_found FROM documents""".stripMargin)),

    Q("q66_sequence_packing",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // sequence packing (pack-then-split): shard-ordered token stream
        // cut into 256-token chunks; each doc carries its shard-local
        // offset and the first/last chunk it lands in. One shuffle (the
        // per-shard window) — a GLOBAL order would collapse to a single
        // partition, the running-total scale-killer.
        operators.Packing.packChunks(tbl("documents"), "doc_id", "text",
          "lang", tokenBudget = 256)
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (SELECT doc_id, lang, n_tok,
             |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang
             |    ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS tok_offset FROM t)
             |SELECT doc_id, lang, n_tok, tok_offset,
             |  tok_offset // 256 AS first_chunk,
             |  (tok_offset + n_tok - 1) // 256 AS last_chunk
             |FROM o""".stripMargin)),

    Q("q67_chunk_windows",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // overlapping token-window chunking (RAG grain change): 16-token
        // windows every 8 tokens, chunk text re-materialized from the
        // token slice — narrow ops only, zero shuffle at any scale
        operators.Packing.chunkWindows(tbl("documents"), "doc_id", "text",
          window = 16, stride = 8)
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents),
             |c AS (SELECT doc_id, w, n,
             |  unnest(range(0, CAST(1 + greatest(0, (n - 16 + 8 - 1) // 8)
             |    AS BIGINT))) AS chunk_idx FROM t)
             |SELECT doc_id, chunk_idx,
             |  chunk_idx * 8 AS tok_start,
             |  least(16, n - chunk_idx * 8) AS tok_len,
             |  array_to_string(w[CAST(chunk_idx * 8 + 1 AS INT) :
             |    CAST(chunk_idx * 8 + least(16, n - chunk_idx * 8) AS INT)],
             |    ' ') AS chunk_text
             |FROM c""".stripMargin)),

    Q("q57_dedup_components",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // near-dup pairs → connected components: cluster-consistent dedup
        // groups (rep = min doc_id per transitive cluster) — the survivor
        // rule web-scale dedup uses instead of per-pair greediness. The
        // oracle reproduces it as a recursive reachability closure.
        val pairs = Dedup.jaccardPairs(tbl("documents"), "doc_id", "text",
          threshold = 0.6, shingleLen = 3)
        Dedup.connectedComponents(pairs)
          .select(col("id").as("doc_id"), col("rep"))
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM t a JOIN t b ON a.doc_id < b.doc_id
              |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
              |e AS (SELECT id_a AS u, id_b AS v FROM p
              |      UNION ALL SELECT id_b, id_a FROM p),
              |cc(id, lab) AS (
              |  SELECT u, u FROM e
              |  UNION
              |  SELECT e.u, cc.lab FROM e JOIN cc ON cc.id = e.v)
              |SELECT id AS doc_id, CAST(min(lab) AS BIGINT) AS rep
              |FROM cc GROUP BY id""".stripMargin)),

    Q("q68_streaming_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // streaming ingest dedup END-TO-END: a real file stream under
        // Trigger.AvailableNow drives Incremental.dedupSink — each
        // micro-batch dedups against the persisted signature store, emits
        // survivors to parquet, then appends itself to the store. Two
        // arriving files = two micro-batches (maxFilesPerTrigger=1, file
        // order pinned by explicit mtimes). The post-stream survivor set
        // is batch-expressible (signatures are deterministic), so the
        // oracle recomputes the greedy semantics with store < batchA <
        // batchB precedence — exactly the q62 contract, looped.
        import java.nio.file.{Files, Paths}
        import java.nio.file.attribute.FileTime
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val table = "q68_sig_store"
        // a previous JVM's run leaves table DIRECTORIES the fresh
        // in-memory catalog doesn't know about — saveAsTable then fails
        // with LOCATION_ALREADY_EXISTS, so clear both name and location
        dropTables(s, table, s"${table}_bands")
        val kind = operators.Lsh.MinHash()
        operators.Incremental.writeStore(kind,
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", col("text"), table, 8)
        val dir = tempStagingDir("graft_q68_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        val streamed = docs.filter(col("doc_id") % 3 === 0)
        stageStreamFile(streamed.filter(expr("(doc_id div 3) % 2 = 0")), src,
          "batch_a", now - 120000)
        stageStreamFile(streamed.filter(expr("(doc_id div 3) % 2 = 1")), src,
          "batch_b", now - 60000)
        val stream = s.readStream.schema(streamed.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val query = stream.writeStream
          .foreachBatch(operators.Incremental.dedupSink(kind,
            "doc_id", col("text"), table, 8, threshold = 0.6,
            emit = (surv, batchId) =>
              surv.write.mode("overwrite").parquet(s"$out/batch_$batchId")))
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/*").select(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, md5(text) AS h, $ShinglesSql AS sh,
              |  CASE WHEN doc_id % 3 <> 0 THEN 0
              |       WHEN (doc_id // 3) % 2 = 0 THEN 1 ELSE 2 END AS rk
              |  FROM documents),
              |ne AS (SELECT n.doc_id, n.sh, n.rk FROM t n
              |  JOIN (SELECT h, rk, min(doc_id) AS k FROM t WHERE rk > 0
              |        GROUP BY h, rk) mk
              |    ON n.h = mk.h AND n.rk = mk.rk AND n.doc_id = mk.k
              |  WHERE n.rk > 0
              |    AND NOT EXISTS (SELECT 1 FROM t p WHERE p.rk < n.rk AND p.h = n.h)),
              |dr AS (SELECT DISTINCT a.doc_id FROM ne a JOIN t b ON b.rk < a.rk
              |         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
              |       UNION
              |       SELECT DISTINCT b.doc_id FROM ne a JOIN ne b
              |         ON a.rk = b.rk AND a.doc_id < b.doc_id
              |         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)
              |SELECT doc_id FROM ne
              |WHERE doc_id NOT IN (SELECT doc_id FROM dr)""".stripMargin)),

    Q("q69_audio_decode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // REAL audio decode end-to-end: synthesize actual WAV payloads
        // (AudioSystem WAVE codec, frame count / sample rate deterministic
        // from doc_id) and decode genuine properties back with
        // AudioSystem.getAudioInputStream. The oracle recomputes the
        // arithmetic in SQL — a stub decode (checksum-derived properties)
        // cannot pass. The q61 recipe, second modality.
        operators.Multimodal.extractFeatures(
            operators.Multimodal.audioFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"),
            col("n_frames").cast("long").as("n_frames"),
            col("sample_rate").cast("long").as("sample_rate"),
            col("channels").cast("long").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(100 + doc_id % 900 AS BIGINT) AS n_frames,
             |CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
             |CAST(1 AS BIGINT) AS channels
             |FROM documents""".stripMargin)),

    Q("q70_pack_chunk_rows",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // chunk-GRAIN packing: q66's doc coordinates exploded to one row
        // per (shard, chunk, doc) with the doc-local token span — the
        // materialized composition a training job reads per sequence.
        // Narrow explode on top of q66's one window shuffle.
        operators.Packing.packChunkRows(tbl("documents"), "doc_id", "text",
          "lang", tokenBudget = 256)
      },
      Some("""WITH t AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (SELECT doc_id, lang, n_tok,
             |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang
             |    ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS tok_offset FROM t),
             |c AS (SELECT lang, doc_id, n_tok, tok_offset,
             |  unnest(range(tok_offset // 256,
             |    (tok_offset + n_tok - 1) // 256 + 1)) AS chunk_id FROM o)
             |SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
             |  CAST(greatest(0, chunk_id * 256 - tok_offset) AS BIGINT)
             |    AS doc_tok_start,
             |  CAST(least(n_tok, (chunk_id + 1) * 256 - tok_offset)
             |    - greatest(0, chunk_id * 256 - tok_offset) AS BIGINT)
             |    AS chunk_tok_len
             |FROM c""".stripMargin)),

    Q("q71_embedding_incremental",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // incremental EMBEDDING dedup: a new vector batch (vec_id % 3 == 0
        // plus planted scaled copies of store seeds — cosine exactly 1.0,
        // found in every band) checked against a hyperplane-signature
        // store of the history. Exchange-free store joins when the store
        // is materialized (spec-asserted); the oracle recomputes the
        // greedy cosine semantics exactly.
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val store = emb.filter(col("vec_id") % 3 =!= 0)
        val batch = emb.filter(col("vec_id") % 3 === 0)
          .unionByName(emb.filter(col("vec_id") < 5)
            .select((col("vec_id") + 1000000).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
        val kind = operators.Lsh.Hyperplane()
        operators.Incremental.dedupAgainst(kind, batch,
            kind.signatures(store, "vec_id", col("embedding")),
            "vec_id", col("embedding"), threshold = 0.95)
          .select(col("vec_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |b AS (SELECT vec_id, v FROM e0 WHERE vec_id % 3 = 0
             |      UNION ALL
             |      SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0)
             |      FROM e0 WHERE vec_id < 5),
             |s AS (SELECT vec_id, v FROM e0 WHERE vec_id % 3 <> 0),
             |dr AS (SELECT DISTINCT a.vec_id FROM b a JOIN s x
             |         ON list_cosine_similarity(a.v, x.v) >= 0.95
             |       UNION
             |       SELECT DISTINCT y.vec_id FROM b a JOIN b y
             |         ON a.vec_id < y.vec_id
             |         AND list_cosine_similarity(a.v, y.v) >= 0.95)
             |SELECT vec_id FROM b
             |WHERE vec_id NOT IN (SELECT vec_id FROM dr)""".stripMargin)),

    Q("q72_pack_no_split",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // NO-SPLIT greedy packing: whole docs into 256-token chunks, new
        // chunk on overflow — the stateful scan windows can't express
        // (a running sum can't reset), done as a per-shard mapPartitions
        // fold. The oracle replays the same fold as a recursive CTE.
        operators.Packing.packGreedyNoSplit(tbl("documents"), "doc_id",
          "text", "lang", tokenBudget = 256)
      },
      Some("""WITH RECURSIVE t AS (SELECT doc_id, lang,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (SELECT doc_id, lang, n_tok,
             |  row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
             |  FROM t),
             |rec(lang, rn, doc_id, n_tok, chunk_id, fill) AS (
             |  SELECT lang, rn, doc_id, n_tok, CAST(0 AS BIGINT), n_tok
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.lang, o.rn, o.doc_id, o.n_tok,
             |    CASE WHEN rec.fill + o.n_tok <= 256 THEN rec.chunk_id
             |         ELSE rec.chunk_id + 1 END,
             |    CASE WHEN rec.fill + o.n_tok <= 256 THEN rec.fill + o.n_tok
             |         ELSE o.n_tok END
             |  FROM o JOIN rec ON o.lang = rec.lang AND o.rn = rec.rn + 1)
             |SELECT doc_id, lang, n_tok, chunk_id FROM rec""".stripMargin)),

    Q("q73_epoch_shuffle_pack",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // epoch shuffle → pack, the full training-order pipeline: a
        // reproducible md5 permutation (seed 42) sharded on the key's
        // last hex digit, then pack-then-split in SHUFFLED order — the
        // permutation is realized as 8 independent sorted streams, never
        // a global sort. The oracle replays the identical permutation
        // (md5 is engine-reproducible), window and all.
        val shuffled = operators.Packing.epochShuffle(tbl("documents"),
          "doc_id", seed = 42L, numShards = 8)
        operators.Packing.packChunks(shuffled, "epoch_key", "text",
          "epoch_shard", tokenBudget = 256)
      },
      Some("""WITH t AS (SELECT
             |  md5(doc_id::VARCHAR || ':42') AS epoch_key,
             |  CAST((strpos('0123456789abcdef',
             |    substr(md5(doc_id::VARCHAR || ':42'), 32, 1)) - 1) % 8
             |    AS BIGINT) AS epoch_shard,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (SELECT epoch_key, epoch_shard, n_tok,
             |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY epoch_shard
             |    ORDER BY epoch_key
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS tok_offset FROM t)
             |SELECT epoch_key, epoch_shard, n_tok, tok_offset,
             |  tok_offset // 256 AS first_chunk,
             |  (tok_offset + n_tok - 1) // 256 AS last_chunk
             |FROM o""".stripMargin)),

    Q("q74_assemble_chunks",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the packing pipeline's OUTPUT artifact: q70's spans sliced out
        // of each doc's token array and concatenated in doc order per
        // (shard, chunk) — one row per chunk with its exact training
        // text. Per-chunk group size is bounded by the token budget, so
        // the ordered concat is O(budget) memory per group at any scale.
        operators.Packing.assembleChunks(tbl("documents"), "doc_id",
          "text", "lang", tokenBudget = 256)
      },
      Some("""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS w,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |o AS (SELECT doc_id, lang, w, n_tok,
             |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY lang
             |    ORDER BY doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS tok_offset FROM t),
             |c AS (SELECT lang, doc_id, w, n_tok, tok_offset,
             |  unnest(range(tok_offset // 256,
             |    (tok_offset + n_tok - 1) // 256 + 1)) AS chunk_id FROM o),
             |p AS (SELECT lang, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id, w,
             |  greatest(0, chunk_id * 256 - tok_offset) AS st,
             |  least(n_tok, (chunk_id + 1) * 256 - tok_offset)
             |    - greatest(0, chunk_id * 256 - tok_offset) AS ln
             |  FROM c)
             |SELECT lang, chunk_id,
             |  string_agg(array_to_string(w[CAST(st + 1 AS INT) :
             |    CAST(st + ln AS INT)], ' '), ' ' ORDER BY doc_id)
             |    AS chunk_text,
             |  CAST(sum(ln) AS BIGINT) AS n_tok
             |FROM p GROUP BY lang, chunk_id""".stripMargin)),

    Q("q75_pii_redaction",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // PII redaction scrub over the full taxonomy: emails → <EMAIL>,
        // dotted quads → <IP>, SSN shapes → <SSN>, separator phones →
        // <PHONE>, bare 6+-digit runs → <NUM>. Each doc is
        // deterministically augmented with one synthetic instance of
        // every category so the whole chain does real work at every SF
        // (both engines apply the identical augmentation; the SQL chain
        // below is GENERATED from Text.PiiTaxonomy, so the patterns and
        // their order are shared verbatim). Narrow regexp_replace chain,
        // zero shuffle.
        val aug = concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@example.com ref "),
          (col("doc_id") * 1000003L + 123456789L).cast("string"),
          lit(" ip 10."), (col("doc_id") % 256).cast("string"),
          lit(".42."), ((col("doc_id") * 7) % 256).cast("string"),
          lit(" call 555-"), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") % 9000 + 1000).cast("string"),
          lit(" ssn "), (col("doc_id") % 900 + 100).cast("string"),
          lit("-"), (col("doc_id") % 90 + 10).cast("string"),
          lit("-"), (col("doc_id") % 9000 + 1000).cast("string"),
          lit(" card 4111-1111-1111-"),
          (col("doc_id") % 9000 + 1000).cast("string"))
        tbl("documents").select(
          col("doc_id"),
          Text.redactPii(aug).as("redacted"),
          size(regexp_extract_all(aug, lit(Text.EmailRe), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all(aug, lit(Text.Ipv4Re), lit(0)))
            .cast("long").as("n_ips"),
          size(regexp_extract_all(aug, lit(Text.CardRe), lit(0)))
            .cast("long").as("n_cards"),
          size(regexp_extract_all(aug, lit(Text.SsnRe), lit(0)))
            .cast("long").as("n_ssns"),
          size(regexp_extract_all(aug, lit(Text.PhoneRe), lit(0)))
            .cast("long").as("n_phones"),
          size(regexp_extract_all(aug, lit(Text.LongNumRe), lit(0)))
            .cast("long").as("n_long_nums"))
      },
      Some {
        val chain = Text.PiiTaxonomy.foldLeft("aug") { case (e, (re, tag)) =>
          s"regexp_replace($e, '$re', '$tag', 'g')"
        }
        s"""WITH a AS (SELECT doc_id,
           |  text || ' contact user' || doc_id::VARCHAR
           |    || '@example.com ref '
           |    || (doc_id * 1000003 + 123456789)::VARCHAR
           |    || ' ip 10.' || (doc_id % 256)::VARCHAR
           |    || '.42.' || ((doc_id * 7) % 256)::VARCHAR
           |    || ' call 555-' || (doc_id % 900 + 100)::VARCHAR
           |    || '-' || (doc_id % 9000 + 1000)::VARCHAR
           |    || ' ssn ' || (doc_id % 900 + 100)::VARCHAR
           |    || '-' || (doc_id % 90 + 10)::VARCHAR
           |    || '-' || (doc_id % 9000 + 1000)::VARCHAR
           |    || ' card 4111-1111-1111-'
           |    || (doc_id % 9000 + 1000)::VARCHAR AS aug
           |  FROM documents)
           |SELECT doc_id,
           |  $chain AS redacted,
           |  CAST(len(regexp_extract_all(aug, '${Text.EmailRe}'))
           |    AS BIGINT) AS n_emails,
           |  CAST(len(regexp_extract_all(aug, '${Text.Ipv4Re}'))
           |    AS BIGINT) AS n_ips,
           |  CAST(len(regexp_extract_all(aug, '${Text.CardRe}'))
           |    AS BIGINT) AS n_cards,
           |  CAST(len(regexp_extract_all(aug, '${Text.SsnRe}'))
           |    AS BIGINT) AS n_ssns,
           |  CAST(len(regexp_extract_all(aug, '${Text.PhoneRe}'))
           |    AS BIGINT) AS n_phones,
           |  CAST(len(regexp_extract_all(aug, '${Text.LongNumRe}'))
           |    AS BIGINT) AS n_long_nums
           |FROM a""".stripMargin
      }),

    Q("q76_jsonl_ingest",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // JSONL ingest with schema pinning + corrupt-record quarantine:
        // the documents table staged as JSONL shards plus one
        // deliberately malformed line; the schema-pinned PERMISSIVE read
        // quarantines the bad line and every good field round-trips
        // (per-lang doc and token totals match the parquet originals).
        import java.nio.file.{Files, Paths}
        val docs = tbl("documents").select(col("doc_id"), col("lang"), col("text"))
        val dir = tempStagingDir("graft_q76_")
        val data = dir.resolve("data").toString
        docs.write.mode("overwrite").json(data)
        Files.writeString(Paths.get(data, "corrupt.json"),
          """{"doc_id": 1, "lang": "en", "text": unterminated""" + "\n")
        // the shared parsed scan stays cached until this result is
        // materialized; Checkpoints.release on the result frees it
        val q = sources.JsonlSource.quarantine(
          sources.JsonlSource.read(s, data,
            org.apache.spark.sql.types.StructType(docs.schema.fields)))
        q.good.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(Text.tokenCount(col("text"))).as("n_tok"))
          .unionByName(q.corrupt.agg(count(lit(1)).as("n_docs"))
            .select(lit("_corrupt").as("lang"), col("n_docs"),
              lit(0L).as("n_tok")))
      },
      Some("""SELECT lang, count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok
             |FROM documents GROUP BY lang
             |UNION ALL
             |SELECT '_corrupt', 1, 0""".stripMargin)),

    Q("q77_ngram_vocab",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus vocabulary: top-20 bigrams by frequency. ONE narrow
        // native kernel pass (all n-grams with multiplicity — shingles
        // would dedup within docs and undercount) + a partially-combined
        // aggregate + TakeOrderedAndProject: the exchange carries one
        // (ngram, partial count) per distinct ngram per partition, never
        // the exploded stream. Deterministic tiebreak on the ngram.
        tbl("documents")
          .select(explode(Text.ngrams(lower(col("text")), 2)).as("ngram"))
          .groupBy("ngram").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("ngram")).limit(20)
      },
      Some("""WITH g AS (SELECT unnest(list_transform(
             |    range(1, len(string_split(lower(text), ' '))),
             |    i -> concat_ws(' ', string_split(lower(text), ' ')[i],
             |                        string_split(lower(text), ' ')[i+1])))
             |    AS ngram
             |  FROM documents)
             |SELECT ngram, count(*) AS n FROM g
             |GROUP BY ngram ORDER BY n DESC, ngram LIMIT 20""".stripMargin)),

    Q("q78_epoch_pack_no_split",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // epoch shuffle → NO-SPLIT packing, the composition the round-8
        // judge reproduced as a crash (the old long-cast on the id died
        // on the md5 epoch_key): whole docs greedily packed in the
        // seed-42 permutation order. numShards = 7 does NOT divide 16,
        // so the oracle must replay the full six-hex-digit shard
        // derivation — the widened domain is itself under oracle. Same
        // one-shuffle fold as q72; the oracle replays the permutation,
        // the shard arithmetic, and the greedy fold as a recursive CTE.
        val shuffled = operators.Packing.epochShuffle(tbl("documents"),
          "doc_id", seed = 42L, numShards = 7)
        operators.Packing.packGreedyNoSplit(shuffled, "epoch_key", "text",
          "epoch_shard", tokenBudget = 256)
      },
      Some("""WITH RECURSIVE k AS (SELECT
             |  md5(doc_id::VARCHAR || ':42') AS epoch_key, text
             |  FROM documents),
             |t AS (SELECT epoch_key,
             |  CAST((
             |    (strpos('0123456789abcdef', substr(epoch_key, 32, 1)) - 1)
             |    + (strpos('0123456789abcdef', substr(epoch_key, 31, 1)) - 1) * 16
             |    + (strpos('0123456789abcdef', substr(epoch_key, 30, 1)) - 1) * 256
             |    + (strpos('0123456789abcdef', substr(epoch_key, 29, 1)) - 1) * 4096
             |    + (strpos('0123456789abcdef', substr(epoch_key, 28, 1)) - 1) * 65536
             |    + (strpos('0123456789abcdef', substr(epoch_key, 27, 1)) - 1) * 1048576
             |  ) % 7 AS BIGINT) AS epoch_shard,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM k),
             |o AS (SELECT epoch_key, epoch_shard, n_tok,
             |  row_number() OVER (PARTITION BY epoch_shard ORDER BY epoch_key)
             |    AS rn FROM t),
             |rec(epoch_shard, rn, epoch_key, n_tok, chunk_id, fill) AS (
             |  SELECT epoch_shard, rn, epoch_key, n_tok, CAST(0 AS BIGINT), n_tok
             |  FROM o WHERE rn = 1
             |  UNION ALL
             |  SELECT o.epoch_shard, o.rn, o.epoch_key, o.n_tok,
             |    CASE WHEN rec.fill + o.n_tok <= 256 THEN rec.chunk_id
             |         ELSE rec.chunk_id + 1 END,
             |    CASE WHEN rec.fill + o.n_tok <= 256 THEN rec.fill + o.n_tok
             |         ELSE o.n_tok END
             |  FROM o JOIN rec ON o.epoch_shard = rec.epoch_shard
             |    AND o.rn = rec.rn + 1)
             |SELECT epoch_key, epoch_shard, n_tok, chunk_id FROM rec""".stripMargin)),

    Q("q79_streaming_embedding_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // streaming EMBEDDING dedup END-TO-END — the q68 recipe on the
        // second modality: a real file stream under Trigger.AvailableNow
        // drives Incremental.dedupSink; each micro-batch dedups
        // its vectors against the persisted hyperplane store, emits
        // survivors, appends itself. Planted scaled copies (x2.0f —
        // exact in float, cosine exactly 1.0 both engines) exercise both
        // drop paths: batch A carries copies of STORE seeds, batch B
        // carries copies of BATCH-A vectors (in the store by then via
        // the whole-batch append). The post-stream survivor set is
        // batch-expressible, so the oracle replays the greedy cosine
        // semantics with store < batchA < batchB precedence. The gate
        // is not threshold-flaky: natural (non-planted) cosines in this
        // population top out at 0.48/0.51/0.60 at sf0.001/0.01/0.1
        // (measured) — no pair sits in an epsilon band of the 0.95
        // threshold where LSH recall (~3e-6 miss at 0.95) or a
        // cross-engine ulp could flip a decision; the planted copies
        // are exactly cosine 1.0 in both engines (x2.0f is an exponent
        // bump, exact in float).
        import java.nio.file.{Files, Paths}
        import java.nio.file.attribute.FileTime
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val table = "q79_emb_store"
        dropTables(s, table, s"${table}_bands")
        val kind = operators.Lsh.Hyperplane()
        operators.Incremental.writeStore(kind,
          emb.filter(col("vec_id") % 3 =!= 0), "vec_id", col("embedding"), table, 8)
        def scaled(src: org.apache.spark.sql.DataFrame, offset: Long) =
          src.select((col("vec_id") + offset).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val streamed = emb.filter(col("vec_id") % 3 === 0)
        val batchA = streamed.filter(expr("(vec_id div 3) % 2 = 0"))
          .unionByName(scaled(
            emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") < 7), 1000000L))
        val batchB = streamed.filter(expr("(vec_id div 3) % 2 = 1"))
          .unionByName(scaled(
            streamed.filter(expr("(vec_id div 3) % 2 = 0 AND vec_id < 20")),
            2000000L))
        val dir = tempStagingDir("graft_q79_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(batchA, src, "batch_a", now - 120000)
        stageStreamFile(batchB, src, "batch_b", now - 60000)
        val stream = s.readStream.schema(batchA.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val query = stream.writeStream
          .foreachBatch(operators.Incremental.dedupSink(
            kind, "vec_id", col("embedding"), table, 8,
            threshold = 0.95,
            emit = (surv, batchId) =>
              surv.write.mode("overwrite").parquet(s"$out/batch_$batchId")))
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/*").select(col("vec_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |t AS (SELECT vec_id, v, 0 AS rk FROM e0 WHERE vec_id % 3 <> 0
             |      UNION ALL
             |      SELECT vec_id, v, 1 FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 0
             |      UNION ALL
             |      SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0), 1
             |      FROM e0 WHERE vec_id % 3 <> 0 AND vec_id < 7
             |      UNION ALL
             |      SELECT vec_id, v, 2 FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 1
             |      UNION ALL
             |      SELECT vec_id + 2000000, list_transform(v, x -> x * 2.0), 2
             |      FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 0 AND vec_id < 20),
             |b AS (SELECT vec_id, v, rk FROM t WHERE rk > 0),
             |dr AS (SELECT DISTINCT a.vec_id FROM b a JOIN t x ON x.rk < a.rk
             |         AND list_cosine_similarity(a.v, x.v) >= 0.95
             |       UNION
             |       SELECT DISTINCT y.vec_id FROM b a JOIN b y ON a.rk = y.rk
             |         AND a.vec_id < y.vec_id
             |         AND list_cosine_similarity(a.v, y.v) >= 0.95)
             |SELECT vec_id FROM b
             |WHERE vec_id NOT IN (SELECT vec_id FROM dr)""".stripMargin)),

    Q("q80_epoch_assemble",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the FULL training-sequence pipeline in one plan: epoch shuffle
        // (seed-42 permutation, 6 shards — indivisible by 16, so the
        // wide shard arithmetic is replayed) → pack-then-split →
        // assembled chunk text in SHUFFLED order. Also exercises the
        // string-id path through packChunkRows' span re-join and the
        // per-chunk ordered concat (epoch_key is the join and sort key).
        // Three exchanges total: packing window, span join, chunk
        // groupBy — same budget as q74 plus the id-keyed join.
        val shuffled = operators.Packing.epochShuffle(tbl("documents"),
          "doc_id", seed = 42L, numShards = 6)
        operators.Packing.assembleChunks(shuffled, "epoch_key", "text",
          "epoch_shard", tokenBudget = 256)
      },
      Some("""WITH k AS (SELECT md5(doc_id::VARCHAR || ':42') AS epoch_key,
             |  text FROM documents),
             |t AS (SELECT epoch_key,
             |  CAST((
             |    (strpos('0123456789abcdef', substr(epoch_key, 32, 1)) - 1)
             |    + (strpos('0123456789abcdef', substr(epoch_key, 31, 1)) - 1) * 16
             |    + (strpos('0123456789abcdef', substr(epoch_key, 30, 1)) - 1) * 256
             |    + (strpos('0123456789abcdef', substr(epoch_key, 29, 1)) - 1) * 4096
             |    + (strpos('0123456789abcdef', substr(epoch_key, 28, 1)) - 1) * 65536
             |    + (strpos('0123456789abcdef', substr(epoch_key, 27, 1)) - 1) * 1048576
             |  ) % 6 AS BIGINT) AS epoch_shard,
             |  string_split(text, ' ') AS w,
             |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM k),
             |o AS (SELECT epoch_key, epoch_shard, w, n_tok,
             |  CAST(coalesce(sum(n_tok) OVER (PARTITION BY epoch_shard
             |    ORDER BY epoch_key
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |    AS BIGINT) AS tok_offset FROM t),
             |c AS (SELECT epoch_shard, epoch_key, w, n_tok, tok_offset,
             |  unnest(range(tok_offset // 256,
             |    (tok_offset + n_tok - 1) // 256 + 1)) AS chunk_id FROM o),
             |p AS (SELECT epoch_shard, CAST(chunk_id AS BIGINT) AS chunk_id,
             |  epoch_key, w,
             |  greatest(0, chunk_id * 256 - tok_offset) AS st,
             |  least(n_tok, (chunk_id + 1) * 256 - tok_offset)
             |    - greatest(0, chunk_id * 256 - tok_offset) AS ln
             |  FROM c)
             |SELECT epoch_shard, chunk_id,
             |  string_agg(array_to_string(w[CAST(st + 1 AS INT) :
             |    CAST(st + ln AS INT)], ' '), ' ' ORDER BY epoch_key)
             |    AS chunk_text,
             |  CAST(sum(ln) AS BIGINT) AS n_tok
             |FROM p GROUP BY epoch_shard, chunk_id""".stripMargin)),

    Q("q81_repeated_spans",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // substring-level dedup signal: per doc, the count and fraction
        // of its 8-token windows shared with at least one OTHER doc
        // (boilerplate/templated-text detector — catches what whole-doc
        // similarity misses). One narrow kernel pass, spans hashed to
        // 8 bytes before any exchange; the oracle recomputes with the
        // exact window strings, so a hash collision would fail the gate.
        operators.Dedup.duplicatedSpans(tbl("documents"), "doc_id", "text",
            spanLen = 8)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             |  FROM documents),
             |g AS (SELECT doc_id, unnest(list_transform(
             |    range(1, len(w) - 8 + 2),
             |    i -> array_to_string(w[i:i+7], ' '))) AS sp
             |  FROM w WHERE len(w) >= 8),
             |d AS (SELECT sp FROM (SELECT sp, count(DISTINCT doc_id) AS nd
             |        FROM g GROUP BY sp) WHERE nd >= 2),
             |tot AS (SELECT doc_id, count(*) AS n_spans FROM g GROUP BY doc_id),
             |dup AS (SELECT doc_id, count(*) AS n_dup_spans
             |  FROM g JOIN d USING (sp) GROUP BY doc_id)
             |SELECT w.doc_id,
             |  CAST(coalesce(tot.n_spans, 0) AS BIGINT) AS n_spans,
             |  CAST(coalesce(dup.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
             |  round(CASE WHEN coalesce(tot.n_spans, 0) = 0 THEN 0.0
             |    ELSE CAST(coalesce(dup.n_dup_spans, 0) AS DOUBLE)
             |      / tot.n_spans END, 6) AS dup_frac
             |FROM w LEFT JOIN tot USING (doc_id)
             |LEFT JOIN dup USING (doc_id)""".stripMargin)),

    Q("q82_temperature_mixture",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // training-mixture resampling: language proportions flattened to
        // p^0.5 (rare langs upweighted — the multilingual sampling rule),
        // corpus downsampled to half its rows at the flattened
        // distribution via per-group rates and a deterministic md5 coin.
        // The corpus is never shuffled: a |langs|-row count aggregate
        // broadcasts rates back onto the scan, the gate is a narrow
        // filter. alpha=0.5 routes through sqrt (correctly-rounded IEEE
        // in both engines), and the coin replays through ascii() digit
        // arithmetic, so the oracle reproduces the exact survivor set.
        operators.Sampling.temperatureMixture(
            tbl("documents").select(col("doc_id"), col("lang")),
            "doc_id", "lang", alpha = 0.5, targetFrac = 0.5)
          .select(col("doc_id"), col("lang"))
      },
      Some {
        s"""WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
           |t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |w AS (SELECT lang, n_g / n AS p_g, sqrt(n_g / n) AS w_g FROM c, t),
           |s AS (SELECT sum(w_g) AS wsum FROM w),
           |r AS (SELECT lang, least(1.0, 0.5 * (w_g / wsum) / p_g) AS rate_g
           |      FROM w, s),
           |u AS (SELECT doc_id, lang, md5(doc_id::VARCHAR || ':mix') AS h
           |      FROM documents),
           |v AS (SELECT doc_id, lang,
           |  CAST(${uTerms("h")} AS DOUBLE) / 16777216.0 AS u
           |  FROM u)
           |SELECT v.doc_id, v.lang FROM v JOIN r USING (lang)
           |WHERE v.u < r.rate_g""".stripMargin
      }),

    Q("q83_repetition_upsample",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the upsampling half of mixture assembly: rare-language rows
        // repeat rate_g = 1.5·q_g/p_g times in expectation (floor copies
        // + a deterministic-coin extra), each copy tagged rep_idx so the
        // epoch shuffle can separate them. Same no-corpus-shuffle shape
        // as q82 plus a narrow sequence-explode.
        operators.Sampling.repetitionUpsample(
            tbl("documents").select(col("doc_id"), col("lang")),
            "doc_id", "lang", alpha = 0.5, targetFactor = 1.5)
          .select(col("doc_id"), col("lang"), col("rep_idx"))
      },
      Some {
        s"""WITH c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
           |t AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |w AS (SELECT lang, n_g / n AS p_g, sqrt(n_g / n) AS w_g FROM c, t),
           |s AS (SELECT sum(w_g) AS wsum FROM w),
           |r AS (SELECT lang, 1.5 * (w_g / wsum) / p_g AS rate_g FROM w, s),
           |u AS (SELECT doc_id, lang, md5(doc_id::VARCHAR || ':rep') AS h
           |      FROM documents),
           |v AS (SELECT doc_id, lang,
           |  CAST(${uTerms("h")} AS DOUBLE) / 16777216.0 AS u
           |  FROM u),
           |k AS (SELECT v.doc_id, v.lang,
           |  CAST(floor(r.rate_g) AS BIGINT)
           |    + CASE WHEN v.u < r.rate_g - floor(r.rate_g)
           |           THEN 1 ELSE 0 END AS n_copies
           |  FROM v JOIN r USING (lang))
           |SELECT doc_id, lang, CAST(unnest(range(0, n_copies)) AS BIGINT)
           |  AS rep_idx
           |FROM k WHERE n_copies > 0""".stripMargin
      }),

    Q("q84_bm25_rank",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // BM25 ranking: top-50 docs for a 3-term probe query (Okapi
        // formulation, k1=1.2 b=0.75). The token stream is filtered to
        // the query terms BEFORE any exchange; corpus stats and the
        // |Q|-row idf table broadcast. Deterministic: scores rounded to
        // 6 decimals on BOTH sides before the order-by, doc_id tiebreak.
        operators.Retrieval.bm25(tbl("documents"), "doc_id", "text",
            Seq("hash", "filter", "customer"))
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("score").desc, col("doc_id")).limit(50)
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             |  string_split(lower(text), ' ') AS w FROM documents),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
             |       FROM p),
             |tf AS (SELECT doc_id, dl, t AS term,
             |    CAST(count(*) AS DOUBLE) AS f
             |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM p)
             |  WHERE t IN ('hash', 'filter', 'customer')
             |  GROUP BY doc_id, dl, t),
             |idf AS (SELECT term,
             |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
             |  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
             |        FROM tf GROUP BY term), st)
             |SELECT tf.doc_id,
             |  round(sum(idf.idf * tf.f * 2.2 / (tf.f + 1.2 *
             |    (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
             |FROM tf JOIN idf USING (term)
             |GROUP BY tf.doc_id
             |ORDER BY score DESC, tf.doc_id LIMIT 50""".stripMargin)),

    Q("q85_span_removal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // exact substring dedup (Lee et al. 2022 semantics): every
        // 8-token window occurring in >= 2 docs keeps its min-id
        // occurrence; other docs have the window's tokens trimmed
        // (overlaps union; a fully-covered doc becomes ''). Only
        // matched windows fan out to removal rows — the token stream
        // itself is rebuilt narrowly. The oracle reconstructs the
        // removal sets with exact window strings, so both the candidate
        // machinery AND the positional trim are under oracle.
        operators.Dedup.removeDuplicatedSpans(tbl("documents"), "doc_id",
            "text", spanLen = 8)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH p AS (SELECT doc_id, string_split(lower(text), ' ') AS w,
             |  string_split(text, ' ') AS wo FROM documents),
             |gs AS (SELECT doc_id, pos,
             |    array_to_string(w[pos + 1 : pos + 8], ' ') AS sp
             |  FROM (SELECT doc_id, w,
             |          unnest(range(0, greatest(len(w) - 8 + 1, 0))) AS pos
             |        FROM p)),
             |k AS (SELECT sp, min(doc_id) AS keeper
             |  FROM (SELECT DISTINCT doc_id, sp FROM gs)
             |  GROUP BY sp HAVING count(*) >= 2),
             |rem AS (SELECT DISTINCT doc_id, ti FROM
             |  (SELECT gs.doc_id, unnest(range(gs.pos + 1, gs.pos + 9)) AS ti
             |   FROM gs JOIN k USING (sp) WHERE gs.doc_id <> k.keeper)),
             |r2 AS (SELECT doc_id, list(ti) AS rem, count(*) AS n_removed
             |  FROM rem GROUP BY doc_id)
             |SELECT p.doc_id,
             |  coalesce(array_to_string(list_filter(p.wo,
             |    (x, i) -> NOT list_contains(coalesce(r2.rem, []), i)), ' '),
             |    '') AS cleaned_text,
             |  CAST(coalesce(r2.n_removed, 0) AS BIGINT) AS n_removed
             |FROM p LEFT JOIN r2 USING (doc_id)""".stripMargin)),

    Q("q86_corpus_prep_substring",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // the q51 composition extended one stage: quality gate → lang
        // gate → exact dedup → near-dup dedup → SUBSTRING trim — span
        // removal runs on the SURVIVOR set (production order: whole-doc
        // dedup first, so only genuinely partial overlap remains for
        // the trimmer). Output is the trim accounting per surviving
        // doc; n_tok_clean is integer arithmetic on both sides (no
        // empty-string token edge cases).
        val prepared = Corpus.prepare(tbl("documents"), "doc_id", "text",
          Stopwords, LangMarkers, keepLangs = Set("en"),
          minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0)
        // persisted: three consumers (token totals, span explode, text
        // rebuild) would each re-run the whole prep semi-join otherwise
        // (Checkpoints.release on the result frees it)
        val survivors = ck.shared(tbl("documents")
          .select(col("doc_id"), col("text"))
          .join(prepared.select("doc_id"), Seq("doc_id"), "left_semi"))
        val trimmed = operators.Dedup.removeDuplicatedSpans(survivors,
            "doc_id", "text", spanLen = 8)
          .withColumnRenamed("id", "doc_id")
        survivors
          .select(col("doc_id"), Text.tokenCount(col("text")).as("n_tok"))
          .join(trimmed.select(col("doc_id"), col("n_removed")), Seq("doc_id"))
          .select(col("doc_id"), col("n_removed"),
            (col("n_tok") - col("n_removed")).as("n_tok_clean"))
      },
      Some(corpusPrepOracleCte(recursive = false) +
        """,
          |dups AS (SELECT DISTINCT id_b AS doc_id FROM p
          |         WHERE inter / (tot - inter) >= 0.6),
          |s AS (SELECT e.doc_id, string_split(lower(e.text), ' ') AS w
          |      FROM e WHERE e.doc_id NOT IN (SELECT doc_id FROM dups)),
          |gs AS (SELECT doc_id, pos,
          |    array_to_string(w[pos + 1 : pos + 8], ' ') AS sp
          |  FROM (SELECT doc_id, w,
          |          unnest(range(0, greatest(len(w) - 8 + 1, 0))) AS pos
          |        FROM s)),
          |k2 AS (SELECT sp, min(doc_id) AS keeper
          |  FROM (SELECT DISTINCT doc_id, sp FROM gs)
          |  GROUP BY sp HAVING count(*) >= 2),
          |rem AS (SELECT DISTINCT doc_id, ti FROM
          |  (SELECT gs.doc_id, unnest(range(gs.pos + 1, gs.pos + 9)) AS ti
          |   FROM gs JOIN k2 USING (sp) WHERE gs.doc_id <> k2.keeper)),
          |r2 AS (SELECT doc_id, count(*) AS n_removed FROM rem GROUP BY doc_id)
          |SELECT s.doc_id,
          |  CAST(coalesce(r2.n_removed, 0) AS BIGINT) AS n_removed,
          |  CAST(len(s.w) - coalesce(r2.n_removed, 0) AS BIGINT) AS n_tok_clean
          |FROM s LEFT JOIN r2 USING (doc_id)""".stripMargin)),

    Q("q87_length_quantiles",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus length telemetry: per-language token-count percentiles
        // (the numbers that size packing budgets and spot truncation/
        // boilerplate tails). Spark `percentile` and DuckDB
        // `quantile_cont` both implement R-7 linear interpolation, and
        // the interpolation arithmetic on integer inputs is exact IEEE —
        // the oracle matches without tolerance. Exact percentile
        // aggregates buffer one (value → count) map per group: groups
        // are languages (bounded) and distinct doc lengths are bounded
        // by the length range, so per-group state stays small at any
        // corpus size (switch to approx_percentile only if value
        // domains explode).
        tbl("documents")
          .select(col("lang"), Text.tokenCount(col("text")).as("n_tok"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            round(percentile(col("n_tok"), lit(0.5)), 6).as("p50"),
            round(percentile(col("n_tok"), lit(0.9)), 6).as("p90"),
            round(percentile(col("n_tok"), lit(0.99)), 6).as("p99"))
      },
      Some("""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             |  round(quantile_cont(n_tok, 0.5), 6) AS p50,
             |  round(quantile_cont(n_tok, 0.9), 6) AS p90,
             |  round(quantile_cont(n_tok, 0.99), 6) AS p99
             |FROM (SELECT lang,
             |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |      FROM documents)
             |GROUP BY lang""".stripMargin)),

    Q("q88_quantize_int8",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // int8 embedding quantization — the ANN storage-compression
        // path (float32 corpus → ~4× smaller before indexing). Purely
        // narrow double arithmetic (float inputs cast exactly), so the
        // quantized codes, the per-vector scale, AND the max
        // dequantization error replay bit-for-bit in the oracle — no
        // tolerance anywhere.
        import graft.functions.Vectors
        val dv = transform(col("embedding"), x => x.cast("double"))
        val scale = Vectors.quantScale(col("embedding"))
        // max_err derives from the SAME quantized codes reported in
        // q_str (zip_with against the q column) — one source of truth,
        // so a future quantizer change can't silently leave the error
        // column measuring the old formula
        tbl("embeddings")
          .select(col("vec_id"), scale.as("scale"), dv.as("dv"),
            Vectors.quantizeInt8(col("embedding")).as("q"))
          .select(
            col("vec_id"),
            col("scale"),
            array_join(transform(col("q"), _.cast("string")), ",").as("q_str"),
            when(col("scale") === 0d, lit(0.0)).otherwise(
              array_max(zip_with(col("dv"), col("q"), (x, qi) =>
                abs(x - qi * col("scale") / lit(127d)))))
              .as("max_err"))
      },
      Some("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |m AS (SELECT vec_id, v,
             |  list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
             |SELECT vec_id, scale,
             |  array_to_string(CASE WHEN scale = 0
             |    THEN list_transform(v, x -> CAST(0 AS BIGINT))
             |    ELSE list_transform(v, x ->
             |      CAST(round(x * 127 / scale) AS BIGINT)) END, ',') AS q_str,
             |  CASE WHEN scale = 0 THEN 0.0
             |    ELSE list_max(list_transform(v, x ->
             |      abs(x - round(x * 127 / scale) * scale / 127))) END
             |    AS max_err
             |FROM m""".stripMargin)),

    Q("q89_streaming_window_agg",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // streaming WINDOWED AGGREGATION end-to-end — the q68/q79
        // discipline applied to the aggregation path: a real file
        // stream (two micro-batches, pinned order) drives
        // EventStreams.windowedCounts (watermarked tumbling windows,
        // append mode); after AvailableNow terminates, the emitted set
        // is exactly the windows the final watermark (global max ts −
        // 1 h) closed — the last hour's windows stay open and are
        // deterministically absent. The oracle recomputes the batch
        // aggregation and applies the same watermark cut; max(ts) is
        // mid-hour at every SF, so the cut is boundary-unambiguous.
        import java.nio.file.{Files, Paths}
        import java.nio.file.attribute.FileTime
        val ev = tbl("events").select(col("event_id"), col("ts"),
          col("event_type"), col("value"))
        val dir = tempStagingDir("graft_q89_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(ev.filter(col("event_id") % 2 === 1), src,
          "batch_b", now - 60000)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val query = streaming.EventStreams
          .windowedCounts(stream.drop("event_id"), "1 hour", "1 hour")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(out)
          .select(col("window_start"), col("event_type"),
            col("n").cast("long").as("n"), col("total_value"))
      },
      Some("""WITH b AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
             |    AS window_start, event_type,
             |    CAST(count(*) AS BIGINT) AS n,
             |    round(sum(value), 4) AS total_value
             |  FROM events GROUP BY 1, 2),
             |c AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events)
             |SELECT window_start, event_type, n, total_value
             |FROM b, c
             |WHERE window_start + INTERVAL 1 HOUR <= cut""".stripMargin)),

    Q("q90_video_decode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // REAL video decode end-to-end: synthesize actual uncompressed
        // AVI payloads (RIFF 'AVI ' container, BI_RGB DIB frames,
        // geometry deterministic from doc_id) and parse genuine
        // width/height/frame-count back with the pure-JDK RIFF walker —
        // which also decodes every RGB frame (the checksum column, not
        // emitted here, is the decoded-pixel fingerprint,
        // spec-asserted). The oracle recomputes the arithmetic in SQL —
        // a stub decode (checksum-derived properties) cannot pass. The
        // q61/q69 recipe, third modality.
        operators.Multimodal.extractFeatures(
            operators.Multimodal.videosFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("channels").cast("long").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(6 + doc_id % 11 AS BIGINT) AS width,
             |CAST(4 + (doc_id // 11) % 9 AS BIGINT) AS height,
             |CAST(2 + doc_id % 7 AS BIGINT) AS n_frames,
             |CAST(3 AS BIGINT) AS channels
             |FROM documents""".stripMargin)),

    Q("q91_store_maintenance",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STORE MAINTENANCE under a live stream — q79's pipeline halted
        // mid-sequence for compactStore + rebuildBands,
        // then resumed from the checkpoint: batch A processes, the store
        // is compacted and its derived band table rebuilt, batch B
        // processes against the maintained store. The oracle is q79's
        // VERBATIM (same batches, same planted copies): maintenance must
        // be decision-INVISIBLE — compaction dedups storage rows and the
        // band rebuild re-derives state, neither may change a single
        // survivor. validateStore gates the rebuilt store in-plan.
        // (Natural embedding cosines top out at ~0.6 at every SF —
        // measured 0.48/0.51/0.60 at sf0.001/0.01/0.1 — so the planted
        // cosine-1.0 copies are the ONLY pairs near the 0.95 threshold:
        // no LSH-recall or ulp flakiness at the gate.)
        import java.nio.file.Files
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val table = "q91_emb_store"
        dropTables(s, table, s"${table}_bands")
        val kind = operators.Lsh.Hyperplane()
        operators.Incremental.writeStore(kind,
          emb.filter(col("vec_id") % 3 =!= 0), "vec_id", col("embedding"), table, 8)
        def scaled(src: org.apache.spark.sql.DataFrame, offset: Long) =
          src.select((col("vec_id") + offset).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val streamed = emb.filter(col("vec_id") % 3 === 0)
        val batchA = streamed.filter(expr("(vec_id div 3) % 2 = 0"))
          .unionByName(scaled(
            emb.filter(col("vec_id") % 3 =!= 0 && col("vec_id") < 7), 1000000L))
        val batchB = streamed.filter(expr("(vec_id div 3) % 2 = 1"))
          .unionByName(scaled(
            streamed.filter(expr("(vec_id div 3) % 2 = 0 AND vec_id < 20")),
            2000000L))
        val dir = tempStagingDir("graft_q91_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        def runStream(): Unit = {
          val stream = s.readStream.schema(batchA.schema)
            .option("maxFilesPerTrigger", 1).parquet(src.toString)
          val query = stream.writeStream
            .foreachBatch(operators.Incremental.dedupSink(
              kind, "vec_id", col("embedding"), table, 8,
              threshold = 0.95,
              emit = (surv, batchId) =>
                surv.write.mode("overwrite").parquet(s"$out/batch_$batchId")))
            .option("checkpointLocation", dir.resolve("ckpt").toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          query.awaitTermination()
        }
        stageStreamFile(batchA, src, "batch_a", now - 120000)
        runStream() // processes batch A, appends it to the store
        operators.Incremental.compactStore(kind, s, table, 8)
        operators.Incremental.rebuildBands(kind, s, table, 8)
        require(operators.Incremental.validateStore(kind, s, table),
          "store/bands diverged after maintenance")
        stageStreamFile(batchB, src, "batch_b", now - 60000)
        runStream() // checkpoint resume: batch B only, maintained store
        s.read.parquet(s"$out/*").select(col("vec_id"))
      },
      Some("""WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |            FROM embeddings),
             |t AS (SELECT vec_id, v, 0 AS rk FROM e0 WHERE vec_id % 3 <> 0
             |      UNION ALL
             |      SELECT vec_id, v, 1 FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 0
             |      UNION ALL
             |      SELECT vec_id + 1000000, list_transform(v, x -> x * 2.0), 1
             |      FROM e0 WHERE vec_id % 3 <> 0 AND vec_id < 7
             |      UNION ALL
             |      SELECT vec_id, v, 2 FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 1
             |      UNION ALL
             |      SELECT vec_id + 2000000, list_transform(v, x -> x * 2.0), 2
             |      FROM e0
             |      WHERE vec_id % 3 = 0 AND (vec_id // 3) % 2 = 0 AND vec_id < 20),
             |b AS (SELECT vec_id, v, rk FROM t WHERE rk > 0),
             |dr AS (SELECT DISTINCT a.vec_id FROM b a JOIN t x ON x.rk < a.rk
             |         AND list_cosine_similarity(a.v, x.v) >= 0.95
             |       UNION
             |       SELECT DISTINCT y.vec_id FROM b a JOIN b y ON a.rk = y.rk
             |         AND a.vec_id < y.vec_id
             |         AND list_cosine_similarity(a.v, y.v) >= 0.95)
             |SELECT vec_id FROM b
             |WHERE vec_id NOT IN (SELECT vec_id FROM dr)""".stripMargin)),

    Q("q92_streaming_session_agg",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // streaming SESSION-window aggregation end-to-end — the q89
        // discipline on the third aggregation shape (tumbling q89,
        // dedup q68/q79, session here): a real file stream drives
        // EventStreams.sessionWindowAgg (native session_window, append
        // mode); sessions merge across the two micro-batches in the
        // session state store, and after AvailableNow terminates the
        // emitted set is exactly the sessions the final watermark
        // (max ts − 1 h) closed — a session's end is its last event
        // + the 2 h gap, so sessions ending in the last 3 h of the
        // fixture stay open and are deterministically absent. The
        // oracle recomputes batch sessionization (the q39 lag/cumsum
        // formulation) and applies the same cut.
        import java.nio.file.Files
        val ev = tbl("events").select(col("event_id"), col("ts"),
          col("user_id"), col("value"))
        val dir = tempStagingDir("graft_q92_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(ev.filter(col("event_id") % 2 === 1), src,
          "batch_b", now - 60000)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val query = streaming.EventStreams
          .sessionWindowAgg(stream.drop("event_id"), "2 hours", "1 hour")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(out)
          .select(col("user_id"), col("session_start"),
            col("n_events").cast("long").as("n_events"), col("total_value"))
      },
      Some("""WITH e AS (SELECT user_id, ts, value, epoch_us(ts) AS us
             |           FROM events),
             |x AS (SELECT user_id, ts, us, value,
             |  CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 7200000000
             |       THEN 1 ELSE 0 END AS new_s
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)),
             |g AS (SELECT user_id, ts, value,
             |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us
             |    ROWS UNBOUNDED PRECEDING) AS sid FROM x),
             |sess AS (SELECT user_id,
             |    CAST(min(ts) AS TIMESTAMP) AS session_start,
             |    max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n_events,
             |    round(sum(value), 4) AS total_value
             |  FROM g GROUP BY user_id, sid),
             |c AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events)
             |SELECT user_id, session_start, n_events, total_value
             |FROM sess, c WHERE last_ts + INTERVAL 2 HOUR <= cut""".stripMargin)),

    Q("q93_bm25_multi",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        import s.implicits._
        // multi-query BM25: one corpus pass scores a query TABLE, top-10
        // per query via a rank window (WindowGroupLimit). Query 2 carries
        // mixed-case duplicate terms — the operator's in-plan
        // normalization (lowercase + per-query distinct) is under oracle,
        // not just documented. Deterministic: scores rounded to 6
        // decimals both sides, (score desc, doc_id) rank order.
        val probes = Seq(
          (1L, Seq("hash", "filter", "customer")),
          (2L, Seq("Stream", "STREAM", "window")),
          (3L, Seq("training", "data", "quality"))
        ).toDF("query_id", "terms")
        operators.Retrieval.bm25TopK(tbl("documents"), "doc_id", "text",
            probes, "query_id", "terms", k = 10)
          .withColumnRenamed("id", "doc_id")
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |  (1, 'hash'), (1, 'filter'), (1, 'customer'),
             |  (2, 'stream'), (2, 'window'),
             |  (3, 'training'), (3, 'data'), (3, 'quality')),
             |p AS (SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             |  string_split(lower(text), ' ') AS w FROM documents),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
             |       FROM p),
             |tf AS (SELECT doc_id, dl, t AS term,
             |    CAST(count(*) AS DOUBLE) AS f
             |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM p)
             |  WHERE t IN (SELECT term FROM q)
             |  GROUP BY doc_id, dl, t),
             |idf AS (SELECT term,
             |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
             |  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
             |        FROM tf GROUP BY term), st),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |    round(sum(idf.idf * tf.f * 2.2 / (tf.f + 1.2 *
             |      (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
             |  FROM tf JOIN idf USING (term) JOIN q ON q.term = tf.term
             |  GROUP BY q.query_id, tf.doc_id)
             |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score,
             |  CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY score DESC, doc_id) AS BIGINT) AS rank
             |FROM sc QUALIFY rank <= 10""".stripMargin)),

    Q("q94_approx_quantiles",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the documented 100 TB switch for q87, PROVEN: approx_percentile
        // (KLL-style mergeable sketch, bounded state at any cardinality —
        // what q87's exact percentile map degrades into when value
        // domains explode) is gated by a RANK-TOLERANCE check computed
        // in-plan: the sketch guarantees the returned value is an actual
        // dataset element whose rank is within n/accuracy of the target
        // rank p·n. The engine recomputes each approx value's true rank
        // interval against the corpus and emits ok=1 only when (a) the
        // rank window overlaps the guarantee band and (b) the value is a
        // genuine element of the group. The oracle states the guarantee
        // (ok=1 per lang × p) — a sketch violating its error bound, or a
        // shortcut returning interpolated/fabricated values, fails the
        // hash.
        val acc = 10000
        val ps = Seq(0.5, 0.9, 0.99)
        val nt = tbl("documents")
          .select(col("lang"), Text.tokenCount(col("text")).as("n_tok"))
        val ap = nt.groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            percentile_approx(col("n_tok"),
              array(ps.map(lit): _*), lit(acc)).as("qs"))
          .select(col("lang"), col("n_docs"),
            posexplode(col("qs")).as(Seq("pi", "v")))
          .withColumn("p", element_at(lit(ps.toArray), col("pi") + 1))
        ap.join(nt, Seq("lang"))
          .groupBy(col("lang"), col("n_docs"), col("p"), col("v"))
          .agg(
            sum(when(col("n_tok") <= col("v"), 1L).otherwise(0L)).as("rank_hi"),
            sum(when(col("n_tok") < col("v"), 1L).otherwise(0L)).as("rank_lo"),
            max(when(col("n_tok") === col("v"), 1L).otherwise(0L)).as("is_elem"))
          .select(col("lang"), col("p"), col("n_docs"),
            (col("is_elem") === 1 &&
             col("rank_hi").cast("double") >=
               (col("p") - lit(1.0 / acc)) * col("n_docs") - lit(1e-9) &&
             col("rank_lo").cast("double") <=
               (col("p") + lit(1.0 / acc)) * col("n_docs") + lit(1e-9))
              .cast("long").as("ok"))
      },
      Some("""SELECT lang, CAST(p AS DOUBLE) AS p, n_docs,
             |  CAST(1 AS BIGINT) AS ok
             |FROM (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
             |      FROM documents GROUP BY lang)
             |CROSS JOIN (VALUES (0.5), (0.9), (0.99)) v(p)""".stripMargin)),

    Q("q95_block_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CCNet-style line dedup at 16-token block granularity: every
        // distinct block keeps its first (doc_id, pos) occurrence
        // corpus-wide, docs rebuild from surviving blocks. The engine
        // keys blocks on a 128-bit salted hash pair (block text never
        // shuffles); the oracle recomputes with exact block STRINGS —
        // so a hash collision, or a winner picked by anything other
        // than lexicographic-min (doc, pos), fails the hash compare.
        Dedup.blockDedup(tbl("documents"), "doc_id", "text", 16)
          .select(col("id").as("doc_id"), col("n_tok_clean"),
            col("text_clean"))
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w,
             |             string_split(lower(text), ' ') AS lw
             |           FROM documents),
             |b AS (SELECT s.doc_id, u.pos,
             |        array_to_string(s.lw[u.pos*16+1 :
             |          least(len(s.lw), (u.pos+1)*16)], ' ') AS blk,
             |        s.w[u.pos*16+1 : least(len(s.w), (u.pos+1)*16)]
             |          AS otoks
             |      FROM s, unnest(range(0, (len(s.lw)+15)//16)) AS u(pos)),
             |k AS (SELECT doc_id, pos, otoks, row_number() OVER
             |        (PARTITION BY blk ORDER BY doc_id, pos) AS rn
             |      FROM b),
             |agg AS (SELECT doc_id,
             |          CAST(sum(len(otoks)) AS BIGINT) AS n_tok_clean,
             |          string_agg(array_to_string(otoks, ' '), ' '
             |            ORDER BY pos) AS text_clean
             |        FROM k WHERE rn = 1 GROUP BY doc_id)
             |SELECT s.doc_id,
             |  coalesce(a.n_tok_clean, CAST(0 AS BIGINT)) AS n_tok_clean,
             |  coalesce(a.text_clean, '') AS text_clean
             |FROM s LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    Q("q96_budget_selection",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus curation to a token budget: quality-rank the pool and
        // keep the best documents until 10k tokens are spent. The
        // engine runs the two-phase parallel prefix sum (range
        // partitions → |partitions|-row offset window → parallel
        // per-partition cumsums — no global single-task window); the
        // oracle IS the global window, so the phased arithmetic must
        // reproduce it to the token. cum_tok is emitted: the oracle
        // checks the running total itself, not just the survivor set.
        val score = Text.qualityScore(col("text"), Stopwords)
        val pool = tbl("documents").select(col("doc_id"),
          score.as("quality"), Text.tokenCount(col("text")).as("n_tok"))
        Selection.takeByBudget(pool,
            Seq(col("quality").desc, col("doc_id")), col("n_tok"), 10000L)
          .select(col("doc_id"), col("quality"), col("n_tok"),
            col("cum_cost").as("cum_tok"))
      },
      Some(s"""WITH m AS (SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '),
              |      t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g'))
              |    AS n_nopunct
              |  FROM documents),
              |sc AS (SELECT doc_id, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0)
              |      * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality,
              |  CAST(n_tok AS BIGINT) AS n_tok FROM m),
              |c AS (SELECT doc_id, quality, n_tok,
              |        sum(n_tok) OVER (ORDER BY quality DESC, doc_id)
              |          AS cum_tok
              |      FROM sc)
              |SELECT doc_id, quality, n_tok, CAST(cum_tok AS BIGINT)
              |  AS cum_tok
              |FROM c WHERE cum_tok <= 10000""".stripMargin)),

    Q("q97_source_quota",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-source quota: no source contributes more than its 10 best
        // documents — the deterministic counterpart of q82's temperature
        // rebalancing. WindowGroupLimit plan shape is spec-asserted.
        val score = Text.qualityScore(col("text"), Stopwords)
        Selection.quotaPerGroup(
            tbl("documents").select(col("doc_id"), col("source"),
              score.as("quality")),
            "source", Seq(col("quality").desc, col("doc_id")), 10)
          .select(col("source"), col("doc_id"), col("quality"), col("rank"))
      },
      Some(s"""WITH m AS (SELECT doc_id, source,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '),
              |      t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g'))
              |    AS n_nopunct
              |  FROM documents),
              |sc AS (SELECT doc_id, source, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0)
              |      * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality FROM m),
              |r AS (SELECT source, doc_id, quality, CAST(row_number() OVER
              |        (PARTITION BY source ORDER BY quality DESC, doc_id)
              |        AS BIGINT) AS rank
              |      FROM sc)
              |SELECT source, doc_id, quality, rank
              |FROM r WHERE rank <= 10""".stripMargin)),

    Q("q98_text_store_maintenance",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STORE MAINTENANCE under a live TEXT stream — q91's discipline
        // on the minhash/signature modality (q91 proved the embedding
        // store): q68's streaming ingest dedup halted mid-sequence for
        // compactStore + rebuildBands, then resumed from the
        // checkpoint. The oracle is q68's VERBATIM — maintenance must
        // be decision-invisible for the text store too. validateStore
        // gates the rebuilt store in-plan.
        import java.nio.file.Files
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val table = "q98_sig_store"
        dropTables(s, table, s"${table}_bands")
        val kind = operators.Lsh.MinHash()
        operators.Incremental.writeStore(kind,
          docs.filter(col("doc_id") % 3 =!= 0), "doc_id", col("text"), table, 8)
        val dir = tempStagingDir("graft_q98_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        val streamed = docs.filter(col("doc_id") % 3 === 0)
        def runStream(): Unit = {
          val stream = s.readStream.schema(streamed.schema)
            .option("maxFilesPerTrigger", 1).parquet(src.toString)
          val query = stream.writeStream
            .foreachBatch(operators.Incremental.dedupSink(
              kind, "doc_id", col("text"), table, 8,
              threshold = 0.6,
              emit = (surv, batchId) =>
                surv.write.mode("overwrite").parquet(s"$out/batch_$batchId")))
            .option("checkpointLocation", dir.resolve("ckpt").toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          query.awaitTermination()
        }
        stageStreamFile(streamed.filter(expr("(doc_id div 3) % 2 = 0")), src,
          "batch_a", now - 120000)
        runStream() // processes batch A, appends it to the store
        operators.Incremental.compactStore(kind, s, table, 8)
        operators.Incremental.rebuildBands(kind, s, table, 8)
        require(operators.Incremental.validateStore(kind, s, table),
          "store/bands diverged after maintenance")
        stageStreamFile(streamed.filter(expr("(doc_id div 3) % 2 = 1")), src,
          "batch_b", now - 60000)
        runStream() // checkpoint resume: batch B only, maintained store
        s.read.parquet(s"$out/*").select(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, md5(text) AS h, $ShinglesSql AS sh,
              |  CASE WHEN doc_id % 3 <> 0 THEN 0
              |       WHEN (doc_id // 3) % 2 = 0 THEN 1 ELSE 2 END AS rk
              |  FROM documents),
              |ne AS (SELECT n.doc_id, n.sh, n.rk FROM t n
              |  JOIN (SELECT h, rk, min(doc_id) AS k FROM t WHERE rk > 0
              |        GROUP BY h, rk) mk
              |    ON n.h = mk.h AND n.rk = mk.rk AND n.doc_id = mk.k
              |  WHERE n.rk > 0
              |    AND NOT EXISTS (SELECT 1 FROM t p WHERE p.rk < n.rk AND p.h = n.h)),
              |dr AS (SELECT DISTINCT a.doc_id FROM ne a JOIN t b ON b.rk < a.rk
              |         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6
              |       UNION
              |       SELECT DISTINCT b.doc_id FROM ne a JOIN ne b
              |         ON a.rk = b.rk AND a.doc_id < b.doc_id
              |         AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6)
              |SELECT doc_id FROM ne
              |WHERE doc_id NOT IN (SELECT doc_id FROM dr)""".stripMargin)),

    Q("q99_curation_pipeline",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the CURATION flagship: the full selection funnel a training
        // run actually executes, end-to-end under one oracle —
        // block-dedup the corpus (q95), RE-score quality on the cleaned
        // text (dedup changes the ratios — scoring the raw text would
        // promote boilerplate-heavy docs), cap each source at its 10
        // best (q97), then spend a 5k-token budget best-first (q96).
        // Every stage is individually oracled; this query pins the
        // COMPOSITION: stage coupling (rescore-after-dedup, quota-
        // before-budget) is exactly what per-stage oracles cannot see.
        // The doc_id→source enrichment is an id-keyed join kept
        // explicit here; at 100 TB you'd carry source through the
        // dedup rebuild instead of re-joining (one wide column per
        // doc, no extra exchange) — the join stands in for any
        // metadata store lookup.
        val clean = Dedup.blockDedup(tbl("documents"), "doc_id", "text", 16)
          .filter(col("n_tok_clean") > 0)
          .withColumnRenamed("id", "doc_id")
        val scored = clean
          .join(tbl("documents").select(col("doc_id"), col("source")),
            Seq("doc_id"))
          .select(col("doc_id"), col("source"), col("n_tok_clean"),
            Text.qualityScore(col("text_clean"), Stopwords).as("quality"))
        val capped = Selection.quotaPerGroup(scored, "source",
          Seq(col("quality").desc, col("doc_id")), 10).drop("rank")
        Selection.takeByBudget(capped,
            Seq(col("quality").desc, col("doc_id")), col("n_tok_clean"),
            5000L)
          .select(col("source"), col("doc_id"), col("quality"),
            col("n_tok_clean"), col("cum_cost").as("cum_tok"))
      },
      Some(s"""WITH s AS (SELECT doc_id, source, string_split(text, ' ') AS w,
              |             string_split(lower(text), ' ') AS lw
              |           FROM documents),
              |b AS (SELECT s.doc_id, u.pos,
              |        array_to_string(s.lw[u.pos*16+1 :
              |          least(len(s.lw), (u.pos+1)*16)], ' ') AS blk,
              |        s.w[u.pos*16+1 : least(len(s.w), (u.pos+1)*16)]
              |          AS otoks
              |      FROM s, unnest(range(0, (len(s.lw)+15)//16)) AS u(pos)),
              |k AS (SELECT doc_id, pos, otoks, row_number() OVER
              |        (PARTITION BY blk ORDER BY doc_id, pos) AS rn
              |      FROM b),
              |cl AS (SELECT doc_id,
              |         CAST(sum(len(otoks)) AS BIGINT) AS n_tok_clean,
              |         string_agg(array_to_string(otoks, ' '), ' '
              |           ORDER BY pos) AS text_clean
              |       FROM k WHERE rn = 1 GROUP BY doc_id
              |       HAVING sum(len(otoks)) > 0),
              |m AS (SELECT cl.doc_id, s.source, cl.n_tok_clean,
              |  len(string_split(text_clean, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text_clean, ' '))) AS n_dis,
              |  len(list_filter(string_split(text_clean, ' '),
              |      t -> t IN ($StopSql))) AS n_sw,
              |  length(text_clean) AS n_ch,
              |  length(regexp_replace(text_clean, '[[:punct:]]', '', 'g'))
              |    AS n_nopunct
              |  FROM cl JOIN s USING (doc_id)),
              |sc AS (SELECT doc_id, source, n_tok_clean, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0)
              |      * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality FROM m),
              |cap AS (SELECT doc_id, source, n_tok_clean, quality FROM
              |  (SELECT *, row_number() OVER (PARTITION BY source
              |     ORDER BY quality DESC, doc_id) AS rk FROM sc)
              |  WHERE rk <= 10),
              |sel AS (SELECT source, doc_id, quality, n_tok_clean,
              |          sum(n_tok_clean) OVER
              |            (ORDER BY quality DESC, doc_id) AS cum_tok
              |        FROM cap)
              |SELECT source, doc_id, quality, n_tok_clean,
              |  CAST(cum_tok AS BIGINT) AS cum_tok
              |FROM sel WHERE cum_tok <= 5000""".stripMargin)),

    Q("q100_lang_budget",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-LANGUAGE token budgets — how multilingual mixtures are
        // actually specified ("2k tokens per language, best-first").
        // Each language's greedy prefix runs under its own total order
        // and cum_tok restarts per language; the phased prefix sum
        // partitions by (range partition, lang), so a dominant language
        // still spreads across executors where the naive per-group
        // window would serialize it through one task. The oracle is the
        // naive partitioned window — phased must match it to the token.
        val score = Text.qualityScore(col("text"), Stopwords)
        val pool = tbl("documents").select(col("doc_id"), col("lang"),
          score.as("quality"), Text.tokenCount(col("text")).as("n_tok"))
        Selection.takeByBudgetPerGroup(pool, "lang",
            Seq(col("quality").desc, col("doc_id")), col("n_tok"), 2000L)
          .select(col("lang"), col("doc_id"), col("quality"),
            col("n_tok"), col("cum_cost").as("cum_tok"))
      },
      Some(s"""WITH m AS (SELECT doc_id, lang,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '),
              |      t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g'))
              |    AS n_nopunct
              |  FROM documents),
              |sc AS (SELECT doc_id, lang, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0)
              |      * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality,
              |  CAST(n_tok AS BIGINT) AS n_tok FROM m),
              |c AS (SELECT doc_id, lang, quality, n_tok,
              |        sum(n_tok) OVER (PARTITION BY lang
              |          ORDER BY quality DESC, doc_id) AS cum_tok
              |      FROM sc)
              |SELECT lang, doc_id, quality, n_tok,
              |  CAST(cum_tok AS BIGINT) AS cum_tok
              |FROM c WHERE cum_tok <= 2000""".stripMargin)),

    Q("q101_image_resize",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // REAL image resize to a model resolution (8×6) over real PNG
        // payloads — the q61/q90 recipe applied to the resize transform:
        // src dims come from the DECODE of each synthesized PNG and the
        // oracle replays the pngDims generator arithmetic, so a stubbed
        // or pass-through "resize" that never decodes fails the gate;
        // the pixel-level nearest-neighbor mapping and the lossless
        // PNG round-trip are spec-gated (StreamingMultimodalSpec) —
        // checksums aren't SQL-expressible.
        implicit val sp: SparkSession = s
        val media = operators.Multimodal.imagesFromDocuments(
          tbl("documents"))
        operators.Multimodal.resizeImages(media, 8, 6)
          .select(col("media_id").as("doc_id"),
            col("src_w").cast("long").as("src_w"),
            col("src_h").cast("long").as("src_h"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"))
      },
      Some("""SELECT doc_id,
             |  CAST(8 + doc_id % 16 AS BIGINT) AS src_w,
             |  CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS src_h,
             |  CAST(8 AS BIGINT) AS width,
             |  CAST(6 AS BIGINT) AS height
             |FROM documents""".stripMargin)),

    Q("q102_audio_resample",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // REAL audio resample to a model rate (16 kHz) over real WAV
        // payloads — q101's recipe on the second modality: src rate and
        // frame count come from the DECODE of each synthesized WAV, and
        // the output frame count is ⌊srcFrames·16000/srcRate⌋, so the
        // oracle replaying the wavSpec generator arithmetic catches a
        // stubbed or pass-through "resample" that never decodes. The
        // corpus spans all three source rates (8/16/24 kHz), so the
        // upsample, identity, and downsample index mappings all run;
        // sample-exact mapping + lossless WAV round-trip are spec-gated
        // (StreamingMultimodalSpec) — checksums aren't SQL-expressible.
        implicit val sp: SparkSession = s
        val media = operators.Multimodal.audioFromDocuments(
          tbl("documents"))
        operators.Multimodal.resampleAudio(media, 16000)
          .select(col("media_id").as("doc_id"),
            col("src_rate").cast("long").as("src_rate"),
            col("src_frames").cast("long").as("src_frames"),
            col("rate").cast("long").as("rate"),
            col("n_frames").cast("long").as("n_frames"))
      },
      Some("""SELECT doc_id,
             |  CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS src_rate,
             |  CAST(100 + doc_id % 900 AS BIGINT) AS src_frames,
             |  CAST(16000 AS BIGINT) AS rate,
             |  CAST(((100 + doc_id % 900) * 16000)
             |       // (8000 * (1 + doc_id % 3)) AS BIGINT) AS n_frames
             |FROM documents""".stripMargin)),

    Q("q103_video_frame_sample",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // REAL video frame sampling over real AVI payloads — the
        // frame-extraction fan-out with DECODED bytes: every 2nd frame
        // of each clip materializes its RGB raster (q90's parser, but
        // emitting the sampled frames instead of a stream checksum).
        // The oracle replays the aviSpec geometry AND the stride
        // arithmetic (a lateral range() per clip), so the row grain
        // itself — which frames exist — is externally checked; the
        // raster bytes and per-frame checksums are spec-gated
        // (StreamingMultimodalSpec) since pixel hashes aren't
        // SQL-expressible. Stride 2 with frame counts 2..8 exercises
        // both parities of the last sampled index.
        implicit val ss = s
        operators.Multimodal.extractVideoFrames(
            operators.Multimodal.videosFromDocuments(tbl("documents")), 2)
          .select(col("media_id").as("doc_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("frame_idx").cast("long").as("frame_idx"))
      },
      Some("""SELECT doc_id,
             |  CAST(6 + doc_id % 11 AS BIGINT) AS width,
             |  CAST(4 + (doc_id // 11) % 9 AS BIGINT) AS height,
             |  CAST(2 + doc_id % 7 AS BIGINT) AS n_frames,
             |  CAST(u.f AS BIGINT) AS frame_idx
             |FROM documents,
             |  unnest(range(0, CAST(2 + doc_id % 7 AS BIGINT), 2)) AS u(f)""".stripMargin)),

    Q("q104_gopher_gate",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Gopher-style rule GATE (Rae et al. 2021 §A1.1) — the
        // accept/reject decision layer over the raw quality signals:
        // hard per-rule bounds, a doc fails if ANY rule fires, and
        // every rule's 0/1 flag is emitted alongside the conjunction
        // (corpus cards report per-rule failure fractions). Distinct
        // from q29 (a weighted composite SCORE) and q60 (the raw
        // repetition signals): this is the published decision
        // procedure. All metrics rounded before comparison, so no
        // threshold sits on an ulp; one narrow codegen'd projection,
        // zero shuffle.
        operators.Quality.gopherGate(
            tbl("documents"), "doc_id", "text", Stopwords)
          .withColumnRenamed("id", "doc_id")
      },
      Some(s"""WITH m AS (SELECT doc_id,
              |    string_split(lower(text), ' ') AS lw,
              |    len(string_split(text, ' ')) AS n_tok,
              |    length(replace(text, ' ', '')) AS n_ch
              |  FROM documents),
              |g2 AS (SELECT doc_id, len(lw) AS n_tok,
              |         unnest(list_transform(range(1, len(lw)),
              |           i -> concat_ws(' ', lw[i], lw[i+1]))) AS ng
              |       FROM m WHERE len(lw) >= 2),
              |c2 AS (SELECT doc_id, least(1.0, max(c * 2.0 / n_tok)) AS frac
              |       FROM (SELECT doc_id, n_tok, ng, count(*) AS c FROM g2
              |             GROUP BY doc_id, n_tok, ng)
              |       GROUP BY doc_id),
              |r AS (SELECT m.doc_id,
              |    CAST(m.n_tok AS BIGINT) AS n_words,
              |    round(CAST(m.n_ch AS DOUBLE) / m.n_tok, 6) AS mean_word_len,
              |    round(coalesce(c2.frac, 0.0), 6) AS top2_frac,
              |    round(CAST(m.n_tok - len(list_distinct(m.lw)) AS DOUBLE)
              |          / m.n_tok, 6) AS dup_frac,
              |    CAST(len(list_filter(m.lw, t -> t IN ($StopSql))) AS BIGINT)
              |      AS n_stop
              |  FROM m LEFT JOIN c2 ON m.doc_id = c2.doc_id)
              |SELECT doc_id, n_words, mean_word_len, top2_frac, dup_frac,
              |  n_stop,
              |  CAST(CASE WHEN n_words BETWEEN 30 AND 80
              |       THEN 1 ELSE 0 END AS BIGINT) AS r_words,
              |  CAST(CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0
              |       THEN 1 ELSE 0 END AS BIGINT) AS r_word_len,
              |  CAST(CASE WHEN n_stop >= 2
              |       THEN 1 ELSE 0 END AS BIGINT) AS r_stop,
              |  CAST(CASE WHEN top2_frac <= 0.1
              |       THEN 1 ELSE 0 END AS BIGINT) AS r_rep,
              |  CAST(CASE WHEN dup_frac <= 0.55
              |       THEN 1 ELSE 0 END AS BIGINT) AS r_dup,
              |  CAST(CASE WHEN n_words BETWEEN 30 AND 80
              |        AND mean_word_len BETWEEN 3.0 AND 10.0
              |        AND n_stop >= 2 AND top2_frac <= 0.1
              |        AND dup_frac <= 0.55
              |       THEN 1 ELSE 0 END AS BIGINT) AS passes
              |FROM r""".stripMargin)),

    Q("q105_perplexity_buckets",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CCNet-style perplexity bucketing (Wenzek et al. 2020): score
        // every doc under a corpus-trained unigram LM, split at the
        // corpus terciles — low perplexity = "head", the slice CCNet
        // keeps. The oracle retrains the SAME LM in SQL (count/total
        // over the same tokens) and replays the tercile quantiles over
        // the same rounded perplexities, so a wrong vocab count, a
        // dropped token, or a boundary off by one rank all hash-fail.
        // Unigram stands in for KenLM (no model artifacts here); the
        // train→score→bucket shape is the published pipeline.
        implicit val ss = s
        operators.Quality.perplexityBuckets(tbl("documents"), "doc_id", "text")
          .select(col("id").as("doc_id"), col("ppl"), col("bucket"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
             |tot AS (SELECT sum(cnt) AS total FROM v),
             |sc AS (SELECT doc_id,
             |    round(exp(-avg(ln(cnt / total))), 6) AS ppl
             |  FROM tok JOIN v USING (tok), tot GROUP BY doc_id),
             |b AS (SELECT quantile_cont(ppl, 1.0/3) AS t33,
             |             quantile_cont(ppl, 2.0/3) AS t66 FROM sc)
             |SELECT doc_id, ppl,
             |  CASE WHEN ppl <= t33 THEN 'head'
             |       WHEN ppl <= t66 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM sc, b""".stripMargin)),

    Q("q106_hybrid_rrf",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        import s.implicits._
        // HYBRID retrieval: reciprocal-rank fusion of the BM25 ranker
        // (q93's pipeline, same probe terms) and the embedding cosine
        // ranker (q26's, query vectors = the probes' embeddings) — the
        // standard sparse+dense combiner, and the hard-negative-mining
        // shape. The oracle replays BOTH rankers end-to-end AND the
        // fusion arithmetic, so a wrong rank on either side, a dropped
        // one-sided doc (the full-outer edge), or a fusion tie broken
        // by anything but doc_id all hash-fail. rrf is two fixed-order
        // IEEE divisions, rounded before the re-rank.
        val probes = Seq(
          (1L, Seq("hash", "filter", "customer")),
          (2L, Seq("Stream", "STREAM", "window")),
          (3L, Seq("training", "data", "quality"))
        ).toDF("query_id", "terms")
        val sparse = operators.Retrieval.bm25TopK(tbl("documents"),
          "doc_id", "text", probes, "query_id", "terms", k = 10)
        val emb = tbl("embeddings")
        val dense = Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id").isin(1L, 2L, 3L)),
            "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id").as("id"),
            col("rnk").as("rank"))
        operators.Retrieval.rrfFuse(sparse, dense, kRrf = 60, topK = 10)
          .select(col("query_id"), col("id").as("doc_id"),
            col("rrf"), col("rank"))
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |  (1, 'hash'), (1, 'filter'), (1, 'customer'),
             |  (2, 'stream'), (2, 'window'),
             |  (3, 'training'), (3, 'data'), (3, 'quality')),
             |p AS (SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             |  string_split(lower(text), ' ') AS w FROM documents),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
             |       FROM p),
             |tf AS (SELECT doc_id, dl, t AS term,
             |    CAST(count(*) AS DOUBLE) AS f
             |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM p)
             |  WHERE t IN (SELECT term FROM q)
             |  GROUP BY doc_id, dl, t),
             |idf AS (SELECT term,
             |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
             |  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
             |        FROM tf GROUP BY term), st),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |    round(sum(idf.idf * tf.f * 2.2 / (tf.f + 1.2 *
             |      (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
             |  FROM tf JOIN idf USING (term) JOIN q ON q.term = tf.term
             |  GROUP BY q.query_id, tf.doc_id),
             |sp AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS r
             |  FROM sc QUALIFY r <= 10),
             |qv AS (SELECT vec_id AS query_id,
             |    CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings WHERE vec_id IN (1, 2, 3)),
             |cv AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS v
             |       FROM embeddings),
             |dn AS (SELECT query_id, nid,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY list_cosine_similarity(qv.v, cv.v) DESC, nid) AS r
             |  FROM qv, cv WHERE nid <> query_id QUALIFY r <= 10),
             |f AS (SELECT coalesce(sp.query_id, dn.query_id) AS query_id,
             |    coalesce(sp.doc_id, dn.nid) AS doc_id,
             |    round(coalesce(1.0 / (60 + sp.r), 0)
             |        + coalesce(1.0 / (60 + dn.r), 0), 6) AS rrf
             |  FROM sp FULL JOIN dn
             |    ON sp.query_id = dn.query_id AND sp.doc_id = dn.nid)
             |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, rrf,
             |  CAST(row_number() OVER (PARTITION BY query_id
             |    ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
             |FROM f QUALIFY rank <= 10""".stripMargin)),

    Q("q107_bigram_perplexity",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // q105's CCNet recipe upgraded to the HIGHER-ORDER LM its
        // scaladoc promised: a corpus-trained bigram with
        // Jelinek-Mercer interpolation (λ=0.75, both interpolands
        // exact binary doubles). The oracle retrains BOTH models in
        // SQL — bigram counts, context totals, unigram backoff — and
        // replays the interpolation with the identical operand order,
        // so a wrong c(v,w), a context total derived from the wrong
        // side, a dropped first-token unigram term, or a tercile off
        // by one rank all hash-fail.
        implicit val ss = s
        operators.Quality.bigramPerplexityBuckets(
            tbl("documents"), "doc_id", "text")
          .select(col("id").as("doc_id"), col("ppl"), col("bucket"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             |  FROM documents),
             |tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
             |v AS (SELECT tok, count(*) AS c1 FROM tok GROUP BY tok),
             |tot AS (SELECT sum(c1) AS total FROM v),
             |bg AS (SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
             |  FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i
             |        FROM t)),
             |b2 AS (SELECT prev, cur, count(*) AS c2 FROM bg
             |       GROUP BY prev, cur),
             |cx AS (SELECT prev, sum(c2) AS cctx FROM b2 GROUP BY prev),
             |s2 AS (SELECT bg.doc_id,
             |    sum(-ln(0.75 * (c2 / cctx) + 0.25 * (c1 / total))) AS s2,
             |    count(*) AS n2
             |  FROM bg JOIN b2 USING (prev, cur) JOIN cx USING (prev)
             |    JOIN v ON v.tok = bg.cur, tot
             |  GROUP BY bg.doc_id),
             |s1 AS (SELECT f.doc_id, -ln(c1 / total) AS s1
             |  FROM (SELECT doc_id, w[1] AS tok FROM t) f
             |    JOIN v USING (tok), tot),
             |sc AS (SELECT s1.doc_id,
             |    round(exp((s1.s1 + coalesce(s2.s2, 0)) /
             |              (1 + coalesce(s2.n2, 0))), 6) AS ppl
             |  FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id),
             |b AS (SELECT quantile_cont(ppl, 1.0/3) AS t33,
             |             quantile_cont(ppl, 2.0/3) AS t66 FROM sc)
             |SELECT doc_id, ppl,
             |  CASE WHEN ppl <= t33 THEN 'head'
             |       WHEN ppl <= t66 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM sc, b""".stripMargin)),

    Q("q108_importance_select",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // DSIR importance resampling (Xie et al. 2023): pick the 50 raw
        // docs most target-like under hashed-ngram bag models, via
        // Gumbel-top-k on the importance weights — target = the English
        // slice, raw = the whole pool. The oracle retrains BOTH bucket
        // multinomials (same md5 buckets, same Laplace smoothing),
        // replays the per-occurrence log-ratio sum, the Gumbel coin,
        // and the top-k cut, so a wrong bucket count, a missed
        // smoothing term, a biased coin, or an off-by-one rank all
        // hash-fail.
        val docs = tbl("documents")
        operators.Selection.importanceSelect(docs,
            docs.filter(col("lang") === "en"), "doc_id", "text", k = 50)
          .select(col("id").as("doc_id"), col("logw"), col("gkey"),
            col("rank"))
      },
      Some("""WITH r AS (SELECT doc_id, lang,
             |    string_split(lower(text), ' ') AS w FROM documents),
             |f AS (SELECT doc_id, lang, unnest(w) AS f FROM r
             |      UNION ALL
             |      SELECT doc_id, lang, concat_ws(' ', w[i], w[i+1]) AS f
             |      FROM (SELECT doc_id, lang, w,
             |            unnest(range(1, len(w))) AS i FROM r)),
             |fb AS (SELECT doc_id, lang,
             |    ((strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 1, 1)) - 1) * 1048576
             |     + (strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 2, 1)) - 1) * 65536
             |     + (strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 3, 1)) - 1) * 4096
             |     + (strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 4, 1)) - 1) * 256
             |     + (strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 5, 1)) - 1) * 16
             |     + (strpos('0123456789abcdef',
             |        substr(md5(f || ':dsir'), 6, 1)) - 1)) % 256 AS b
             |  FROM f),
             |rb AS (SELECT b, count(*) AS cr FROM fb GROUP BY b),
             |tb AS (SELECT b, count(*) AS ct FROM fb WHERE lang = 'en'
             |       GROUP BY b),
             |nr AS (SELECT sum(cr) AS nr FROM rb),
             |nt AS (SELECT sum(ct) AS nt FROM tb),
             |lr AS (SELECT rb.b,
             |    ln((coalesce(ct, 0) + 1.0) / (nt + 256))
             |      - ln((cr + 1.0) / (nr + 256)) AS lr
             |  FROM rb LEFT JOIN tb USING (b), nt, nr),
             |sc AS (SELECT doc_id, round(sum(lr), 6) AS logw
             |  FROM fb JOIN lr USING (b) GROUP BY doc_id),
             |g AS (SELECT doc_id, logw, round(logw + (-ln(-ln(
             |    (((strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 1, 1)) - 1)
             |          * 1048576
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 2, 1)) - 1)
             |          * 65536
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 3, 1)) - 1)
             |          * 4096
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 4, 1)) - 1)
             |          * 256
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 5, 1)) - 1)
             |          * 16
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':dsir:g'), 6, 1)) - 1))
             |     + 0.5) / 16777216.0))), 6) AS gkey
             |  FROM sc)
             |SELECT doc_id, logw, gkey,
             |  CAST(row_number() OVER (ORDER BY gkey DESC, doc_id)
             |    AS BIGINT) AS rank
             |FROM g QUALIFY rank <= 50""".stripMargin)),

    Q("q109_waterfill_budget",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // UniMax water-filling (Chung et al. 2023): split a 30k-token
        // budget across languages as evenly as their 3-epoch caps
        // allow. The oracle replays the whole closed form — ascending
        // cap ranking, the prefix-closed saturation probe, the last
        // saturated rank s, θ = (budget − satSum)/(n − s) — so a wrong
        // cap, a saturation flag off by one, or a θ computed over the
        // wrong remainder all hash-fail.
        operators.Selection.waterFillBudget(tbl("documents"), "lang",
          graft.functions.Text.tokenCount(col("text")),
          budget = 30000L, maxEpochs = 3)
      },
      Some("""WITH g AS (SELECT lang,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |      AS group_tokens
             |  FROM documents GROUP BY lang),
             |c AS (SELECT lang, group_tokens,
             |    CAST(group_tokens * 3 AS BIGINT) AS cap FROM g),
             |n AS (SELECT count(*) AS n FROM c),
             |r AS (SELECT lang, group_tokens, cap,
             |    row_number() OVER (ORDER BY cap, lang) AS rn,
             |    CAST(sum(cap) OVER (ORDER BY cap, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS prefix
             |  FROM c),
             |f AS (SELECT r.*, n.n,
             |    cap * (n - rn + 1) <= 30000 - (prefix - cap) AS sat_here
             |  FROM r, n),
             |s AS (SELECT coalesce(max(CASE WHEN sat_here THEN rn END), 0)
             |        AS s FROM f),
             |ss AS (SELECT coalesce(max(CASE WHEN rn = s.s THEN prefix END),
             |         0) AS sat_sum FROM f, s),
             |a AS (SELECT lang, group_tokens, cap,
             |    round(CASE WHEN rn <= s.s THEN CAST(cap AS DOUBLE)
             |          ELSE (30000 - ss.sat_sum) / (n - s.s) END, 6) AS alloc
             |  FROM f, s, ss)
             |SELECT lang, group_tokens, cap, alloc,
             |  round(alloc / group_tokens, 6) AS epochs
             |FROM a""".stripMargin)),

    Q("q110_alloc_then_select",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the allocator feeding the selector — the REAL mixture
        // pipeline: q109's water-filled per-language token allocations
        // (floored to integer budgets) become each language's
        // selection budget, and each language keeps its longest-docs-
        // first prefix under that budget. The oracle replays the whole
        // chain — water level, floor, per-group prefix sums, the
        // inclusive boundary — so an alloc off by one token or a
        // budget joined onto the wrong group all hash-fail.
        val docs = tbl("documents")
        val budgets = operators.Selection.waterFillBudget(docs, "lang",
            graft.functions.Text.tokenCount(col("text")),
            budget = 30000L, maxEpochs = 3)
          .select(col("lang"), floor(col("alloc")).cast("long").as("budget"))
        operators.Selection.takeByBudgets(
            docs.select(col("doc_id"), col("lang"), col("n_chars"),
              graft.functions.Text.tokenCount(col("text")).as("n_tok")),
            "lang", Seq(col("n_chars").desc, col("doc_id")), col("n_tok"),
            budgets)
          .select(col("doc_id"), col("lang"), col("n_tok"),
            col("cum_cost"), col("budget"))
      },
      Some("""WITH g AS (SELECT lang,
             |    CAST(sum(len(string_split(text, ' '))) AS BIGINT)
             |      AS group_tokens
             |  FROM documents GROUP BY lang),
             |c AS (SELECT lang, group_tokens,
             |    CAST(group_tokens * 3 AS BIGINT) AS cap FROM g),
             |n AS (SELECT count(*) AS n FROM c),
             |r AS (SELECT lang, group_tokens, cap,
             |    row_number() OVER (ORDER BY cap, lang) AS rn,
             |    CAST(sum(cap) OVER (ORDER BY cap, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS prefix
             |  FROM c),
             |f AS (SELECT r.*, n.n,
             |    cap * (n - rn + 1) <= 30000 - (prefix - cap) AS sat_here
             |  FROM r, n),
             |s AS (SELECT coalesce(max(CASE WHEN sat_here THEN rn END), 0)
             |        AS s FROM f),
             |ss AS (SELECT coalesce(max(CASE WHEN rn = s.s THEN prefix END),
             |         0) AS sat_sum FROM f, s),
             |b AS (SELECT lang, CAST(floor(
             |    round(CASE WHEN rn <= s.s THEN CAST(cap AS DOUBLE)
             |          ELSE (30000 - ss.sat_sum) / (n - s.s) END, 6))
             |    AS BIGINT) AS budget
             |  FROM f, s, ss),
             |dd AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    n_chars
             |  FROM documents),
             |o AS (SELECT doc_id, lang, n_tok,
             |    CAST(sum(n_tok) OVER (PARTITION BY lang
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS BIGINT) AS cum_cost
             |  FROM dd)
             |SELECT doc_id, lang, n_tok, cum_cost, budget
             |FROM o JOIN b USING (lang) WHERE cum_cost <= budget""".stripMargin)),

    Q("q111_split_assign",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // deterministic 80/10/10 corpus split: every doc's md5 coin
        // against INTEGER thresholds on the 16^6 grid (13421773 =
        // round(0.8·16^6), 15099494 = round(0.9·16^6)) — no float ever
        // crosses an engine boundary. The oracle replays the hex
        // arithmetic and the same two integer cuts, so a biased digit,
        // a wrong threshold rounding, or a reordered when-chain all
        // hash-fail. Assignment is per-row content hash: growing the
        // corpus never reassigns an existing doc (eval stability).
        operators.Sampling.assignSplit(tbl("documents"), col("doc_id"),
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select(col("doc_id"), col("lang"), col("split"))
      },
      Some("""WITH v AS (SELECT doc_id, lang,
             |    ((strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 1, 1)) - 1)
             |          * 1048576
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 2, 1)) - 1)
             |          * 65536
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 3, 1)) - 1)
             |          * 4096
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 4, 1)) - 1)
             |          * 256
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 5, 1)) - 1)
             |          * 16
             |     + (strpos('0123456789abcdef',
             |        substr(md5(doc_id::VARCHAR || ':split'), 6, 1)) - 1))
             |      AS v
             |  FROM documents)
             |SELECT doc_id, lang,
             |  CASE WHEN v < 13421773 THEN 'train'
             |       WHEN v < 15099494 THEN 'val'
             |       ELSE 'test' END AS split
             |FROM v""".stripMargin)),

    Q("q112_heavy_hitters",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // top-20 tokens via per-partition Misra-Gries sketches + exact
        // recount of the candidate union. The result is EXACT (not an
        // estimate) whenever the 20th true count clears N/(m+1) — at
        // m=4096 that's a ~0.024% frequency floor, orders under the
        // observed 20th share at every test SF — so the oracle can
        // demand the true top-20 outright: a sketch that evicts a real
        // hitter, a candidate set that misses a partition, or a
        // recount that isn't exact all hash-fail. The `exact` flag is
        // the guarantee's precondition checked at RUNTIME (k-th count
        // clears N/(m+1)); the oracle recomputes it from true counts,
        // so a flag that lies about the regime hash-fails too.
        operators.Frequency.heavyHitters(tbl("documents"), "text",
          m = 4096, k = 20)
      },
      Some("""WITH t AS (SELECT
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |n AS (SELECT count(*) AS n FROM t),
             |c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
             |top AS (SELECT tok, cnt,
             |    CAST(row_number() OVER (ORDER BY cnt DESC, tok)
             |      AS BIGINT) AS rank
             |  FROM c QUALIFY rank <= 20)
             |SELECT tok, cnt, rank,
             |  CAST(CASE WHEN (SELECT min(cnt) FROM top) * 4097
             |         > (SELECT n FROM n) THEN 1 ELSE 0 END
             |    AS BIGINT) AS exact
             |FROM top""".stripMargin)),

    Q("q113_embedding_decontam",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // dense decontamination: flag corpus vectors within cosine 0.95
        // of a held-out eval set — here planted ×2-scaled copies of
        // every 101st vector (float ×2 is an exponent bump: cosine with
        // the original is exactly 1.0, hit on BOTH engines' arithmetic,
        // and always LSH-found since every sign bit matches). The
        // oracle recomputes exact all-pairs cosine against the same
        // eval set, so a missed band join, a wrong verify threshold, or
        // a flag joined onto the wrong row all hash-fail. Fixture
        // measured: max NATURAL corpus-eval cosine ≈ 0.47 at sf0.01/0.1
        // — no pair sits near the 0.95 boundary, so LSH recall vs the
        // oracle's exact scan cannot diverge (the q79 epsilon-gap
        // discipline).
        val emb = tbl("embeddings")
        val evalSet = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        operators.Dedup.embeddingDecontaminate(emb, evalSet,
            "vec_id", "embedding", threshold = 0.95)
          .select(col("vec_id"), col("label").cast("long").as("label"),
            col("contaminated"))
      },
      Some("""WITH ev AS (SELECT vec_id + 1000000 AS eval_id,
             |    CAST(list_transform(embedding, x -> x * 2) AS DOUBLE[])
             |      AS ev
             |  FROM embeddings WHERE vec_id % 101 = 0),
             |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
             |      FROM embeddings),
             |hits AS (SELECT DISTINCT c.vec_id FROM c, ev
             |  WHERE list_cosine_similarity(c.v, ev.ev) >= 0.95)
             |SELECT c.vec_id, CAST(c.label AS BIGINT) AS label,
             |  CAST(CASE WHEN h.vec_id IS NULL THEN 0 ELSE 1 END
             |    AS BIGINT) AS contaminated
             |FROM c LEFT JOIN hits h ON c.vec_id = h.vec_id""".stripMargin)),

    Q("q114_kn_trigram_perplexity",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the KenLM-class top of the perplexity-bucketing hierarchy
        // (q105 unigram → q107 bigram JM → interpolated Kneser-Ney
        // trigram, D=0.75). The oracle retrains the ENTIRE model in
        // SQL — trigram types, both continuation-count margins, both
        // context totals — and replays the two-level interpolation
        // with identical operand order, so a raw-frequency count where
        // a continuation count belongs (the KN-defining distinction),
        // a wrong margin, a dropped discount, a missed unseen-guard at
        // positions 1-2, or a tercile off by one rank all hash-fail.
        implicit val ss = s
        operators.Quality.knTrigramPerplexityBuckets(
            tbl("documents"), "doc_id", "text")
          .select(col("id").as("doc_id"), col("ppl"), col("bucket"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w
             |  FROM documents),
             |tri AS (SELECT doc_id, w[i] AS u, w[i+1] AS v, w[i+2] AS wd
             |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
             |        FROM t)),
             |t3 AS (SELECT u, v, wd, count(*) AS c3 FROM tri
             |       GROUP BY u, v, wd),
             |cx3 AS (SELECT u, v, sum(c3) AS cuv, count(*) AS n3 FROM t3
             |        GROUP BY u, v),
             |cb AS (SELECT v, wd, count(*) AS cbw FROM t3 GROUP BY v, wd),
             |cx2 AS (SELECT v, sum(cbw) AS scv, count(*) AS n2 FROM cb
             |        GROUP BY v),
             |cu AS (SELECT wd, count(*) AS cw FROM cb GROUP BY wd),
             |tt AS (SELECT count(*) AS tt FROM cb),
             |s3 AS (SELECT tri.doc_id,
             |    sum(-ln(greatest(c3 - 0.75, 0) / cuv
             |        + ((0.75 * n3) / cuv)
             |          * (greatest(cbw - 0.75, 0) / scv
             |             + ((0.75 * n2) / scv) * (cw / tt.tt)))) AS s3,
             |    count(*) AS n3cnt
             |  FROM tri JOIN t3 USING (u, v, wd) JOIN cx3 USING (u, v)
             |    JOIN cb USING (v, wd) JOIN cx2 USING (v)
             |    JOIN cu USING (wd), tt
             |  GROUP BY tri.doc_id),
             |s2 AS (SELECT f.doc_id,
             |    -ln(CASE WHEN scv IS NULL THEN coalesce(cw, 0.5) / tt.tt
             |        ELSE greatest(coalesce(cbw, 0) - 0.75, 0) / scv
             |          + ((0.75 * n2) / scv)
             |            * (coalesce(cw, 0.5) / tt.tt) END) AS s2
             |  FROM (SELECT doc_id, w[1] AS v, w[2] AS wd FROM t
             |        WHERE len(w) >= 2) f
             |    LEFT JOIN cb USING (v, wd) LEFT JOIN cx2 USING (v)
             |    LEFT JOIN cu USING (wd), tt),
             |s1 AS (SELECT f.doc_id,
             |    -ln(coalesce(cw, 0.5) / tt.tt) AS s1
             |  FROM (SELECT doc_id, w[1] AS wd FROM t) f
             |    LEFT JOIN cu USING (wd), tt),
             |sc AS (SELECT s1.doc_id,
             |    round(exp((s1.s1 + coalesce(s2.s2, 0) + coalesce(s3.s3, 0))
             |        / (1 + CASE WHEN s2.s2 IS NULL THEN 0 ELSE 1 END
             |             + coalesce(s3.n3cnt, 0))), 6) AS ppl
             |  FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id
             |    LEFT JOIN s3 ON s1.doc_id = s3.doc_id),
             |b AS (SELECT quantile_cont(ppl, 1.0/3) AS t33,
             |             quantile_cont(ppl, 2.0/3) AS t66 FROM sc)
             |SELECT doc_id, ppl,
             |  CASE WHEN ppl <= t33 THEN 'head'
             |       WHEN ppl <= t66 THEN 'middle'
             |       ELSE 'tail' END AS bucket
             |FROM sc, b""".stripMargin)),

    Q("q115_mjpeg_decode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // COMPRESSED video decode end-to-end: synthesize real
        // motion-JPEG AVIs (RIFF container, 'MJPG' codec, one complete
        // JFIF payload per '00dc' chunk, geometry deterministic from
        // doc_id) and decode genuine width/height/frame-count back —
        // the RIFF walker yields each frame chunk and the JDK JPEG
        // codec decodes it, rejecting any frame whose geometry
        // contradicts the strf header. The oracle recomputes the
        // arithmetic in SQL; frame counts only emerge from actually
        // walking variable-size chunks (no fixed stride to infer
        // from), so a stub or a walker that skips chunks cannot pass.
        // The q90 recipe on the compressed-codec path — decodeStub's
        // video domain is now genuinely exotic codecs only.
        operators.Multimodal.extractFeatures(
            operators.Multimodal.mjpegVideosFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("channels").cast("long").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(8 + doc_id % 9 AS BIGINT) AS width,
             |CAST(6 + (doc_id // 9) % 7 AS BIGINT) AS height,
             |CAST(1 + doc_id % 5 AS BIGINT) AS n_frames,
             |CAST(3 AS BIGINT) AS channels
             |FROM documents""".stripMargin)),

    Q("q116_countmin_freq",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Count-Min point-frequency estimates (4×1024 sketch) probed at
        // the exact top-30 tokens, next to their exact counts. The
        // sketch is DETERMINISTIC (cells through the md5-hex6 coin), so
        // the oracle rebuilds the identical 4096 counters in SQL and
        // replays every estimate exactly — a wrong cell address, a lost
        // counter, or a min over the wrong row set all hash-fail; the
        // CMS overestimate guarantee (est ≥ cnt always) is visible in
        // the oracle-checked `overcount ≥ 0` column rather than
        // asserted blind.
        val docs = tbl("documents")
        val sketch = operators.Frequency.countMinBuild(docs, "text",
          depth = 4, width = 1024)
        val toks = docs.select(explode(
          Text.tokens(lower(col("text")))).as("tok"))
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(30)
        val est = operators.Frequency.countMinEstimate(sketch, exact, "tok",
          depth = 4, width = 1024)
        exact.join(est, Seq("tok"))
          .select(col("tok"), col("cnt"), col("est"),
            (col("est") - col("cnt")).as("overcount"))
      },
      Some {
        val build = (0 until 4).map { sd =>
          s"""SELECT $sd AS seed, (${uTerms("h")}) % 1024 AS bucket
             |  FROM (SELECT md5(tok || ':cms$sd') AS h FROM t)""".stripMargin
        }.mkString("\n  UNION ALL ")
        val probe = (0 until 4).map { sd =>
          s"""SELECT tok, $sd AS seed, (${uTerms("h")}) % 1024 AS bucket
             |  FROM (SELECT tok, md5(tok || ':cms$sd') AS h FROM ex)""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
           |  FROM documents),
           |ex AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok
           |       ORDER BY cnt DESC, tok LIMIT 30),
           |cell AS (SELECT seed, bucket, count(*) AS scnt
           |  FROM ($build) GROUP BY seed, bucket),
           |qc AS ($probe),
           |est AS (SELECT tok, min(scnt) AS est FROM qc
           |        JOIN cell USING (seed, bucket) GROUP BY tok)
           |SELECT ex.tok, ex.cnt, est.est, est.est - ex.cnt AS overcount
           |FROM ex JOIN est USING (tok)""".stripMargin
      }),

    Q("q117_weighted_sample",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // weighted sampling WITHOUT replacement (Efraimidis-Spirakis):
        // top-10 docs per language by key u^(1/w), w = token count —
        // token-budget-fair sampling. u replays exactly cross-engine
        // (open md5 coin, exact binary doubles); pow agrees to ≤ 1 ulp
        // and distinct coins on the 6e-8 grid keep key gaps orders
        // above ulp, so the oracle reproduces the EXACT sample and
        // ranks — a wrong key transform, a closed-endpoint coin, or a
        // with-replacement scheme all hash-fail.
        val docs = tbl("documents")
          .withColumn("w", size(Text.tokens(lower(col("text")))).cast("double"))
        operators.Sampling.weightedSampleTopK(docs, "doc_id", "lang",
            col("w"), k = 10)
          .select(col("doc_id"), col("lang"), col("rank"))
      },
      Some(AesTop10Sql)),

    Q("q118_semantic_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // SemDeDup: cluster-then-prune semantic dedup over planted
        // ×2-scaled copies of every 101st vector. Scaling by a power of
        // two is EXACT per float op and cosine is scale-invariant under
        // it bit-for-bit, so a planted copy lands in its original's
        // cluster (identical centroid similarities, identical
        // tie-break) with intra-cluster cosine exactly 1.0 — pruned
        // with certainty, no LSH/threshold flakiness. Natural pairwise
        // cosines top out ≈ 0.47 on this fixture (q113 margin
        // discipline), far under τ=0.95, so the dup set must be
        // EXACTLY the planted ids: all three flags are sharp. Checked
        // in-plan (k-means cells aren't SQL-replayable — the q46
        // pattern): every planted row pruned, nothing else pruned, one
        // output row per input.
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val planted = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        val all = emb.unionByName(planted)
        val cents = Similarity.trainCentroidsKMeans(all, "vec_id", "embedding",
          dim = 64, cells = 8, iters = 2)
        val dd = Dedup.semanticDedup(all, "vec_id", "embedding", cents,
          threshold = 0.95)
        val stats = dd.agg(
          sum(when(col("vec_id") >= 1000000L, col("semdup"))
            .otherwise(lit(0L))).as("planted_dup"),
          sum(when(col("vec_id") >= 1000000L, lit(1L))
            .otherwise(lit(0L))).as("n_planted"),
          sum(col("semdup")).as("n_dup"),
          count(lit(1)).as("n_rows"))
        stats.crossJoin(broadcast(emb.agg(count(lit(1)).as("n_corpus"))))
          .select(
            Clean.flag(col("planted_dup") === col("n_planted")).as("planted_pruned_ok"),
            Clean.flag(col("n_dup") === col("n_planted")).as("only_planted_ok"),
            Clean.flag(col("n_rows") === col("n_corpus") + col("n_planted")).as("rows_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS planted_pruned_ok,
             |CAST(1 AS BIGINT) AS only_planted_ok,
             |CAST(1 AS BIGINT) AS rows_ok""".stripMargin)),

    Q("q119_embedding_gram",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // upper-triangle Gram matrix of the embedding corpus — the
        // second-moment input to PCA/whitening. The oracle recomputes
        // every Σ x_i·x_j from the same doubles; float sum order
        // differs across engines/partitionings by ~1e-13 relative, so
        // entries round to 4 decimals (the cosine discipline). A
        // dropped row, a transposed index, or a 1-based off-by-one all
        // hash-fail on 2,080 checked cells.
        operators.Embeddings.gram(tbl("embeddings"), "embedding")
          .select(col("i"), col("j"), round(col("g"), 4).as("g"))
      },
      Some("""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v
             |  FROM embeddings),
             |a AS (SELECT v, unnest(range(1, len(v) + 1)) AS i FROM e),
             |b AS (SELECT i, v, unnest(range(1, len(v) + 1)) AS j FROM a),
             |g AS (SELECT i, j, sum(v[i] * v[j]) AS g FROM b
             |      WHERE j >= i GROUP BY i, j)
             |SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
             |  round(g, 4) AS g
             |FROM g""".stripMargin)),

    Q("q120_pca_project",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // PCA (top-8 of 64 dims): one distributed Gram+mean pass, a
        // driver Jacobi eigensolve (dim×dim model params — the IVF
        // centroid division of labor), then a narrow literal-matrix
        // projection. The eigensolve isn't SQL-replayable, so the
        // oracle checks PCA's DEFINING invariants in-plan (q46
        // pattern), each sharp enough that a wrong eigensolver fails:
        // the variance of projection c must equal eigenvalue c (to
        // float noise — THE eigenpair property), variances must
        // descend, and distinct projections must be uncorrelated.
        val emb = tbl("embeddings")
        val model = operators.Embeddings.pcaFit(emb, "embedding", p = 8)
        val proj = operators.Embeddings.pcaProject(emb, "embedding", model)
        val vars = (0 until 8).map(c =>
          var_pop(element_at(col("pc"), c + 1)).as(s"v$c"))
        val covs = for (a <- 0 until 8; b <- a + 1 until 8) yield
          covar_pop(element_at(col("pc"), a + 1),
            element_at(col("pc"), b + 1)).as(s"c${a}_$b")
        val agg = proj.agg(vars.head, (vars.tail ++ covs): _*)
        val eigOk = (0 until 8).map(c =>
          abs(col(s"v$c") - lit(model.eigenvalues(c))) <=
            lit(1e-6) * greatest(lit(model.eigenvalues(c)), lit(1e-9)))
          .reduce(_ && _)
        val orderOk = (0 until 7).map(c =>
          col(s"v$c") >= col(s"v${c + 1}") - lit(1e-9)).reduce(_ && _)
        val orthOk = (for (a <- 0 until 8; b <- a + 1 until 8) yield
          abs(col(s"c${a}_$b")) <=
            lit(1e-6) * sqrt(col(s"v$a") * col(s"v$b")) + lit(1e-9))
          .reduce(_ && _)
        agg.select(Clean.flag(eigOk).as("eig_ok"),
          Clean.flag(orderOk).as("order_ok"),
          Clean.flag(orthOk).as("orth_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS eig_ok,
             |CAST(1 AS BIGINT) AS order_ok,
             |CAST(1 AS BIGINT) AS orth_ok""".stripMargin)),

    Q("q121_pq_ann",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Product quantization ANN (Jégou et al. 2011): per-subspace L2
        // Lloyd codebooks, map-only m-code encoding, per-query LUT +
        // m-add ADC ranking — the memory-bound 100 TB ANN path (m small
        // ints per vector instead of dim floats). The codebook isn't
        // SQL-replayable, so the oracle checks PQ's DEFINING invariants
        // in-plan (the q46/q120 pattern), each sharp against a specific
        // break: Lloyd error must be non-increasing (wrong assign/update
        // step fails); for a planted exact twin of a corpus vector, the
        // ADC top-1 distance must equal the query's own quantization
        // error bit-for-bit (encode picks the per-subspace argmin, so
        // Σ_j min_c lut_j[c] is the global ADC minimum and the twin
        // attains it — a wrong LUT layout, a cosine/L2 mix-up, or a
        // broken tie-break all fail); and every corpus row must encode
        // to exactly m in-range codes.
        val emb = tbl("embeddings")
        val (model, errs) = Similarity.pqTrain(emb, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 2)
        val monotone = errs.sliding(2).forall(p => p(1) <= p(0) + 1e-9)
        val twins = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val top1 = Similarity.pqTopK(emb, twins, "vec_id", "embedding",
          model, k = 1)
        val selfErr = Similarity.pqEncode(twins, "embedding", model)
          .select(col("vec_id").as("query_id"),
            graft.plans.exprs.pqAdc(col("codes"),
              graft.plans.exprs.pqLut(graft.functions.Vectors.toDouble(col("embedding")),
                model.codebooks, model.m, model.ksub), model.ksub).as("self_adc"))
        val perQuery = top1.join(selfErr, Seq("query_id"))
        val codes = Similarity.pqEncode(emb, "embedding", model)
        val codeStats = codes.agg(
          min(size(col("codes"))).as("min_len"), max(size(col("codes"))).as("max_len"),
          min(array_min(col("codes"))).as("min_code"),
          max(array_max(col("codes"))).as("max_code"))
        val qStats = perQuery.agg(
          count(lit(1)).as("n_q"),
          sum(when(col("adc") === col("self_adc"), lit(0L)).otherwise(lit(1L)))
            .as("n_bad"))
        val expected = emb.filter(col("vec_id") % 101 === 0)
          .agg(count(lit(1)).as("n_twins"))
        qStats.crossJoin(broadcast(codeStats)).crossJoin(broadcast(expected))
          .select(
            Clean.flag(lit(monotone)).as("train_monotone_ok"),
            Clean.flag(col("n_bad") === 0 && col("n_q") === col("n_twins") &&
              col("n_q") > 0).as("twin_top1_ok"),
            Clean.flag(col("min_len") === 8 && col("max_len") === 8 &&
              col("min_code") >= 0 && col("max_code") < 16).as("codes_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS train_monotone_ok,
             |CAST(1 AS BIGINT) AS twin_top1_ok,
             |CAST(1 AS BIGINT) AS codes_ok""".stripMargin)),

    Q("q122_bloom_decontam",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Bloom-filter decontamination screen: the eval set's 8-gram
        // shingles compress to a fixed 128 KB bit array (6 md5-hex6
        // coins, 2^20 bits) and the training corpus is screened by a
        // narrow bit-probe — zero corpus-side joins or n-gram shuffles,
        // the scale path q59's exact inverted index can't offer. The
        // coin is the package-wide md5-hex6 recipe, so the oracle
        // rebuilds the IDENTICAL bit set in SQL and replays every
        // verdict exactly — false positives included (a doc flagged by
        // bloom but absent from the exact join is CORRECT bloom
        // behavior, and hash-checked as such). exact_hit=1 ⇒
        // bloom_hit=1 rows double as the no-false-negative guarantee.
        val docs = tbl("documents")
        val train = docs.filter(col("doc_id") % 7 =!= 0)
        val evalSet = docs.filter(col("doc_id") % 7 === 0)
        val evalSh = evalSet.select(explode(graft.plans.exprs.wordShingles(
          lower(col("text")), 8)).as("ng")).distinct()
        // 2^20 bits: the eval side is ~34k distinct shingles at sf0.1 →
        // fill ≈ 0.18, per-8-gram FP ≈ 3e-5 — and the bitmap literal
        // shipped in the task binary is 128 KB instead of 2 MB
        val mBits = 1 << 20
        val bitmap = operators.Bloom.buildBitmap(evalSh, "ng", mBits, kHashes = 6)
        val screened = operators.Bloom.screen(train, "doc_id", "text",
          bitmap, mBits, kHashes = 6, shingleLen = 8)
        val exact = train.select(col("doc_id"),
            explode(graft.plans.exprs.wordShingles(lower(col("text")), 8)).as("ng"))
          .join(broadcast(evalSh), Seq("ng"), "left_semi")
          .select("doc_id").distinct()
          .withColumn("__exact", lit(1L))
        screened.join(exact, Seq("doc_id"), "left")
          .select(col("doc_id"), col("bloom_hit"),
            coalesce(col("__exact"), lit(0L)).as("exact_hit"),
            when(col("bloom_hit") === 1L && col("__exact").isNull, 1L)
              .otherwise(0L).as("false_pos"))
      },
      Some {
        s"""$BloomScreenCtes,
           |hit AS (SELECT doc_id, ng FROM tp JOIN bits USING (pos)
           |        GROUP BY doc_id, ng HAVING count(*) = 6),
           |bloom AS (SELECT w.doc_id,
           |    CAST(CASE WHEN count(h.ng) > 0 THEN 1 ELSE 0 END AS BIGINT)
           |      AS bloom_hit
           |  FROM w LEFT JOIN hit h ON w.doc_id = h.doc_id
           |  WHERE w.doc_id % 7 <> 0 GROUP BY w.doc_id),
           |ex AS (SELECT DISTINCT tn.doc_id FROM tn JOIN e USING (ng))
           |SELECT b.doc_id, b.bloom_hit,
           |  CAST(CASE WHEN ex.doc_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
           |    AS exact_hit,
           |  CAST(CASE WHEN b.bloom_hit = 1 AND ex.doc_id IS NULL
           |       THEN 1 ELSE 0 END AS BIGINT) AS false_pos
           |FROM bloom b LEFT JOIN ex ON b.doc_id = ex.doc_id""".stripMargin
      }),

    Q("q123_ivfpq_ann",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // IVF-PQ (Jégou et al. 2011 IVFADC): coarse cell routing + PQ
        // codes in one zero-exchange projection, broadcast probes,
        // ADC ranking over only the probed cells' m-byte codes. Like
        // q121 the models aren't SQL-replayable, so the oracle checks
        // the composition's DEFINING exactness contracts in-plan:
        // (a) at nProbe = cells IVF-PQ must equal plain PQ top-k
        // ROW-FOR-ROW (identical candidates → identical ADC and
        // tie-breaks — any routing loss, dropped cell, or probe-side
        // LUT drift fails); (b) an exact-twin query is recalled at
        // nProbe=1 with ADC equal to its own quantization error (the
        // twin routes to its original's cell by argmax determinism);
        // (c) the nProbe=1 candidate set is a strict reduction
        // (Σ_q |cell(q)| < |corpus|·|queries| requires ≥2 populated
        // cells — the index actually partitions).
        val emb = tbl("embeddings")
        val (model, _) = Similarity.pqTrain(emb, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 2)
        val cents = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding",
          dim = 64, cells = 8, iters = 2)
        val twins = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        // (a) full-probe equivalence, k=5
        val full = Similarity.ivfPqTopK(emb, twins, cents, "vec_id", "embedding",
          model, k = 5, nProbe = 8)
        val pq = Similarity.pqTopK(emb, twins, "vec_id", "embedding", model, k = 5)
        val eqStats = full.withColumnRenamed("neighbor_id", "n_ivf")
          .withColumnRenamed("adc", "adc_ivf")
          .join(pq.withColumnRenamed("neighbor_id", "n_pq")
            .withColumnRenamed("adc", "adc_pq"), Seq("query_id", "rnk"), "full")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_ivf") === col("n_pq") &&
              col("adc_ivf") === col("adc_pq"), lit(0L)).otherwise(lit(1L)))
              .as("n_diff"))
        // (b) twin recall at nProbe = 1
        val p1 = Similarity.ivfPqTopK(emb, twins, cents, "vec_id", "embedding",
          model, k = 1, nProbe = 1)
        val selfErr = Similarity.pqEncode(twins, "embedding", model)
          .select(col("vec_id").as("query_id"),
            graft.plans.exprs.pqAdc(col("codes"),
              graft.plans.exprs.pqLut(graft.functions.Vectors.toDouble(col("embedding")),
                model.codebooks, model.m, model.ksub), model.ksub).as("self_adc"))
        val recallStats = p1.join(selfErr, Seq("query_id"))
          .agg(count(lit(1)).as("n_p1"),
            sum(when(col("adc") === col("self_adc"), lit(0L)).otherwise(lit(1L)))
              .as("n_missed"))
        val nTwins = emb.filter(col("vec_id") % 101 === 0)
          .agg(count(lit(1)).as("n_twins"))
        // (c) probe reduction: Σ_q |cell(q)| vs |corpus|·|queries|
        val cs = Similarity.collectCentroids(cents)
        val cellSizes = Similarity.assignCells(
            emb.select(col("embedding").as("__v")), "__v", cs)
          .groupBy("cell_id").agg(count(lit(1)).as("cell_n"))
        val probedSize = Similarity.assignCells(
            twins.select(col("vec_id").as("query_id"), col("embedding").as("__v")),
            "__v", cs)
          .join(broadcast(cellSizes), Seq("cell_id"))
          .agg(sum(col("cell_n")).as("probed"), count(lit(1)).as("n_q"))
        val corpusN = emb.agg(count(lit(1)).as("n_corpus"))
        eqStats.crossJoin(broadcast(recallStats))
          .crossJoin(broadcast(nTwins))
          .crossJoin(broadcast(probedSize))
          .crossJoin(broadcast(corpusN))
          .select(
            Clean.flag(col("n_diff") === 0 && col("n_rows") > 0)
              .as("full_probe_eq_pq"),
            Clean.flag(col("n_missed") === 0 && col("n_p1") === col("n_twins") &&
              col("n_p1") > 0).as("twin_recall_p1"),
            Clean.flag(col("probed") < col("n_corpus") * col("n_q"))
              .as("probe_reduction"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS full_probe_eq_pq,
             |CAST(1 AS BIGINT) AS twin_recall_p1,
             |CAST(1 AS BIGINT) AS probe_reduction""".stripMargin)),

    Q("q124_cdc_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // content-defined chunk dedup: boundaries fire where a per-token
        // md5 coin lands on 0 (P = 1/8 exactly — 16^6 divisible by 8),
        // so chunk edges travel WITH the content and survive insertions
        // that break q95's fixed-width blocks (shift-robustness is
        // property-tested in PqBloomSpec). First occurrence by (id, pos)
        // survives; matching is case-insensitive, rebuild case-
        // preserving. The oracle replays the coin digit-for-digit, the
        // running-boundary chunk ids, the md5 chunk keys, the winner
        // rule and the rebuild — chunk content, counts and cleaned text
        // all under hash.
        operators.Dedup.cdcChunkDedup(tbl("documents"), "doc_id", "text",
            avgChunkTokens = 8)
          .select(col("id").as("doc_id"), col("n_chunks"), col("n_dropped"),
            col("n_tok_clean"), col("text_clean"))
      },
      Some {
        val uT = uTerms("h")
        s"""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS tl,
           |    string_split(text, ' ') AS t FROM documents),
           |tr AS (SELECT doc_id, tl, t, unnest(range(1, len(tl) + 1)) AS i
           |       FROM tok),
           |b AS (SELECT doc_id, i, tl[i] AS wl, t[i] AS w,
           |    CASE WHEN ($uT) % 8 = 0 THEN 1 ELSE 0 END AS bd
           |  FROM (SELECT doc_id, i, tl, t, md5(tl[i] || ':cdc') AS h FROM tr)),
           |cid AS (SELECT doc_id, i, wl, w,
           |    COALESCE(SUM(bd) OVER (PARTITION BY doc_id ORDER BY i
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pos
           |  FROM b),
           |ch AS (SELECT doc_id, pos,
           |    md5(string_agg(wl, ' ' ORDER BY i)) AS key,
           |    string_agg(w, ' ' ORDER BY i) AS orig,
           |    count(*) AS cnt
           |  FROM cid GROUP BY doc_id, pos),
           |win AS (SELECT key, min(ROW(doc_id, pos)) AS wk
           |        FROM ch GROUP BY key),
           |keep AS (SELECT ch.*,
           |    CASE WHEN ROW(ch.doc_id, ch.pos) = w.wk THEN 1 ELSE 0 END AS k
           |  FROM ch JOIN win w USING (key))
           |SELECT doc_id,
           |  CAST(count(*) AS BIGINT) AS n_chunks,
           |  CAST(sum(1 - k) AS BIGINT) AS n_dropped,
           |  CAST(COALESCE(sum(cnt) FILTER (WHERE k = 1), 0) AS BIGINT)
           |    AS n_tok_clean,
           |  COALESCE(string_agg(orig, ' ' ORDER BY pos)
           |    FILTER (WHERE k = 1), '') AS text_clean
           |FROM keep GROUP BY doc_id""".stripMargin
      }),

    Q("q125_keep_best_dedup",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // keep-BEST dedup: q57's transitive clusters + q29's quality
        // score composed into the survivor rule production curation
        // actually uses — the highest-quality doc of each near-dup
        // cluster survives (ties → smaller id), singletons survive
        // trivially. Scores are rounded to 6 BEFORE ranking on both
        // engines (the cross-engine tie-order discipline); the oracle
        // replays clustering, scoring, and the argmax rule.
        val docs = tbl("documents")
        val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
          threshold = 0.6, shingleLen = 3)
        val labels = Dedup.connectedComponents(pairs)
          .withColumnRenamed("id", "doc_id")
        val scored = docs.select(col("doc_id"),
          round(Text.qualityScore(col("text"), Stopwords), 6).as("q"))
        val labeled = scored.join(labels, Seq("doc_id"), "left")
          .withColumn("rep", coalesce(col("rep"), col("doc_id")))
        Dedup.keepBestByCluster(labeled, "doc_id", "rep", "q")
          .select(col("doc_id"), col("rep"), col("survivor_id"), col("kept"))
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM t a JOIN t b ON a.doc_id < b.doc_id
              |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) >= 0.6),
              |e AS (SELECT id_a AS u, id_b AS v FROM p
              |      UNION ALL SELECT id_b, id_a FROM p),
              |cc(id, lab) AS (
              |  SELECT u, u FROM e
              |  UNION
              |  SELECT e.u, cc.lab FROM e JOIN cc ON cc.id = e.v),
              |lab AS (SELECT id, min(lab) AS rep FROM cc GROUP BY id),
              |m AS (SELECT doc_id,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '), t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS n_nopunct
              |  FROM documents),
              |sc AS (SELECT doc_id, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5, 1.0) * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS q FROM m),
              |j AS (SELECT d.doc_id, COALESCE(lab.rep, d.doc_id) AS rep, sc.q
              |      FROM documents d LEFT JOIN lab ON d.doc_id = lab.id
              |      JOIN sc ON d.doc_id = sc.doc_id)
              |SELECT doc_id, CAST(rep AS BIGINT) AS rep,
              |  CAST(first_value(doc_id) OVER (PARTITION BY rep
              |    ORDER BY q DESC, doc_id) AS BIGINT) AS survivor_id,
              |  CAST(CASE WHEN doc_id = first_value(doc_id) OVER (PARTITION BY rep
              |    ORDER BY q DESC, doc_id) THEN 1 ELSE 0 END AS BIGINT) AS kept
              |FROM j""".stripMargin)),

    Q("q126_exact_stratified_take",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // EXACT stratified sampling, largest-remainder allocation: select
        // round(0.1·N) docs TOTAL with per-language quotas floor(0.1·n_g)
        // plus remainder seats to the largest fractional parts (ties →
        // stratum order) — eval-set carving where the row count is a
        // CONTRACT, not a coin-flip expectation (q52/q111's regime).
        // Within a stratum the md5 coin picks which rows, content-stable
        // under partitioning and corpus layout. The oracle replays the
        // allocation arithmetic (identical IEEE products both engines),
        // the remainder ranking, the coin and the tie-breaks — the exact
        // selected set and ranks are under hash.
        operators.Sampling.exactStratifiedTake(
            tbl("documents"), "doc_id", "lang", frac = 0.1)
          .select(col("doc_id"), col("lang"), col("rnk"))
      },
      Some {
        val uT = uTerms("h")
        s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
           |t AS (SELECT lang, n, floor(0.1 * n) AS fl, 0.1 * n - floor(0.1 * n) AS rem,
           |    CAST(round(0.1 * sum(n) OVER ()) AS BIGINT) AS target,
           |    sum(floor(0.1 * n)) OVER () AS sumfl,
           |    row_number() OVER (ORDER BY 0.1 * n - floor(0.1 * n) DESC, lang)
           |      AS rrank
           |  FROM c),
           |q AS (SELECT lang, CAST(fl + CASE WHEN rrank <= target - sumfl
           |      THEN 1 ELSE 0 END AS BIGINT) AS quota FROM t),
           |r AS (SELECT doc_id, lang,
           |    CAST(row_number() OVER (PARTITION BY lang ORDER BY ($uT), doc_id)
           |      AS BIGINT) AS rnk
           |  FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR || ':est') AS h
           |        FROM documents))
           |SELECT doc_id, lang, rnk FROM r JOIN q USING (lang)
           |WHERE rnk <= quota""".stripMargin
      }),

    Q("q127_corpus_datasheet",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus DATASHEET (Gebru et al. 2021 "Datasheets for Datasets"):
        // the per-(source, lang) card every released training corpus
        // publishes — rows, token mass, length spread, exact-dup rate,
        // mean quality, PII density — computed in ONE aggregate over ONE
        // scan (the dqSnapshot discipline at stratum grain: no
        // per-metric passes, the exchange carries |source×lang| partial
        // rows). Exact-dup rate reuses the md5 content-hash convention;
        // doubles rounded before compare.
        val docs = tbl("documents")
        val toks = size(Text.tokens(lower(col("text"))))
        docs
          .select(col("source"), col("lang"), col("doc_id"), col("text"),
            toks.as("n_tok"),
            // per-doc scores rounded to 6 BEFORE averaging (the q29
            // engine-stable value); the average re-rounds to 4 so the
            // summation-order ulp noise of ~|group| rounded doubles
            // sits orders below the compare grid
            round(Text.qualityScore(col("text"), Stopwords), 6).as("q"),
            regexp_count(col("text"), lit(Text.EmailRe)).as("n_email"))
          .groupBy("source", "lang")
          .agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tokens"),
            min(col("n_tok")).as("min_tok"),
            max(col("n_tok")).as("max_tok"),
            round(avg(col("n_tok")), 4).as("avg_tok"),
            (count(lit(1)) - countDistinct(md5(col("text")))).as("n_exact_dup"),
            round(avg(col("q")), 4).as("avg_quality"),
            sum(col("n_email")).as("n_emails"))
      },
      Some(DatasheetSql)),

    Q("q128_opq_rotated_pq",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // OPQ-style ROTATED product quantization (Ge et al., "Optimized
        // Product Quantization", CVPR 2013 — the parametric eigenvalue-
        // allocation form): full-rank PCA rotation with eigenvalue-
        // BALANCED axis allocation, codebooks trained in the rotated
        // space, search through the rotated IVF-PQ pipeline. The raw
        // fixture is ISOTROPIC — rotating an isotropic gaussian is
        // distribution-invariant, so no rotation can reduce its PQ
        // error (measured gain 0.996-1.002 across SFs) — so the query
        // first plants the correlated geometry production embedding
        // corpora actually have: each vector's second half becomes a
        // near-copy of its first half, giving the two-tier
        // eigenspectrum (32 axes at ~2σ², 32 at ~0.005σ²) on which the
        // OPQ claim is sharp (measured: rotated error 0.34 vs
        // unrotated 0.60 at sf0.1 — balance turns 8 isotropic
        // subspaces into 8 of effective rank 4). Models aren't
        // SQL-replayable, so the oracle checks the DEFINING contracts
        // in-plan (q121/q123 pattern): (a) rotated mean quantization
        // error ≤ unrotated — THE OPQ claim, and both Lloyd chains
        // monotone; (b) rotated IVF-PQ at full probe equals rotated PQ
        // top-k row-for-row; (c) a planted exact twin is recalled at
        // nProbe=1 with ADC equal to its own quantization error (the
        // rotation is deterministic, so the twin rotates and routes
        // identically to its original).
        val emb = tbl("embeddings")
        val mixed = emb.select(col("vec_id"), array((0 until 64).map { i =>
          if (i < 32) element_at(col("embedding"), i + 1).cast("double")
          else element_at(col("embedding"), i - 31).cast("double") +
            lit(0.1) * element_at(col("embedding"), i + 1).cast("double")
        }: _*).as("embedding"))
        // ONE Lloyd iteration per train: the gain margin is already ~1.6×
        // after iteration 1 (0.38 vs 0.63 measured), each extra iteration
        // costs two more full-corpus passes per model, and q121 owns the
        // deeper-training monotonicity story
        val (_, errsU) = Similarity.pqTrain(mixed, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 1)
        val (rmodel, errsR) = Similarity.rotatedPqTrain(mixed, "vec_id",
          "embedding", dim = 64, m = 8, ksub = 16, iters = 1)
        val gainOk = errsR.last <= errsU.last &&
          errsR.sliding(2).forall(p => p(1) <= p(0) + 1e-9) &&
          errsU.sliding(2).forall(p => p(1) <= p(0) + 1e-9)
        // the rotated corpus feeds FOUR consumers (centroid training,
        // both full-probe rankings, the nProbe=1 probe) and the rotated
        // twins three — checkpoint so the rotation projection runs once
        // per side, not once per consumer
        val rotCorpus = ck.proxy(Similarity.rotate(mixed, "embedding", rmodel)
          .select(col("vec_id"), col("pc")))
        val twins = mixed.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val rotTwins = ck.proxy(Similarity.rotate(twins, "embedding", rmodel)
          .select(col("vec_id"), col("pc")))
        val cents = Similarity.trainCentroidsKMeans(rotCorpus, "vec_id", "pc",
          dim = 64, cells = 8, iters = 1)
        // (b) full-probe equivalence, k=3, in the rotated space
        val full = Similarity.ivfPqTopK(rotCorpus, rotTwins, cents, "vec_id",
          "pc", rmodel.pq, k = 3, nProbe = 8)
        val pq = Similarity.pqTopK(rotCorpus, rotTwins, "vec_id", "pc",
          rmodel.pq, k = 3)
        val eqStats = full.withColumnRenamed("neighbor_id", "n_ivf")
          .withColumnRenamed("adc", "adc_ivf")
          .join(pq.withColumnRenamed("neighbor_id", "n_pq")
            .withColumnRenamed("adc", "adc_pq"), Seq("query_id", "rnk"), "full")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_ivf") === col("n_pq") &&
              col("adc_ivf") === col("adc_pq"), lit(0L)).otherwise(lit(1L)))
              .as("n_diff"))
        // (c) twin recall at nProbe = 1 through the rotated pipeline
        val p1 = Similarity.ivfPqTopK(rotCorpus, rotTwins, cents, "vec_id",
          "pc", rmodel.pq, k = 1, nProbe = 1)
        val selfErr = Similarity.pqEncode(rotTwins, "pc", rmodel.pq)
          .select(col("vec_id").as("query_id"),
            graft.plans.exprs.pqAdc(col("codes"),
              graft.plans.exprs.pqLut(graft.functions.Vectors.toDouble(col("pc")),
                rmodel.pq.codebooks, rmodel.pq.m, rmodel.pq.ksub),
              rmodel.pq.ksub).as("self_adc"))
        val recallStats = p1.join(selfErr, Seq("query_id"))
          .agg(count(lit(1)).as("n_p1"),
            sum(when(col("adc") === col("self_adc"), lit(0L)).otherwise(lit(1L)))
              .as("n_missed"))
        val nTwins = mixed.filter(col("vec_id") % 101 === 0)
          .agg(count(lit(1)).as("n_twins"))
        eqStats.crossJoin(broadcast(recallStats)).crossJoin(broadcast(nTwins))
          .select(
            Clean.flag(lit(gainOk)).as("rot_gain_ok"),
            Clean.flag(col("n_diff") === 0 && col("n_rows") > 0)
              .as("full_probe_eq_pq"),
            Clean.flag(col("n_missed") === 0 && col("n_p1") === col("n_twins") &&
              col("n_p1") > 0).as("twin_recall_p1"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS rot_gain_ok,
             |CAST(1 AS BIGINT) AS full_probe_eq_pq,
             |CAST(1 AS BIGINT) AS twin_recall_p1""".stripMargin)),

    Q("q129_countmin_merge",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CMS MERGEABILITY under oracle (q116's streaming/incremental
        // citizenship claim, promoted from spec to hash-gated query):
        // three sketches built over a DISJOINT doc_id%3 partition of the
        // corpus, merged by cell-wise sum, probed at the exact top-20
        // tokens NEXT TO the monolithic sketch's estimates. The cells
        // are deterministic (md5-hex6 coin), so the DuckDB oracle
        // rebuilds ONE sketch in SQL and projects its estimate as BOTH
        // columns — Spark's merged and monolithic paths must each equal
        // the replay, which makes merged == monolithic row-for-row (a
        // lost batch, a double-counted cell, or a salt drift between
        // build and merge all hash-fail).
        val docs = tbl("documents")
        val batches = (0 until 3).map(i =>
          docs.filter(col("doc_id") % 3 === i))
        val merged = operators.Frequency.countMinMerge(
          batches.map(b => operators.Frequency.countMinBuild(b, "text",
            depth = 4, width = 1024)))
        val mono = operators.Frequency.countMinBuild(docs, "text",
          depth = 4, width = 1024)
        val exact = docs.select(explode(
            Text.tokens(lower(col("text")))).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("tok")).limit(20)
        val estM = operators.Frequency.countMinEstimate(merged, exact, "tok",
          depth = 4, width = 1024)
          .withColumnRenamed("est", "est_merged")
        val estO = operators.Frequency.countMinEstimate(mono, exact, "tok",
          depth = 4, width = 1024)
          .withColumnRenamed("est", "est_mono")
        exact.join(estM, Seq("tok")).join(estO, Seq("tok"))
          .select(col("tok"), col("cnt"), col("est_merged"), col("est_mono"))
      },
      Some {
        val build = (0 until 4).map { sd =>
          s"""SELECT $sd AS seed, (${uTerms("h")}) % 1024 AS bucket
             |  FROM (SELECT md5(tok || ':cms$sd') AS h FROM t)""".stripMargin
        }.mkString("\n  UNION ALL ")
        val probe = (0 until 4).map { sd =>
          s"""SELECT tok, $sd AS seed, (${uTerms("h")}) % 1024 AS bucket
             |  FROM (SELECT tok, md5(tok || ':cms$sd') AS h FROM ex)""".stripMargin
        }.mkString("\n  UNION ALL ")
        s"""WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
           |  FROM documents),
           |ex AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok
           |       ORDER BY cnt DESC, tok LIMIT 20),
           |cell AS (SELECT seed, bucket, count(*) AS scnt
           |  FROM ($build) GROUP BY seed, bucket),
           |qc AS ($probe),
           |est AS (SELECT tok, min(scnt) AS est FROM qc
           |        JOIN cell USING (seed, bucket) GROUP BY tok)
           |SELECT ex.tok, ex.cnt, est.est AS est_merged, est.est AS est_mono
           |FROM ex JOIN est USING (tok)""".stripMargin
      }),

    Q("q130_ann_store_ingest",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL ANN INGESTION — the IVF-PQ index under the
        // bucketed-store discipline (q68/q91's production loop applied
        // to the ANN index): centroids + codebooks trained once on the
        // initial corpus and FROZEN; the initial corpus is written as a
        // cell_id-bucketed store; two later batches (the held-out third
        // of the fixture, plus planted exact twins) append by
        // routing+encoding in one zero-exchange projection — an append
        // never reads the store, so per-batch cost ∝ batch size, and
        // probes against the store stay exchange-free on the store side
        // as it grows. Contracts in-plan (models aren't SQL-replayable —
        // the q121/q123/q128 pattern): (a) after both appends, store
        // probes at full nProbe equal Similarity.ivfPqTopK over the
        // union of every ingested batch ROW-FOR-ROW (a lost append row,
        // a bucket-spec drift, or probe-side LUT drift all fail);
        // (b) a twin appended in batch 2 is recalled at nProbe=1 with
        // ADC equal to its own quantization error — the maintained
        // store answers exactly like a monolithic index; (c) the store
        // holds exactly |corpus| + |twins| rows.
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val table = "q130_ann_store"
        dropTables(s, table)
        val initial = emb.filter(col("vec_id") % 3 =!= 0)
        val (model, _) = Similarity.pqTrain(initial, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 2)
        val cents = Similarity.trainCentroidsKMeans(initial, "vec_id",
          "embedding", dim = 64, cells = 8, iters = 2)
        val cs = Similarity.collectCentroids(cents)
        operators.Incremental.writeAnnStore(initial, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val twins = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        val batch1 = emb.filter(col("vec_id") % 3 === 0 &&
          expr("(vec_id div 3) % 2 = 0"))
        val batch2 = emb.filter(col("vec_id") % 3 === 0 &&
          expr("(vec_id div 3) % 2 = 1")).unionByName(twins)
        operators.Incremental.appendToAnnStore(batch1, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        operators.Incremental.appendToAnnStore(batch2, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val union = emb.unionByName(twins)
        // (a) store probes == monolithic IVF-PQ over the ingested union
        val fromStore = operators.Incremental.annStoreTopK(s, table, twins,
          "vec_id", "embedding", cs, model, k = 5, nProbe = 8)
        val mono = Similarity.ivfPqTopK(union, twins, cents, "vec_id",
          "embedding", model, k = 5, nProbe = 8)
        val eqStats = fromStore.withColumnRenamed("neighbor_id", "n_st")
          .withColumnRenamed("adc", "adc_st")
          .join(mono.withColumnRenamed("neighbor_id", "n_mo")
            .withColumnRenamed("adc", "adc_mo"), Seq("query_id", "rnk"), "full")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_st") === col("n_mo") &&
              col("adc_st") === col("adc_mo"), lit(0L)).otherwise(lit(1L)))
              .as("n_diff"))
        // (b) batch-2 twin recall at nProbe = 1 against the store
        val p1 = operators.Incremental.annStoreTopK(s, table, twins,
          "vec_id", "embedding", cs, model, k = 1, nProbe = 1)
        val selfErr = Similarity.pqEncode(twins, "embedding", model)
          .select(col("vec_id").as("query_id"),
            graft.plans.exprs.pqAdc(col("codes"),
              graft.plans.exprs.pqLut(
                graft.functions.Vectors.toDouble(col("embedding")),
                model.codebooks, model.m, model.ksub), model.ksub)
              .as("self_adc"))
        val recallStats = p1.join(selfErr, Seq("query_id"))
          .agg(count(lit(1)).as("n_p1"),
            sum(when(col("adc") === col("self_adc"), lit(0L)).otherwise(lit(1L)))
              .as("n_missed"))
        val nTwins = emb.filter(col("vec_id") % 101 === 0)
          .agg(count(lit(1)).as("n_twins"))
        // (c) append visibility: one store row per ingested vector
        val storeN = s.table(table).agg(count(lit(1)).as("n_store"))
        val unionN = union.agg(count(lit(1)).as("n_union"))
        eqStats.crossJoin(broadcast(recallStats)).crossJoin(broadcast(nTwins))
          .crossJoin(broadcast(storeN)).crossJoin(broadcast(unionN))
          .select(
            Clean.flag(col("n_diff") === 0 && col("n_rows") > 0)
              .as("store_eq_monolithic"),
            Clean.flag(col("n_missed") === 0 && col("n_p1") === col("n_twins") &&
              col("n_p1") > 0).as("twin_recall_p1"),
            Clean.flag(col("n_store") === col("n_union")).as("store_rows_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS store_eq_monolithic,
             |CAST(1 AS BIGINT) AS twin_recall_p1,
             |CAST(1 AS BIGINT) AS store_rows_ok""".stripMargin)),

    Q("q131_i420_decode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // PLANAR-YUV video decode end-to-end: synthesize real I420 AVIs
        // (RIFF container, 'I420' fourcc, one fixed-size planar frame
        // chunk per frame — full-res Y plane + two ⌈w/2⌉×⌈h/2⌉ chroma
        // planes, geometry deterministic from doc_id WITH odd
        // dimensions so the rounded-up chroma arithmetic is exercised)
        // and decode genuine width/height/frame-count back through the
        // shared RIFF walker + fixed-point BT.601 YUV→RGB arithmetic.
        // The q90/q115 recipe on the third codec family — after this,
        // decodeStub's video domain is genuinely COMPRESSED codecs
        // without a JDK decoder (cinepak/h264/...); every uncompressed
        // layout (packed DIB, planar YUV) and MJPEG decode for real.
        // The decoded-pixel checksum is spec-gated against an
        // independent YUV reimplementation (StreamingMultimodalSpec).
        operators.Multimodal.extractFeatures(
            operators.Multimodal.i420VideosFromDocuments(tbl("documents")))
          .toDF()
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("n_frames").cast("long").as("n_frames"),
            col("channels").cast("long").as("channels"))
      },
      Some("""SELECT doc_id AS media_id,
             |CAST(6 + doc_id % 11 AS BIGINT) AS width,
             |CAST(5 + (doc_id // 11) % 6 AS BIGINT) AS height,
             |CAST(1 + doc_id % 4 AS BIGINT) AS n_frames,
             |CAST(3 AS BIGINT) AS channels
             |FROM documents""".stripMargin)),

    Q("q132_pca_whiten",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // PCA WHITENING (top-8): the embedding-calibration step before
        // cosine dedup/ANN on anisotropic spaces — distance in the
        // whitened space is Mahalanobis distance in the original. The
        // 1/√λ scales fold into the axis literals at plan build, so the
        // whole transform is one narrow projection (zero shuffle,
        // plan-asserted in EmbeddingsSpec). The model isn't
        // SQL-replayable, so the oracle checks whitening's DEFINING
        // invariants in-plan (the q120 pattern), each sharp against a
        // specific break: every whitened component must have mean 0
        // (centering folded correctly), variance exactly 1 (the 1/√λ
        // scale against THE eigenpair property — a wrong eigenvalue,
        // scale, or floor clamp all fail), and distinct components must
        // be uncorrelated (axes actually orthogonal).
        val emb = tbl("embeddings")
        val model = operators.Embeddings.pcaFit(emb, "embedding", p = 8)
        val w = operators.Embeddings.pcaWhiten(emb, "embedding", model)
        val means = (0 until 8).map(c =>
          avg(element_at(col("white"), c + 1)).as(s"m$c"))
        val vars = (0 until 8).map(c =>
          var_pop(element_at(col("white"), c + 1)).as(s"v$c"))
        val covs = for (a <- 0 until 8; b <- a + 1 until 8) yield
          covar_pop(element_at(col("white"), a + 1),
            element_at(col("white"), b + 1)).as(s"c${a}_$b")
        val agg = w.agg(means.head, (means.tail ++ vars ++ covs): _*)
        val centerOk = (0 until 8).map(c =>
          abs(col(s"m$c")) <= lit(1e-9)).reduce(_ && _)
        val unitOk = (0 until 8).map(c =>
          abs(col(s"v$c") - lit(1.0)) <= lit(1e-6)).reduce(_ && _)
        val orthOk = (for (a <- 0 until 8; b <- a + 1 until 8) yield
          abs(col(s"c${a}_$b")) <= lit(1e-6)).reduce(_ && _)
        agg.select(Clean.flag(centerOk).as("centered_ok"),
          Clean.flag(unitOk).as("unit_var_ok"),
          Clean.flag(orthOk).as("decorrelated_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS centered_ok,
             |CAST(1 AS BIGINT) AS unit_var_ok,
             |CAST(1 AS BIGINT) AS decorrelated_ok""".stripMargin)),

    Q("q133_ivfpq_rerank",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // IVFADC-R (Jégou, Tavenard, Douze, Amsaleg, ICASSP 2011): ADC
        // shortlist → exact squared-L2 re-rank of only the |Q|·R fetched
        // vectors — the standard billion-scale accuracy recovery step.
        // Models aren't SQL-replayable, so the oracle checks the refine
        // stage's DEFINING contracts in-plan (the q121/q123 pattern),
        // each sharp against a specific break:
        // (a) re-ranking only REORDERS — at R = k the per-query neighbor
        //     SET equals the raw ADC top-k's (any candidate lost in the
        //     fetch join, or invented by it, fails);
        // (b) with the whole corpus as shortlist, refined output equals
        //     exact brute-force L2 top-k ROW-FOR-ROW with bit-identical
        //     distances (same kernel, same argument order) — the refine
        //     stage fully undoes quantization error;
        // (c) recall@k vs exact ground truth at nProbe=2, R=4k is ≥ the
        //     raw ADC ranking's — the theorem the shortlist pays for
        //     (true top-k members beat every other candidate in the
        //     exact metric, so re-rank keeps all the shortlist caught).
        val emb = tbl("embeddings")
        // iters=1: every contract below holds for ANY trained model —
        // the query pays for the refine stage's proofs, not for
        // quantization quality (q121/q123 already gate training)
        val (model, _) = Similarity.pqTrain(emb, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 1)
        val cents = Similarity.trainCentroidsKMeans(emb, "vec_id", "embedding",
          dim = 64, cells = 8, iters = 2)
        val qs = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        // exact ground truth feeds three consumers (row-for-row check +
        // both recall terms) and the raw ADC ranking three (set check,
        // refine input, recall) — checkpoint the |Q|·k-row lists so the
        // brute-force / ADC rankings run once each
        val exact = ck.proxy(
          Similarity.bruteForceTopKL2(emb, qs, "vec_id", "embedding", k = 5))
        // (a) R = k: same candidate set, possibly reordered
        val raw = ck.proxy(Similarity.ivfPqTopK(emb, qs, cents, "vec_id",
          "embedding", model, k = 5, nProbe = 2))
        val refSame = Similarity.refineTopK(emb, qs, raw, "vec_id", "embedding", k = 5)
        val setStats = raw.select(col("query_id"), col("neighbor_id"))
          .withColumn("in_raw", lit(1))
          .join(refSame.select(col("query_id"), col("neighbor_id"))
            .withColumn("in_ref", lit(1)),
            Seq("query_id", "neighbor_id"), "full")
          .agg(count(lit(1)).as("n_set"),
            sum(when(col("in_raw").isNull || col("in_ref").isNull, lit(1L))
              .otherwise(lit(0L))).as("n_set_diff"))
        // (b) full-corpus shortlist == exact brute force, row-for-row
        val fullSl = qs.select(col("vec_id").as("query_id"))
          .crossJoin(emb.select(col("vec_id").as("neighbor_id")))
          .filter(col("neighbor_id") =!= col("query_id"))
        val refFull = Similarity.refineTopK(emb, qs, fullSl, "vec_id", "embedding", k = 5)
        val eqStats = refFull.withColumnRenamed("neighbor_id", "n_ref")
          .withColumnRenamed("dist", "d_ref")
          .join(exact.withColumnRenamed("neighbor_id", "n_ex")
            .withColumnRenamed("dist", "d_ex"), Seq("query_id", "rnk"), "full")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("n_ref") === col("n_ex") &&
              col("d_ref") === col("d_ex"), lit(0L)).otherwise(lit(1L)))
              .as("n_diff"))
        // (c) recall monotonicity at nProbe=2: refined(R=4k) vs raw ADC
        val ref4 = Similarity.ivfPqTopKRefined(emb, qs, cents, "vec_id",
          "embedding", model, k = 5, nProbe = 2, rFactor = 4)
        def recall(res: DataFrame, tag: String): DataFrame =
          exact.select(col("query_id"), col("neighbor_id"))
            .join(res.select(col("query_id"), col("neighbor_id"))
              .withColumn("hit", lit(1)), Seq("query_id", "neighbor_id"), "left")
            .agg((sum(coalesce(col("hit"), lit(0))) /
              count(lit(1))).as(tag))
        eqStats.crossJoin(broadcast(setStats))
          .crossJoin(broadcast(recall(raw, "r_adc")))
          .crossJoin(broadcast(recall(ref4, "r_ref")))
          .select(
            Clean.flag(col("n_set_diff") === 0 && col("n_set") > 0)
              .as("rerank_set_invariant"),
            Clean.flag(col("n_diff") === 0 && col("n_rows") > 0)
              .as("full_shortlist_eq_exact"),
            Clean.flag(col("r_ref") >= col("r_adc")).as("recall_monotone"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS rerank_set_invariant,
             |CAST(1 AS BIGINT) AS full_shortlist_eq_exact,
             |CAST(1 AS BIGINT) AS recall_monotone""".stripMargin)),

    Q("q134_hll_distinct",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // HyperLogLog distinct counting under oracle — the cardinality
        // member of the sketch family, on the open domain where it
        // matters: distinct 8-gram shingles (~225k at sf0.1 — the
        // n-gram/URL/user-id shape whose per-key exchange kills exact
        // countDistinct at 100 TB; here the exchange is 2^12 registers
        // per slice). Contracts (q129's CMS-mergeability mold, adjusted
        // to what HLL actually guarantees — found by measurement, see
        // [[operators.Frequency.hllMergeEstimate]]: a union result is
        // estimated with the composite estimator while a stream-built
        // sketch keeps its HIP accumulator, ~0.1% apart on IDENTICAL
        // registers, so "merged == monolithic stream estimate" is NOT a
        // property of the algorithm and is not claimed):
        // (a) GROUPING INVARIANCE — slicing the corpus two unrelated
        //     ways (doc_id mod 3 vs a 2-way hash split) merges to the
        //     identical estimate: register max is order- and
        //     shape-free, so any lossy or order-dependent merge fails;
        // (b) ASSOCIATIVITY — union(union(p0,p1), p2) equals the flat
        //     3-way union (measured byte-identical blobs), the property
        //     that makes incremental/streaming accumulation exact;
        // (c) the merged estimate lands within the published 3σ bound
        //     of the exact count (σ = 1.04/√2^lgK ≈ 1.6% at lgK=12);
        // (d) the HIP-vs-composite estimator gap is bounded: merged is
        //     within 1% of the monolithic stream estimate.
        // The exact count itself is the hash-oracled output column.
        val docs = tbl("documents")
        val sh = docs.select(col("doc_id"), explode(
          graft.plans.exprs.wordShingles(lower(col("text")), 8)).as("ng"))
        val byDoc = sh.withColumn("part", col("doc_id") % 3)
        val byHash = sh.withColumn("part", pmod(xxhash64(col("ng")), lit(2)))
        val parts3 = operators.Frequency.hllSketch(byDoc, "ng", Seq("part"), lgK = 12)
        val mergedA = operators.Frequency.hllMergeEstimate(parts3)
          .withColumnRenamed("estimate", "est_a")
        val mergedB = operators.Frequency.hllMergeEstimate(
            operators.Frequency.hllSketch(byHash, "ng", Seq("part"), lgK = 12))
          .withColumnRenamed("estimate", "est_b")
        val nested = operators.Frequency.hllMergeEstimate(
            parts3.filter(col("part") < 2)
              .agg(hll_union_agg(col("sketch"), lit(false)).as("sketch"))
              .unionByName(parts3.filter(col("part") === 2).select("sketch")))
          .withColumnRenamed("estimate", "est_nested")
        val monoEst = operators.Frequency.hllSketch(sh, "ng", Seq.empty, lgK = 12)
          .select(hll_sketch_estimate(col("sketch")).as("est_mono"))
        val exact = sh.agg(countDistinct(col("ng")).as("exact_distinct"))
        exact.crossJoin(broadcast(mergedA)).crossJoin(broadcast(mergedB))
          .crossJoin(broadcast(nested)).crossJoin(broadcast(monoEst))
          .select(col("exact_distinct").cast("long").as("exact_distinct"),
            Clean.flag(col("est_a") === col("est_b")).as("grouping_invariant"),
            Clean.flag(col("est_nested") === col("est_a")).as("merge_associative"),
            Clean.flag(abs(col("est_a") - col("exact_distinct")).cast("double")
              <= col("exact_distinct").cast("double") * lit(3.0 * 1.04 / 64.0))
              .as("within_3sigma"),
            Clean.flag(abs(col("est_a") - col("est_mono")).cast("double")
              <= col("est_mono").cast("double") * lit(0.01))
              .as("estimator_gap_bounded"))
      },
      Some {
        val sh8 =
          """list_distinct(CASE WHEN len(t) < 8 THEN t
            |  ELSE list_transform(range(1, len(t) - 6),
            |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3],
            |                        t[i+4], t[i+5], t[i+6], t[i+7])) END)""".stripMargin
        s"""WITH w AS (SELECT doc_id, $sh8 AS sh
           |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
           |        FROM documents)),
           |ng AS (SELECT unnest(sh) AS ng FROM w)
           |SELECT CAST(count(DISTINCT ng) AS BIGINT) AS exact_distinct,
           |  CAST(1 AS BIGINT) AS grouping_invariant,
           |  CAST(1 AS BIGINT) AS merge_associative,
           |  CAST(1 AS BIGINT) AS within_3sigma,
           |  CAST(1 AS BIGINT) AS estimator_gap_bounded
           |FROM ng""".stripMargin
      }),

    Q("q135_token_drift",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Distribution drift monitor: Jensen-Shannon divergence of the
        // unigram distributions of two corpus slices (even/odd doc_id),
        // with per-token attribution — "did this ingest batch move the
        // token distribution, and which tokens moved it". Unlike the
        // sketch/ANN queries this one is FULLY SQL-replayable: the
        // oracle retrains both distributions and replays the divergence
        // with identical operand order, so the whole surface
        // (probabilities, contributions, ranking, JS total) hash-checks.
        // Ranking key |p_a − p_b| is a difference of exact integer-count
        // ratios — never on an ulp; ln-bearing outputs round at 6.
        implicit val ss = s
        operators.Quality.unigramJsDrift(
            tbl("documents").withColumn("sl", col("doc_id") % 2 === 0),
            "sl", "text", topK = 10)
          .select(col("tok"), col("rnk"),
            round(col("pa"), 6).as("p_a"), round(col("pb"), 6).as("p_b"),
            round(col("d_abs"), 6).as("d_abs"),
            round(col("contrib"), 6).as("contrib"),
            round(col("js_total"), 6).as("js_total"))
      },
      Some("""WITH tok AS (SELECT doc_id % 2 = 0 AS s,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |cnt AS (SELECT tok,
             |    sum(CASE WHEN s THEN 1 ELSE 0 END) AS ca,
             |    sum(CASE WHEN NOT s THEN 1 ELSE 0 END) AS cb
             |  FROM tok GROUP BY tok),
             |tot AS (SELECT sum(ca) AS ta, sum(cb) AS tb FROM cnt),
             |p AS (SELECT tok,
             |    CAST(ca AS DOUBLE) / CAST(ta AS DOUBLE) AS pa,
             |    CAST(cb AS DOUBLE) / CAST(tb AS DOUBLE) AS pb
             |  FROM cnt, tot),
             |c AS (SELECT tok, pa, pb, abs(pa - pb) AS d_abs,
             |    (CASE WHEN pa > 0 THEN pa * ln(pa / ((pa + pb) / 2)) ELSE 0 END
             |   + CASE WHEN pb > 0 THEN pb * ln(pb / ((pa + pb) / 2)) ELSE 0 END) / 2
             |      AS contrib
             |  FROM p),
             |js AS (SELECT sum(contrib) AS js_total FROM c)
             |SELECT tok,
             |  CAST(row_number() OVER (ORDER BY d_abs DESC, tok) AS BIGINT) AS rnk,
             |  round(pa, 6) AS p_a, round(pb, 6) AS p_b,
             |  round(d_abs, 6) AS d_abs, round(contrib, 6) AS contrib,
             |  round(js.js_total, 6) AS js_total
             |FROM c, js ORDER BY d_abs DESC, tok LIMIT 10""".stripMargin)),

    Q("q136_zorder_layout",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Z-order (Morton) storage layout under oracle: the reader-side
        // min-max manifest over z-prefix tiles plus the box-query
        // pruning verdicts — the file-skipping decision a 2-D-selective
        // scan makes at 100 TB, where a 1-D sort keeps only one
        // column's min-max tight. Everything is integer/exact-IEEE
        // arithmetic (bit-spread interleave, domain-stat tile scaling,
        // min-max aggregation, rectangle intersection), so unlike the
        // flag-gated sketch queries the WHOLE manifest hash-matches: a
        // wrong spread mask, tile scale, prefix shift, or intersection
        // inequality moves some bucket row and fails the compare. The
        // box is derived from the same domain stats (max/4..max/2 per
        // dim) so the query is meaningful at every SF.
        val li = tbl("lineitem")
        val stats = operators.Layout.zBucketStats(
          li, "l_partkey", "l_suppkey", tileBits = 4)
        val mx = li.agg(
          max(col("l_partkey").bitwiseAND(lit(0xFFFFL))).as("am"),
          max(col("l_suppkey").bitwiseAND(lit(0xFFFFL))).as("bm"))
        stats.crossJoin(broadcast(mx))
          .withColumn("cand", operators.Layout.boxCandidate(
            floor(col("am") / 4), floor(col("am") / 2),
            floor(col("bm") / 4), floor(col("bm") / 2)))
          .select(col("bucket").cast("long").as("bucket"),
            col("n").cast("long").as("n"),
            col("a_min").cast("long").as("a_min"),
            col("a_max").cast("long").as("a_max"),
            col("b_min").cast("long").as("b_min"),
            col("b_max").cast("long").as("b_max"),
            col("cand").cast("long").as("cand"))
      },
      Some("""WITH base AS (SELECT l_partkey & 65535 AS a, l_suppkey & 65535 AS b
             |  FROM lineitem),
             |mx AS (SELECT max(a) AS am, max(b) AS bm FROM base),
             |t AS (SELECT a, b,
             |    CAST(floor(a * 256.0 / (am + 1)) AS BIGINT) AS ta,
             |    CAST(floor(b * 256.0 / (bm + 1)) AS BIGINT) AS tb
             |  FROM base, mx),
             |s1 AS (SELECT a, b, (ta | (ta << 8)) & 16711935 AS xa,
             |                    (tb | (tb << 8)) & 16711935 AS xb FROM t),
             |s2 AS (SELECT a, b, (xa | (xa << 4)) & 252645135 AS xa,
             |                    (xb | (xb << 4)) & 252645135 AS xb FROM s1),
             |s3 AS (SELECT a, b, (xa | (xa << 2)) & 858993459 AS xa,
             |                    (xb | (xb << 2)) & 858993459 AS xb FROM s2),
             |s4 AS (SELECT a, b, (xa | (xa << 1)) & 1431655765 AS xa,
             |                    (xb | (xb << 1)) & 1431655765 AS xb FROM s3),
             |bk AS (SELECT a, b, (xa | (xb << 1)) >> 8 AS bucket FROM s4),
             |st AS (SELECT bucket, count(*) AS n,
             |    min(a) AS a_min, max(a) AS a_max,
             |    min(b) AS b_min, max(b) AS b_max
             |  FROM bk GROUP BY bucket)
             |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
             |  CAST(a_min AS BIGINT) AS a_min, CAST(a_max AS BIGINT) AS a_max,
             |  CAST(b_min AS BIGINT) AS b_min, CAST(b_max AS BIGINT) AS b_max,
             |  CAST(CASE WHEN a_max >= am // 4 AND a_min <= am // 2
             |         AND b_max >= bm // 4 AND b_min <= bm // 2
             |       THEN 1 ELSE 0 END AS BIGINT) AS cand
             |FROM st, mx""".stripMargin)),

    Q("q137_hilbert_layout",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // q136's Hilbert-curve sibling: the same min-max manifest and
        // box verdicts, but clustered by the order-8 Hilbert index —
        // the curve whose consecutive positions are ALWAYS adjacent
        // cells (unit-step, spec-asserted), so unaligned curve ranges
        // stay spatially compact where Z-order jumps corners. The
        // index runs as a native codegen kernel (the bit walk carries
        // rotation state per plane — a loop, not an expression
        // cascade); the oracle replays the IDENTICAL walk as an
        // 8-step SQL unroll (one CTE per bit plane: quadrant offset
        // accumulation + reflect/swap frame rotation), so a wrong
        // rotation, reflection width, or offset in ANY plane moves
        // rows across buckets and fails the hash.
        val li = tbl("lineitem")
        val stats = operators.Layout.hilbertBucketStats(
          li, "l_partkey", "l_suppkey", tileBits = 4)
        val mx = li.agg(
          max(col("l_partkey").bitwiseAND(lit(0xFFFFL))).as("am"),
          max(col("l_suppkey").bitwiseAND(lit(0xFFFFL))).as("bm"))
        stats.crossJoin(broadcast(mx))
          .withColumn("cand", operators.Layout.boxCandidate(
            floor(col("am") / 4), floor(col("am") / 2),
            floor(col("bm") / 4), floor(col("bm") / 2)))
          .select(col("bucket").cast("long").as("bucket"),
            col("n").cast("long").as("n"),
            col("a_min").cast("long").as("a_min"),
            col("a_max").cast("long").as("a_max"),
            col("b_min").cast("long").as("b_min"),
            col("b_max").cast("long").as("b_max"),
            col("cand").cast("long").as("cand"))
      },
      Some {
        // one CTE per bit plane s = 128..1: d += s²·(3·rx XOR ry), then
        // the frame rotation (reflect within the FULL 8-bit grid — the
        // 255-v complement — then swap) exactly as the kernel walks it
        val steps = (0 until 8).map { i =>
          val s = 128L >> i
          val p = i; val n = i + 1
          s"""h$n AS (SELECT a, b,
             |  CASE WHEN (hy$p & $s) = 0 THEN
             |      CASE WHEN (hx$p & $s) > 0 THEN 255 - hy$p ELSE hy$p END
             |    ELSE hx$p END AS hx$n,
             |  CASE WHEN (hy$p & $s) = 0 THEN
             |      CASE WHEN (hx$p & $s) > 0 THEN 255 - hx$p ELSE hx$p END
             |    ELSE hy$p END AS hy$n,
             |  hd$p + ${s * s} * xor(
             |      3 * (CASE WHEN (hx$p & $s) > 0 THEN 1 ELSE 0 END),
             |      CASE WHEN (hy$p & $s) > 0 THEN 1 ELSE 0 END) AS hd$n
             |  FROM h$p)""".stripMargin
        }.mkString(",\n")
        s"""WITH base AS (SELECT l_partkey & 65535 AS a, l_suppkey & 65535 AS b
           |  FROM lineitem),
           |mx AS (SELECT max(a) AS am, max(b) AS bm FROM base),
           |h0 AS (SELECT a, b,
           |    CAST(floor(a * 256.0 / (am + 1)) AS BIGINT) AS hx0,
           |    CAST(floor(b * 256.0 / (bm + 1)) AS BIGINT) AS hy0,
           |    0 AS hd0
           |  FROM base, mx),
           |$steps,
           |st AS (SELECT hd8 >> 8 AS bucket, count(*) AS n,
           |    min(a) AS a_min, max(a) AS a_max,
           |    min(b) AS b_min, max(b) AS b_max
           |  FROM h8 GROUP BY 1)
           |SELECT CAST(bucket AS BIGINT) AS bucket, CAST(n AS BIGINT) AS n,
           |  CAST(a_min AS BIGINT) AS a_min, CAST(a_max AS BIGINT) AS a_max,
           |  CAST(b_min AS BIGINT) AS b_min, CAST(b_max AS BIGINT) AS b_max,
           |  CAST(CASE WHEN a_max >= am // 4 AND a_min <= am // 2
           |         AND b_max >= bm // 4 AND b_min <= bm // 2
           |       THEN 1 ELSE 0 END AS BIGINT) AS cand
           |FROM st, mx""".stripMargin
      }),

    Q("q138_streaming_drift",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING drift monitoring — q135's divergence discipline on
        // q89's watermark rails: a real file stream (two micro-batches,
        // pinned order) drives the windowed event_type counts; after
        // AvailableNow terminates, each CLOSED window's category
        // distribution is scored against the deployed full-corpus
        // reference with per-window JS divergence + the most-shifted
        // category (Quality.categoricalJsDrift — category-table-grain
        // only; the event-grain work is the streaming aggregate). The
        // oracle recomputes the windowed counts, applies the same
        // watermark cut, and replays the divergence with identical
        // operand order — probabilities are exact integer-count ratios,
        // the drift ranking never sits on an ulp, ln-bearing outputs
        // round at 6.
        import java.nio.file.Files
        val ev = tbl("events").select(col("event_id"), col("ts"),
          col("event_type"), col("value"))
        val dir = tempStagingDir("graft_q138_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(ev.filter(col("event_id") % 2 === 1), src,
          "batch_b", now - 60000)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
        val query = streaming.EventStreams
          .windowedCounts(stream.drop("event_id"), "1 hour", "1 hour")
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        val closed = s.read.parquet(out)
          .select(col("window_start"), col("event_type"), col("n"))
        val ref = ev.groupBy("event_type").agg(count(lit(1)).as("cr"))
        operators.Quality.categoricalJsDrift(closed, "window_start",
            "event_type", "n", ref, "cr")
          .select(col("window_start"), col("n").cast("long").as("n"),
            round(col("js"), 6).as("js"), col("drift_cat"),
            round(col("drift_abs"), 6).as("drift_abs"))
      },
      Some("""WITH b AS (SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP)
             |    AS window_start, event_type, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |cut AS (SELECT max(ts) - INTERVAL 1 HOUR AS cut FROM events),
             |w AS (SELECT * FROM b, cut
             |      WHERE window_start + INTERVAL 1 HOUR <= cut),
             |ref AS (SELECT event_type, count(*) AS cr FROM events GROUP BY 1),
             |rt AS (SELECT sum(cr) AS tr FROM ref),
             |rp AS (SELECT event_type,
             |    CAST(cr AS DOUBLE) / CAST(tr AS DOUBLE) AS p FROM ref, rt),
             |wt AS (SELECT window_start, sum(n) AS nw FROM w GROUP BY 1),
             |j AS (SELECT g.window_start, g.nw, g.event_type, g.p,
             |    CAST(coalesce(w.n, 0) AS DOUBLE) / CAST(g.nw AS DOUBLE) AS q
             |  FROM (SELECT wt.window_start, wt.nw, rp.event_type, rp.p
             |        FROM wt, rp) g
             |  LEFT JOIN w ON w.window_start = g.window_start
             |    AND w.event_type = g.event_type),
             |c AS (SELECT window_start, nw, event_type, p, q,
             |    abs(q - p) AS d_abs,
             |    (CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END
             |   + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END) / 2
             |      AS contrib
             |  FROM j),
             |js AS (SELECT window_start, max(nw) AS nw,
             |    round(sum(contrib), 6) AS js FROM c GROUP BY 1),
             |top AS (SELECT window_start, event_type, d_abs,
             |    row_number() OVER (PARTITION BY window_start
             |      ORDER BY d_abs DESC, event_type) AS r FROM c)
             |SELECT js.window_start, CAST(js.nw AS BIGINT) AS n, js.js,
             |  top.event_type AS drift_cat, round(top.d_abs, 6) AS drift_abs
             |FROM js JOIN top ON js.window_start = top.window_start
             |WHERE top.r = 1""".stripMargin)),

    Q("q139_compaction_plan",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // Small-file compaction planning (the OPTIMIZE pass) under
        // oracle: units = the (lang, source) write partitions of the
        // documents table, sized by payload bytes (octet_length + a
        // 16-byte row overhead); target bin size = total/8 so the plan
        // is meaningful at every SF; greedy listing-order cumulative
        // fill assigns each unit to bin floor(bytes_before/target).
        // All-integer arithmetic, so the WHOLE manifest hash-matches —
        // a wrong overhead constant, fill order, oversize inequality,
        // or floor-division convention moves a unit across bins and
        // fails the compare. Scale: the corpus is scanned once for the
        // per-unit rollup; the planning window runs over the unit
        // LISTING (metadata grain — at 100 TB, the table-format
        // manifest), never the rows.
        val docs = tbl("documents")
        val bytes = expr("octet_length(text)") + lit(16L)
        // ONE corpus scan: the unit rollup is eagerly materialized at
        // metadata grain, then both the target derivation and the
        // planner read it
        val units = ck.proxy(operators.Maintenance.unitRollup(docs,
          Seq("lang", "source"), bytes))
        val target = units.agg(
          (floor(sum(col("u_bytes")) / 8) + 1).cast("long").as("target"))
        operators.Maintenance.compactionPlanOfUnits(units,
          Seq("lang", "source"), target)
      },
      Some("""WITH u AS (SELECT lang, source,
             |    sum(strlen(text) + 16) AS u_bytes,
             |    count(*) AS u_rows
             |  FROM documents GROUP BY 1, 2),
             |tg AS (SELECT sum(u_bytes) // 8 + 1 AS target FROM u),
             |o AS (SELECT *,
             |    row_number() OVER (ORDER BY lang, source) AS ord,
             |    coalesce(sum(u_bytes) OVER (ORDER BY lang, source
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      AS cum_before
             |  FROM u),
             |p AS (SELECT o.*, target, cum_before // target AS bin
             |      FROM o, tg)
             |SELECT CAST(bin AS BIGINT) AS bin,
             |  CAST(count(*) AS BIGINT) AS n_units,
             |  CAST(sum(u_rows) AS BIGINT) AS n_rows,
             |  CAST(sum(u_bytes) AS BIGINT) AS bytes,
             |  CAST(min(ord) AS BIGINT) AS ord_first,
             |  CAST(max(ord) AS BIGINT) AS ord_last,
             |  CAST(sum(CASE WHEN u_bytes >= target THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_oversize
             |FROM p GROUP BY bin""".stripMargin)),

    Q("q140_mixture_interleave",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Stride-scheduled mixture interleave under oracle: the first
        // 200 positions of the α=0.5 temperature-mixed language stream,
        // rolled up per language — realized share vs target weight,
        // plus the position span. The merge order is exact (sqrt
        // weights and one division are correctly-rounded IEEE on both
        // engines, ties broken by (lang, r)), so a wrong stride rule,
        // rank truncation, or tiebreak moves a position across
        // languages and fails the hash; target_w (the one cross-source
        // float sum, |langs| terms) rounds at 6 and share is an exact
        // integer-ratio double. Scale: the corpus is touched once for
        // the count rollup; the schedule head is ≤ |langs|·200
        // generated rows (Packing.strideInterleave's bounded merge).
        val sched = operators.Packing.strideInterleave(
          tbl("documents"), "lang", alpha = 0.5, head = 200)
        val all = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)
        // target_w's denominator must sum over ALL sources (the oracle's
        // `t` CTE), not just those present in the schedule head — a
        // source whose first emission sorts past `head` would otherwise
        // inflate every remaining share
        val weights = tbl("documents").groupBy(col("lang"))
          .agg(count(lit(1)).as("n_all"))
          .withColumn("w_all", sqrt(col("n_all").cast("double")))
          .withColumn("target_w",
            round(col("w_all") / sum(col("w_all")).over(all), 6))
          .select(col("lang"), col("target_w"))
        sched.groupBy(col("lang"))
          .agg(max(col("n_src")).cast("long").as("n_src"),
            count(lit(1)).as("sched_n"),
            min(col("pos")).as("first_pos"),
            max(col("pos")).as("last_pos"))
          .join(broadcast(weights), Seq("lang"))
          .withColumn("share", col("sched_n").cast("double") / 200)
          .select(col("lang"), col("n_src"), col("target_w"),
            col("sched_n"), col("share"), col("first_pos"), col("last_pos"))
      },
      Some("""WITH c AS (SELECT lang, count(*) AS n_src FROM documents
             |           GROUP BY 1),
             |g AS (SELECT lang, n_src,
             |    sqrt(CAST(n_src AS DOUBLE)) AS w_raw FROM c),
             |e AS (SELECT lang, n_src, w_raw,
             |    unnest(generate_series(1, least(200, n_src))) AS r FROM g),
             |v AS (SELECT *, CAST(r AS DOUBLE) / w_raw AS vt FROM e),
             |p AS (SELECT *, row_number() OVER (ORDER BY vt, lang, r)
             |        AS pos FROM v),
             |h AS (SELECT * FROM p WHERE pos <= 200),
             |t AS (SELECT sum(w_raw) AS tw FROM g)
             |SELECT lang, CAST(max(n_src) AS BIGINT) AS n_src,
             |  round(max(w_raw) / max(tw), 6) AS target_w,
             |  CAST(count(*) AS BIGINT) AS sched_n,
             |  CAST(count(*) AS DOUBLE) / 200 AS share,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos
             |FROM h, t GROUP BY lang""".stripMargin)),

    Q("q141_stream_stream_join",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAM-STREAM interval join end-to-end (the q89 rails, join
        // flavor): clicks and purchases from ONE file stream (two
        // micro-batches split at the fixture's time midpoint, pinned
        // order) joined click→purchase-within-30-min per user, 1 h
        // watermark. The time split makes the emitted set EXACTLY the
        // batch interval join: batch-B rows all sit above batch-A's
        // watermark (nothing is late-dropped), and any cross-batch
        // match partner is younger than every state watermark when its
        // second side arrives — so eviction (which demonstrably fires;
        // spec-asserted via numRowsRemoved) only ever removes
        // unmatchable state. The oracle replays the plain interval
        // join; lag is exact integer microseconds. Only the two joined
        // event types are staged (other types feed neither side nor
        // either branch's watermark), and the state-store partition
        // count drops to 8 for the run — 32 partitions × 4 stores × 2
        // batches of commit I/O dominated the wall clock (~10 s → ~4 s)
        // while the join itself is a few hundred state rows.
        import java.nio.file.Files
        val ev = tbl("events")
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("ts"),
            col("user_id"), col("event_type"))
        val dir = tempStagingDir("graft_q141_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        val cut = lit("2024-01-16").cast("timestamp")
        stageStreamFile(ev.filter(col("ts") < cut), src, "batch_a",
          now - 120000)
        stageStreamFile(ev.filter(col("ts") >= cut), src, "batch_b",
          now - 60000)
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .withWatermark("ts", "1 hour")
        val clicks = stream.filter(col("event_type") === "click")
          .select(col("user_id").as("l_user"), col("event_id").as("click_id"),
            col("ts").as("l_ts"))
        val purchases = stream.filter(col("event_type") === "purchase")
          .select(col("user_id").as("r_user"),
            col("event_id").as("purchase_id"), col("ts").as("r_ts"))
        val joined = streaming.EventStreams.intervalJoin(
            clicks, purchases, "l_user", "r_user", "l_ts", "r_ts",
            maxDelaySec = 1800L)
          .select(col("l_user").as("user_id"), col("click_id"),
            col("purchase_id"),
            (unix_micros(col("r_ts")) - unix_micros(col("l_ts")))
              .as("lag_us"))
        val prevParts = s.conf.get("spark.sql.shuffle.partitions")
        try {
          s.conf.set("spark.sql.shuffle.partitions", "8")
          val query = joined.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", dir.resolve("ckpt").toString)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          query.awaitTermination()
        } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
        s.read.parquet(out)
          .select(col("user_id"), col("click_id"), col("purchase_id"),
            col("lag_us").cast("long").as("lag_us"))
      },
      Some("""WITH l AS (SELECT user_id, event_id AS click_id, ts AS l_ts
             |           FROM events WHERE event_type = 'click'),
             |r AS (SELECT user_id, event_id AS purchase_id, ts AS r_ts
             |      FROM events WHERE event_type = 'purchase')
             |SELECT l.user_id, l.click_id, r.purchase_id,
             |  CAST(epoch_us(r_ts) - epoch_us(l_ts) AS BIGINT) AS lag_us
             |FROM l JOIN r ON l.user_id = r.user_id
             |  AND r_ts >= l_ts
             |  AND r_ts <= l_ts + INTERVAL 30 MINUTE""".stripMargin)),

    Q("q142_corpus_diversity",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Exact mean pairwise cosine per label + whole-corpus, via the
        // sum-vector identity (Embeddings.meanPairwiseCosine): the
        // quadratic diversity statistic from ONE linear pass — no pair
        // is ever formed, the only exchange is |groups|·dim partial
        // sums. The oracle replays the identity with the same
        // normalize → per-dim sum → Σs² arithmetic; n is exact, the
        // ln-free float path rounds at 6 (sums of continuous values,
        // the established convention). An all-pairs oracle would ALSO
        // agree (EmbeddingsSpec asserts the identity against brute
        // force) but replaying the identity keeps the compare
        // operand-order-stable.
        val emb = tbl("embeddings")
        val byLabel = operators.Embeddings
          .meanPairwiseCosine(emb, "embedding", Seq("label"))
          .select(col("label").cast("string").as("grp"), col("n"),
            round(col("mean_cos"), 6).as("mean_cos"))
        val global = operators.Embeddings
          .meanPairwiseCosine(emb, "embedding", Nil)
          .select(lit("all").as("grp"), col("n"),
            round(col("mean_cos"), 6).as("mean_cos"))
        byLabel.unionByName(global)
      },
      Some("""WITH e AS (SELECT CAST(label AS VARCHAR) AS grp,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |nm AS (SELECT grp, v,
             |    sqrt(list_sum(list_transform(v, x -> x * x))) AS norm
             |  FROM e),
             |u AS (SELECT grp, list_transform(v, x -> x / norm) AS u
             |      FROM nm WHERE norm > 0),
             |x AS (SELECT grp, unnest(u) AS x,
             |    generate_subscripts(u, 1) AS dim FROM u),
             |sv AS (SELECT grp, dim, sum(x) AS sv, count(*) AS cnt
             |       FROM x GROUP BY 1, 2),
             |pg AS (SELECT grp, sum(sv * sv) AS ssq, max(cnt) AS n
             |       FROM sv GROUP BY 1),
             |ag AS (SELECT 'all' AS grp, sum(sv * sv) AS ssq, max(cnt) AS n
             |       FROM (SELECT dim, sum(sv) AS sv, sum(cnt) AS cnt
             |             FROM sv GROUP BY 1) GROUP BY 1)
             |SELECT grp, CAST(n AS BIGINT) AS n,
             |  CASE WHEN n > 1
             |    THEN round((ssq - n) / (n * (n - 1.0)), 6) END AS mean_cos
             |FROM pg
             |UNION ALL
             |SELECT grp, CAST(n AS BIGINT) AS n,
             |  CASE WHEN n > 1
             |    THEN round((ssq - n) / (n * (n - 1.0)), 6) END AS mean_cos
             |FROM ag""".stripMargin)),

    Q("q143_hard_negatives",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Hard-negative mining under oracle: for each anchor (every
        // 50th vector), the top-5 most-similar OTHER-label vectors
        // below the 0.95 near-dup screen — the contrastive-training
        // pair generator. q26's determinism discipline (native double
        // cosine vs list_cosine_similarity, neighbor_id tiebreak,
        // display rounding only); the class filter runs BEFORE the
        // ranking window so excluded rows never shuffle. Scale path:
        // the same filter+rank over an IVFADC-R shortlist
        // (Similarity.hardNegatives scaladoc).
        val emb = tbl("embeddings")
        Similarity.hardNegatives(emb, emb.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 5, dupThreshold = 0.95)
      },
      Some("""WITH q AS (SELECT vec_id AS query_id, label AS q_label,
             |    CAST(embedding AS DOUBLE[]) AS qv
             |  FROM embeddings WHERE vec_id % 50 = 0),
             |c AS (SELECT vec_id AS neighbor_id, label AS n_label,
             |    CAST(embedding AS DOUBLE[]) AS cv
             |  FROM embeddings),
             |sc AS (SELECT query_id, q_label, neighbor_id, n_label,
             |    list_cosine_similarity(qv, cv) AS cos
             |  FROM q, c
             |  WHERE neighbor_id <> query_id AND n_label <> q_label),
             |r AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |        ORDER BY cos DESC, neighbor_id) AS rnk
             |      FROM sc WHERE cos < 0.95)
             |SELECT query_id, q_label, neighbor_id, n_label,
             |  CAST(rnk AS BIGINT) AS rnk, round(cos, 4) AS cos
             |FROM r WHERE rnk <= 5""".stripMargin)),

    Q("q144_embedding_drift",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Embedding-distribution drift between snapshots (the vector
        // sibling of q135's token drift / q138's categorical drift):
        // vec_id parity splits the corpus into two "crawls"; per label,
        // the cosine between snapshot centroids plus both counts. The
        // oracle replays the per-(label, snapshot, dim) means and the
        // centroid cosine with identical operand order; counts are
        // exact, the float path rounds at 6. Scale: the only
        // corpus-grain exchange carries 2·|labels|·dim partial means
        // (Embeddings.centroidShift).
        val emb = tbl("embeddings")
          .withColumn("snap", when(col("vec_id") % 2 === 0, "a")
            .otherwise("b"))
        operators.Embeddings.centroidShift(emb, "embedding",
            Seq("label"), "snap", "a", "b")
          .select(col("label").cast("string").as("grp"),
            col("n_a"), col("n_b"),
            round(col("cos_shift"), 6).as("cos_shift"))
      },
      Some("""WITH e AS (SELECT CAST(label AS VARCHAR) AS grp,
             |    CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS snap,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |x AS (SELECT grp, snap, unnest(v) AS x,
             |    generate_subscripts(v, 1) AS dim FROM e),
             |m AS (SELECT grp, snap, dim, avg(x) AS m, count(*) AS cnt
             |      FROM x GROUP BY 1, 2, 3),
             |p AS (SELECT grp, dim,
             |    max(CASE WHEN snap = 'a' THEN m END) AS ma,
             |    max(CASE WHEN snap = 'b' THEN m END) AS mb,
             |    max(CASE WHEN snap = 'a' THEN cnt END) AS na,
             |    max(CASE WHEN snap = 'b' THEN cnt END) AS nb
             |  FROM m GROUP BY 1, 2),
             |g AS (SELECT grp, sum(ma * mb) AS dot, sum(ma * ma) AS sa,
             |    sum(mb * mb) AS sb, max(na) AS n_a, max(nb) AS n_b
             |  FROM p GROUP BY 1)
             |SELECT grp, CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             |  CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
             |  CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
             |      AND sa > 0 AND sb > 0
             |    THEN round(dot / (sqrt(sa) * sqrt(sb)), 6)
             |  END AS cos_shift
             |FROM g""".stripMargin)),

    Q("q145_bpe_pair_stats",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // BPE training statistic under oracle: the top-20 adjacent
        // character pairs within whitespace words — iteration 1 of
        // Tokenizer.trainMerges' count→argmax loop (the full iterative
        // training is spec-gated: replaying the greedy merge fold in
        // SQL would re-implement the operator, not check it).
        // All-integer counts with a total (cnt, a, b) order, so the
        // ranking hash-matches exactly. Scale: the explode feeds a
        // partial aggregate — the exchange carries distinct pairs
        // (≤ alphabet²), never the corpus; the rank window sees only
        // those aggregated rows.
        val pairs = operators.Tokenizer.pairCounts(
          operators.Tokenizer.toSymbols(tbl("documents"), "text"))
        pairs
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("cnt").desc, col("a"), col("b"))).cast("long"))
          .filter(col("rnk") <= 20)
          .select(col("rnk"), col("a"), col("b"),
            col("cnt").cast("long").as("cnt"))
      },
      Some("""WITH w AS (SELECT unnest(string_split(text, ' ')) AS w
             |           FROM documents),
             |w2 AS (SELECT w FROM w WHERE length(w) >= 2),
             |i AS (SELECT w, unnest(generate_series(1, length(w) - 1))
             |        AS i FROM w2),
             |p AS (SELECT substr(w, CAST(i AS INT), 1) AS a,
             |    substr(w, CAST(i AS INT) + 1, 1) AS b FROM i),
             |c AS (SELECT a, b, count(*) AS cnt FROM p GROUP BY 1, 2),
             |r AS (SELECT a, b, cnt, row_number()
             |        OVER (ORDER BY cnt DESC, a, b) AS rnk FROM c)
             |SELECT CAST(rnk AS BIGINT) AS rnk, a, b,
             |  CAST(cnt AS BIGINT) AS cnt
             |FROM r WHERE rnk <= 20""".stripMargin)),

    Q("q146_quality_classifier",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Distributed LOGISTIC-REGRESSION training under oracle: 3
        // full-batch GD steps (lr 0.5, zero init) fitting is-English
        // from exact surface features (bounded length, lexical
        // diversity, stopword mass, punctuation) — the linear quality
        // classifier of the public GPT-3/CCNet curation recipe. Each
        // step is ONE corpus aggregate of dim+1 doubles; weights are
        // driver-held model parameters. The oracle unrolls the
        // identical 3 steps as CTEs — features are exact integer-ratio
        // doubles, z folds left-to-right, the update is w − lr·(Σg/n)
        // on both sides, so the trained weights agree to well inside
        // round-at-6 (exp's ≤1-ulp engine variance is the pow
        // precedent).
        import s.implicits._
        val docs = tbl("documents")
        val feats: Seq[Column] = Seq(
          lit(1.0),
          least(functions.Text.tokenCount(col("text")).cast("double")
            / lit(50d), lit(1d)),
          functions.Text.distinctTokenRatio(col("text")),
          functions.Text.stopwordRatio(col("text"), Stopwords),
          functions.Text.punctRatio(col("text")))
        val label = when(col("lang") === "en", 1.0).otherwise(0.0)
        val w = operators.Classifier.trainLogistic(docs, feats, label,
          iters = 3, lr = 0.5)
        Seq("bias", "len", "distinct", "stopword", "punct").zip(w)
          .toDF("feature", "weight")
          .select(col("feature"), round(col("weight"), 6).as("weight"))
      },
      Some {
        s"""$GdOracleCtes
           |SELECT 'bias' AS feature, round(v0, 6) AS weight FROM w3
           |UNION ALL SELECT 'len', round(v1, 6) FROM w3
           |UNION ALL SELECT 'distinct', round(v2, 6) FROM w3
           |UNION ALL SELECT 'stopword', round(v3, 6) FROM w3
           |UNION ALL SELECT 'punct', round(v4, 6) FROM w3""".stripMargin
      }),

    Q("q147_classifier_eval",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Threshold-sweep evaluation of q146's trained classifier:
        // confusion counts + precision/recall/F1 at τ ∈ {0.25, 0.5,
        // 0.75} — the operating-point readout that decides where the
        // quality gate cuts. Probabilities round to the 1e-6 grid
        // BEFORE thresholding (round-then-compare: the two engines'
        // independently trained weights agree to ~1e-12, so the
        // rounded probability is identical off a measure-zero
        // boundary); counts are exact integers, precision/recall exact
        // integer ratios, F1 a fixed deterministic op chain. The τ
        // fan-out feeds a partial aggregate keyed by τ — the exchange
        // carries |τ| rows.
        val docs = tbl("documents")
        val feats: Seq[Column] = Seq(
          lit(1.0),
          least(functions.Text.tokenCount(col("text")).cast("double")
            / lit(50d), lit(1d)),
          functions.Text.distinctTokenRatio(col("text")),
          functions.Text.stopwordRatio(col("text"), Stopwords),
          functions.Text.punctRatio(col("text")))
        val label = when(col("lang") === "en", 1.0).otherwise(0.0)
        val w = operators.Classifier.trainLogistic(docs, feats, label,
          iters = 3, lr = 0.5)
        operators.Classifier.confusionAt(docs, feats, label, w,
          Seq(0.25, 0.5, 0.75))
      },
      Some {
        s"""$GdOracleCtes,
           |ev AS (SELECT round(1.0 / (1.0 + exp(-(x0*v0 + x1*v1 + x2*v2
           |    + x3*v3 + x4*v4))), 6) AS p, y FROM f, w3),
           |t AS (SELECT unnest([0.25, 0.5, 0.75]) AS tau),
           |c AS (SELECT tau,
           |    sum(CASE WHEN p >= tau AND y = 1.0 THEN 1 ELSE 0 END) AS tp,
           |    sum(CASE WHEN p >= tau AND y = 0.0 THEN 1 ELSE 0 END) AS fp,
           |    sum(CASE WHEN p < tau AND y = 1.0 THEN 1 ELSE 0 END) AS fn,
           |    sum(CASE WHEN p < tau AND y = 0.0 THEN 1 ELSE 0 END) AS tn
           |  FROM ev, t GROUP BY 1),
           |m AS (SELECT tau, tp, fp, fn, tn,
           |    CASE WHEN tp + fp > 0
           |      THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
           |    CASE WHEN tp + fn > 0
           |      THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
           |  FROM c)
           |SELECT tau, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
           |  precision, recall,
           |  CASE WHEN precision IS NOT NULL AND recall IS NOT NULL
           |      AND precision + recall > 0
           |    THEN 2.0 * precision * recall / (precision + recall)
           |  END AS f1
           |FROM m""".stripMargin
      }),

    Q("q148_winnow_dup_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // WINNOWING (MOSS) overlap detection under oracle: char-8-gram
        // winnowing fingerprints (window 4, rightmost-min, the codegen
        // kernel), ubiquitous hashes (> 8 docs) dropped, pairs sharing
        // ≥ 3 distinct hashes reported. A planted 100-char substring
        // copy of doc 0 exercises the winnowing GUARANTEE (any shared
        // run ≥ w+k−1 = 11 chars lands a shared fingerprint) at every
        // SF. The oracle replays gram hashing (the hexInt digit
        // recipe), window minima, the frequency cut, and the pair
        // count — all integers, so the report hash-matches exactly.
        // Tie positions need no replay: a window's selected HASH is
        // its min regardless of which tied position carries it.
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") === 0)
          .select((col("doc_id") + 3000000).as("doc_id"),
            substring(col("text"), 11, 100).as("text"))
        Dedup.winnowDupPairs(docs.unionByName(planted), "doc_id", "text",
            k = 8, w = 4, maxDocs = 8L, minShared = 3L)
          .select(col("id_a"), col("id_b"),
            col("shared").cast("long").as("shared"))
      },
      Some {
        s"""WITH d AS (SELECT doc_id, text FROM documents
           |    UNION ALL
           |    SELECT doc_id + 3000000, substr(text, 11, 100)
           |    FROM documents WHERE doc_id = 0),
           |pos AS (SELECT doc_id, text,
           |    unnest(generate_series(1, length(text) - 7)) AS i
           |  FROM d WHERE length(text) >= 11),
           |g AS (SELECT doc_id, i,
           |    (${uTerms("md5(substr(text, CAST(i AS INT), 8) || ':win')")})
           |      AS h
           |  FROM pos),
           |nn AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
           |wv AS (SELECT wm.doc_id, wm.m FROM (
           |    SELECT doc_id, i AS p, min(h) OVER (PARTITION BY doc_id
           |        ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
           |      AS m
           |    FROM g) wm
           |  JOIN nn ON nn.doc_id = wm.doc_id
           |  WHERE wm.p <= nn.n - 3),
           |fp AS (SELECT DISTINCT doc_id, m AS h FROM wv),
           |live AS (SELECT h FROM
           |    (SELECT h, count(*) AS nd FROM fp GROUP BY 1)
           |  WHERE nd <= 8),
           |lf AS (SELECT fp.doc_id, fp.h FROM fp JOIN live USING (h))
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  CAST(count(*) AS BIGINT) AS shared
           |FROM lf a JOIN lf b ON a.h = b.h AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin
      }),

    Q("q149_jsonl_roundtrip",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // JSONL interchange round-trip — the LLM training-data
        // exchange format: documents exported as JSON lines
        // (`to_json(struct(...))` into a text sink), read back with an
        // EXPLICIT schema (sampling-based inference is a
        // nondeterminism source), and compared by the oracle against
        // the ORIGINAL table — so JSON escaping (quotes, backslashes,
        // multibyte text) must round-trip byte-exact or the hash
        // fails. Both legs are embarrassingly parallel: the export is
        // a narrow projection + partitioned write, the import a
        // schema-pinned scan; no shuffle anywhere.
        import java.nio.file.Files
        val docs = tbl("documents")
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
        val dir = tempStagingDir("graft_q149_")
          .resolve("jsonl").toString
        docs.select(to_json(struct(col("doc_id"), col("text"),
            col("lang"), col("source"))).as("value"))
          .write.mode("overwrite").text(dir)
        val schema = new org.apache.spark.sql.types.StructType()
          .add("doc_id", org.apache.spark.sql.types.LongType)
          .add("text", org.apache.spark.sql.types.StringType)
          .add("lang", org.apache.spark.sql.types.StringType)
          .add("source", org.apache.spark.sql.types.StringType)
        s.read.schema(schema).json(dir)
          .select(col("doc_id"), col("text"), col("lang"), col("source"))
      },
      Some("SELECT doc_id, text, lang, source FROM documents")),

    Q("q150_distinctive_terms",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Distinctive terms per language — the corpus-analysis readout
        // ("what characterizes this slice"): smoothed relative-rate
        // ratio (c_g+1)/(n_g+2) ÷ (c_rest+1)/(n_rest+2), top-5 per
        // language. Every score is a ratio of exact integer-derived
        // doubles (two correctly-rounded divisions + one more), so the
        // RANKING is bit-deterministic across engines — ties (equal
        // count pairs) break on the token. One token-keyed shuffle for
        // the counts; group totals are a |langs|-row broadcast; the
        // per-language top-5 plans as a WindowGroupLimit.
        val docs = tbl("documents")
        val tok = docs.select(col("lang"),
          explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
        val cg = tok.groupBy("lang", "tok").agg(count(lit(1)).as("c_g"))
        val ct = tok.groupBy("tok").agg(count(lit(1)).as("c_t"))
        val ng = tok.groupBy("lang").agg(count(lit(1)).as("n_g"))
        val nt = tok.agg(count(lit(1)).as("n_t"))
        val scored = cg.join(broadcast(ng), Seq("lang"))
          .join(ct, Seq("tok"))
          .crossJoin(broadcast(nt))
          .withColumn("c_rest", col("c_t") - col("c_g"))
          .withColumn("n_rest", col("n_t") - col("n_g"))
          .withColumn("score",
            ((col("c_g") + 1).cast("double") / (col("n_g") + 2)) /
              ((col("c_rest") + 1).cast("double") / (col("n_rest") + 2)))
        scored
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
              .orderBy(col("score").desc, col("tok"))).cast("long"))
          .filter(col("rnk") <= 5)
          .select(col("lang"), col("rnk"), col("tok"),
            col("c_g").cast("long").as("c_g"),
            round(col("score"), 6).as("score"))
      },
      Some("""WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS tok
             |           FROM documents),
             |tk AS (SELECT lang, tok FROM t WHERE length(tok) > 0),
             |cg AS (SELECT lang, tok, count(*) AS c_g FROM tk GROUP BY 1, 2),
             |ct AS (SELECT tok, count(*) AS c_t FROM tk GROUP BY 1),
             |ng AS (SELECT lang, count(*) AS n_g FROM tk GROUP BY 1),
             |nt AS (SELECT count(*) AS n_t FROM tk),
             |sc AS (SELECT cg.lang, cg.tok, cg.c_g,
             |    (CAST(cg.c_g + 1 AS DOUBLE) / (ng.n_g + 2))
             |      / (CAST(ct.c_t - cg.c_g + 1 AS DOUBLE)
             |         / (nt.n_t - ng.n_g + 2)) AS score
             |  FROM cg JOIN ng USING (lang) JOIN ct USING (tok), nt),
             |r AS (SELECT lang, tok, c_g, score, row_number()
             |        OVER (PARTITION BY lang ORDER BY score DESC, tok)
             |        AS rnk FROM sc)
             |SELECT lang, CAST(rnk AS BIGINT) AS rnk, tok,
             |  CAST(c_g AS BIGINT) AS c_g, round(score, 6) AS score
             |FROM r WHERE rnk <= 5""".stripMargin)),

    Q("q151_sgd_classifier",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Deterministic MINI-BATCH SGD under oracle — q146's scale
        // variant: step t trains on the ~50% of docs whose content
        // coin (md5-hex6, salt ":sgd<t>") lands under 2^23 on the 16^6
        // integer grid (the assignSplit discipline — batch membership
        // is a pure function of the key, identical on any partitioning
        // or cluster size, no RNG state), normalized by that batch's
        // own count. The oracle unrolls the same three coin-filtered
        // steps; the threshold compare is pure integers, so the batch
        // SEQUENCE is hash-exact and the weights agree at round-6 like
        // q146.
        import s.implicits._
        val docs = tbl("documents")
        val feats: Seq[Column] = Seq(
          lit(1.0),
          least(functions.Text.tokenCount(col("text")).cast("double")
            / lit(50d), lit(1d)),
          functions.Text.distinctTokenRatio(col("text")),
          functions.Text.stopwordRatio(col("text"), Stopwords),
          functions.Text.punctRatio(col("text")))
        val label = when(col("lang") === "en", 1.0).otherwise(0.0)
        val w = operators.Classifier.trainLogisticSgd(docs, feats, label,
          col("doc_id"), iters = 3, lr = 0.5, thresholdNum = 1 << 23)
        Seq("bias", "len", "distinct", "stopword", "punct").zip(w)
          .toDF("feature", "weight")
          .select(col("feature"), round(col("weight"), 6).as("weight"))
      },
      Some {
        s"""${SgdOracleCtes(1L << 23)}
           |SELECT 'bias' AS feature, round(v0, 6) AS weight FROM w3
           |UNION ALL SELECT 'len', round(v1, 6) FROM w3
           |UNION ALL SELECT 'distinct', round(v2, 6) FROM w3
           |UNION ALL SELECT 'stopword', round(v3, 6) FROM w3
           |UNION ALL SELECT 'punct', round(v4, 6) FROM w3""".stripMargin
      }),

    Q("q152_retrieval_eval",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Known-item retrieval evaluation (MRR@10) of the BM25 stack:
        // every 40th doc probes the corpus with its own first 3
        // (lowercased) tokens; the relevant doc is the source itself.
        // Composes q93's multi-query scorer (one corpus pass, rounded
        // scores, (score desc, id) rank) with Retrieval.knownItemEval —
        // everything after the ranking runs at |queries|·k grain. rr is
        // an exact integer ratio; MRR (the one cross-query sum) rounds
        // at 6. The oracle replays scoring, ranking, the self-rank
        // lookup, and the mean.
        val docs = tbl("documents")
        val probes = docs.filter(col("doc_id") % 40 === 0)
          .select(col("doc_id").as("query_id"),
            slice(split(lower(col("text")), " "), 1, 3).as("terms"))
        val top = operators.Retrieval.bm25TopK(docs, "doc_id", "text",
            probes, "query_id", "terms", k = 10)
        operators.Retrieval.knownItemEval(top, probes, "query_id", "id")
          .select(col("query_id"), col("self_rank"), col("rr"), col("mrr"))
      },
      Some("""WITH p AS (SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             |  string_split(lower(text), ' ') AS w FROM documents),
             |q AS (SELECT DISTINCT doc_id AS query_id, unnest(w[1:3]) AS term
             |      FROM p WHERE doc_id % 40 = 0),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
             |       FROM p),
             |tf AS (SELECT doc_id, dl, t AS term,
             |    CAST(count(*) AS DOUBLE) AS f
             |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM p)
             |  WHERE t IN (SELECT term FROM q)
             |  GROUP BY doc_id, dl, t),
             |idf AS (SELECT term,
             |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
             |  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
             |        FROM tf GROUP BY term), st),
             |sc AS (SELECT q.query_id, tf.doc_id,
             |    round(sum(idf.idf * tf.f * 2.2 / (tf.f + 1.2 *
             |      (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
             |  FROM tf JOIN idf USING (term) JOIN q ON q.term = tf.term
             |  GROUP BY q.query_id, tf.doc_id),
             |rk AS (SELECT query_id, doc_id, row_number()
             |    OVER (PARTITION BY query_id ORDER BY score DESC, doc_id)
             |    AS rank FROM sc),
             |self AS (SELECT query_id, rank FROM rk
             |         WHERE doc_id = query_id AND rank <= 10),
             |base AS (SELECT DISTINCT query_id FROM q),
             |j AS (SELECT b.query_id, self.rank AS self_rank,
             |    coalesce(1.0 / self.rank, 0.0) AS rr
             |  FROM base b LEFT JOIN self USING (query_id)),
             |m AS (SELECT round(avg(rr), 6) AS mrr FROM j)
             |SELECT CAST(query_id AS BIGINT) AS query_id,
             |  CAST(self_rank AS BIGINT) AS self_rank, rr, mrr
             |FROM j, m""".stripMargin)),

    Q("q153_negative_sampling",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Inverse-CDF categorical sampling under oracle: 1000
        // deterministic draws from the freq^0.75 unigram distribution
        // (the word2vec/NCE negative-sampling table), reported as
        // per-token draw counts with the expected probability. Coins
        // are the open 16^6 grid; cumulative interval bounds follow
        // one fixed (weight desc, token) order on both engines, so a
        // draw flips token only within an ulp of a boundary (the pow
        // measure-zero class). Scale: the vocabulary layout is a
        // model-grain window + broadcast (Sampling.inverseCdfDraws'
        // bucketized equi-join — no draws×vocab comparison); the draw
        // side is embarrassingly parallel.
        val vocab = tbl("documents")
          .select(explode(split(col("text"), " ")).as("token"))
          .filter(length(col("token")) > 0)
          .groupBy("token").agg(count(lit(1)).as("c"))
          .withColumn("w", pow(col("c").cast("double"), 0.75))
        val draws = operators.Sampling.inverseCdfDraws(
          vocab, "token", "w", n = 1000, salt = ":negs")
        val tot = vocab.agg(sum(col("w")).as("tw"))
        draws.groupBy("token").agg(count(lit(1)).as("drawn"))
          .join(vocab.select(col("token"), col("w")), Seq("token"))
          .crossJoin(broadcast(tot))
          .select(col("token"), col("drawn").cast("long").as("drawn"),
            round(col("w") / col("tw"), 6).as("expect_p"))
      },
      Some {
        s"""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS token
           |            FROM documents),
           |vc AS (SELECT token, count(*) AS c FROM tk
           |       WHERE length(token) > 0 GROUP BY 1),
           |w AS (SELECT token, pow(CAST(c AS DOUBLE), 0.75) AS w FROM vc),
           |cum AS (SELECT token, w, sum(w) OVER (ORDER BY w DESC, token
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
           |  FROM w),
           |v AS (SELECT token, w, hi, hi - w AS lo FROM cum),
           |t AS (SELECT max(hi) AS total FROM v),
           |tw AS (SELECT sum(w) AS tw FROM w),
           |dr AS (SELECT i,
           |    ((${uTerms("md5(CAST(i AS VARCHAR) || ':negs')")})
           |      + 0.5) / 16777216.0 AS u
           |  FROM range(1, 1001) r(i)),
           |j AS (SELECT dr.i, v.token
           |      FROM dr, t, v
           |      WHERE dr.u * t.total >= v.lo AND dr.u * t.total < v.hi),
           |cnt AS (SELECT token, count(*) AS drawn FROM j GROUP BY 1)
           |SELECT cnt.token, CAST(cnt.drawn AS BIGINT) AS drawn,
           |  round(w.w / tw.tw, 6) AS expect_p
           |FROM cnt JOIN w USING (token), tw""".stripMargin
      }),

    Q("q154_fim_transform",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Fill-in-the-middle preprocessing under oracle: ~50% of docs
        // (content-coin gated on the 16^6 grid) re-emit in PSM order
        // with two coin-chosen token cuts; the rest pass through. The
        // oracle replays the apply coin, both cut coins, the three
        // token slices, and the sentinel assembly — a wrong modulus,
        // slice bound, or segment order changes a string and fails the
        // hash. Zero shuffle: the transform is split/slice/concat per
        // row (Packing.fimTransform).
        operators.Packing.fimTransform(tbl("documents"), "doc_id", "text",
            rateNum = 1 << 23)
          .select(col("doc_id"), col("fim"), col("text_out"))
      },
      Some {
        def coin(salt: String) =
          s"(${uTerms(s"md5(CAST(doc_id AS VARCHAR) || '$salt')")})"
        s"""WITH p AS (SELECT doc_id, text,
           |    string_split(text, ' ') AS w,
           |    len(string_split(text, ' ')) AS n FROM documents),
           |c AS (SELECT doc_id, text, w, n,
           |    ${coin(":fimr")} < ${1 << 23} AS applied,
           |    ${coin(":fima")} % (n + 1) AS a,
           |    ${coin(":fimb")} % (n + 1) AS b
           |  FROM p),
           |cut AS (SELECT doc_id, text, w, n, applied,
           |    least(a, b) AS c1, greatest(a, b) AS c2 FROM c)
           |SELECT doc_id,
           |  CAST(CASE WHEN applied THEN 1 ELSE 0 END AS BIGINT) AS fim,
           |  CASE WHEN applied THEN '<PRE> '
           |      || coalesce(array_to_string(w[1:c1], ' '), '')
           |      || ' <SUF> '
           |      || coalesce(array_to_string(w[c2+1:n], ' '), '')
           |      || ' <MID> '
           |      || coalesce(array_to_string(w[c1+1:c2], ' '), '')
           |    ELSE text END AS text_out
           |FROM cut""".stripMargin
      }),

    Q("q155_quality_calibration",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Per-source quality-score CALIBRATION — the fix for the
        // classic curation bug where one source's scorer skew eats the
        // whole budget: each doc's raw q29 quality maps to its
        // percent_rank WITHIN its source (an exact integer ratio
        // (rank−1)/(n−1)), making a single global threshold mean "top
        // X% of every source". Output contrasts the raw-threshold and
        // calibrated-threshold keep decisions, plus the per-source
        // keep counts under each — the exact rows where calibration
        // changes the cut are under oracle. Scale: one window
        // partitioned by source (the packing shard discipline), all
        // decisions integer/exact-ratio arithmetic.
        val q = functions.Text.qualityScore(col("text"), Stopwords)
        val scored = tbl("documents").select(col("doc_id"),
          col("source"), q.as("quality"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source"))
          .orderBy(col("quality").asc, col("doc_id").asc)
        scored
          .withColumn("pct", percent_rank().over(w))
          .select(col("doc_id"), col("source"), col("quality"),
            round(col("pct"), 6).as("pct"),
            when(col("quality") >= 0.55, 1L).otherwise(0L).as("keep_raw"),
            when(col("pct") >= 0.5, 1L).otherwise(0L).as("keep_cal"))
      },
      Some(s"""WITH m AS (SELECT doc_id, source,
              |  len(string_split(text, ' ')) AS n_tok,
              |  len(list_distinct(string_split(text, ' '))) AS n_dis,
              |  len(list_filter(string_split(text, ' '),
              |      t -> t IN ($StopSql))) AS n_sw,
              |  length(text) AS n_ch,
              |  length(regexp_replace(text, '[[:punct:]]', '', 'g'))
              |    AS n_np
              |  FROM documents),
              |sc AS (SELECT doc_id, source, round(
              |  least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |  + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5,
              |      1.0) * 0.2
              |  + greatest(0.0, 1.0 - (CAST(n_ch - n_np AS DOUBLE)
              |      / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality
              |  FROM m),
              |pr AS (SELECT doc_id, source, quality,
              |    percent_rank() OVER (PARTITION BY source
              |      ORDER BY quality, doc_id) AS pct
              |  FROM sc)
              |SELECT doc_id, source, quality, round(pct, 6) AS pct,
              |  CAST(CASE WHEN quality >= 0.55 THEN 1 ELSE 0 END
              |    AS BIGINT) AS keep_raw,
              |  CAST(CASE WHEN pct >= 0.5 THEN 1 ELSE 0 END
              |    AS BIGINT) AS keep_cal
              |FROM pr""".stripMargin)),

    Q("q156_signal_correlation",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Pearson correlation matrix of the four quality signals — the
        // EDA step before weighting them (a pair of near-collinear
        // signals double-counts in any composite score). Computed from
        // explicit raw sums with a FIXED formula
        // (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²)) rather
        // than the engines' own corr() (whose co-moment update orders
        // differ) — the oracle replays the identical op chain, sums of
        // continuous values round at 6. ONE corpus aggregate of 15
        // partial sums (the exchange carries 15 doubles per
        // partition); the 6-pair readout is a bounded projection.
        val sigs = Seq(
          "len" -> least(functions.Text.tokenCount(col("text"))
            .cast("double") / lit(50d), lit(1d)),
          "dis" -> functions.Text.distinctTokenRatio(col("text")),
          "sw" -> functions.Text.stopwordRatio(col("text"), Stopwords),
          "atl" -> (functions.Text.avgTokenLength(col("text")) / lit(10d)),
          "pu" -> functions.Text.punctRatio(col("text")))
        val m = tbl("documents").select(
          sigs.map { case (nm, c) => c.as(nm) }: _*)
        val aggs = Seq(count(lit(1)).cast("double").as("n")) ++
          sigs.map { case (nm, _) => sum(col(nm)).as(s"s_$nm") } ++
          (for (i <- sigs.indices; j <- i until sigs.size) yield {
            val (a, b) = (sigs(i)._1, sigs(j)._1)
            sum(col(a) * col(b)).as(s"p_${a}_$b")
          })
        val one = m.agg(aggs.head, aggs.tail: _*)
        def r(a: String, b: String): Column = {
          val (x, y) = if (sigs.indexWhere(_._1 == a) <=
            sigs.indexWhere(_._1 == b)) (a, b) else (b, a)
          def vr(c: String): Column =
            col("n") * col(s"p_${c}_$c") - col(s"s_$c") * col(s"s_$c")
          // zero-variance signal → correlation undefined → NULL (the
          // fixture's punctuation signal is constant, so this guard is
          // itself under oracle)
          when(vr(a) > 0 && vr(b) > 0,
            (col("n") * col(s"p_${x}_$y") - col(s"s_$a") * col(s"s_$b")) /
              sqrt(vr(a) * vr(b)))
        }
        val pairs = for (i <- sigs.indices; j <- i + 1 until sigs.size)
          yield (sigs(i)._1, sigs(j)._1)
        // single corpus scan: the 1-row stats broadcast against the
        // 6-row pair table; r picked by a coalesced when-chain
        import s.implicits._
        val pairDf = pairs.toDF("sig_a", "sig_b")
        val rExpr = coalesce(pairs.map { case (a, b) =>
          when(col("sig_a") === a && col("sig_b") === b, r(a, b))
        }: _*)
        pairDf.crossJoin(broadcast(one))
          .select(col("sig_a"), col("sig_b"), round(rExpr, 6).as("r"))
      },
      Some {
        val sigsSql = Seq(
          "len" -> "least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0)",
          "dis" -> ("CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)"
            + " / len(string_split(text, ' '))"),
          "sw" -> (s"CAST(len(list_filter(string_split(text, ' '), t -> t IN ($StopSql))) AS DOUBLE)"
            + " / greatest(len(string_split(text, ' ')), 1)"),
          "atl" -> ("CAST(list_sum(list_transform(string_split(text, ' '), "
            + "t -> length(t))) AS DOUBLE) / len(string_split(text, ' ')) / 10"),
          "pu" -> ("CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)"
            + " / greatest(length(text), 1)"))
        val names = sigsSql.map(_._1)
        val prods = (for (i <- names.indices; j <- i until names.size)
          yield s"sum(${names(i)} * ${names(j)}) AS p_${names(i)}_${names(j)}")
          .mkString(",\n|    ")
        val pairSelects = (for (i <- names.indices; j <- i + 1 until names.size)
          yield {
            val (a, b) = (names(i), names(j))
            def vr(c: String) = s"(n * p_${c}_$c - s_$c * s_$c)"
            s"""SELECT '$a' AS sig_a, '$b' AS sig_b,
               |  round(CASE WHEN ${vr(a)} > 0 AND ${vr(b)} > 0
               |    THEN (n * p_${a}_$b - s_$a * s_$b)
               |      / sqrt(${vr(a)} * ${vr(b)}) END, 6) AS r
               |FROM agg""".stripMargin
          }).mkString("\n|UNION ALL ")
        s"""WITH f AS (SELECT
           |    ${sigsSql.map { case (n, e) => s"$e AS $n" }.mkString(",\n|    ")}
           |  FROM documents),
           |agg AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    ${names.map(n => s"sum($n) AS s_$n").mkString(",\n|    ")},
           |    $prods
           |  FROM f)
           |$pairSelects""".stripMargin
      }),

    Q("q157_span_corruption",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // T5 span corruption under oracle: ~5% of positions start
        // spans of 2-4 tokens (mean 3 → ~15% token corruption), runs
        // sentinel-replaced in the input and sentinel-prefixed in the
        // target. The mask runs as the codegen'd T5SpanMask kernel;
        // the oracle replays the independent-span rule as a
        // bounded-lookback EXISTS (maxSpan 4 → i−3..i), the run
        // numbering as a lag+cumsum window, and both assemblies as
        // ordered string_agg — a wrong coin, span length, lookback,
        // merge rule, or sentinel index changes a string and fails the
        // hash.
        operators.Packing.t5SpanCorrupt(tbl("documents"), "doc_id",
            "text", pNum = 838861, minLen = 2, lenRange = 3)
          .select(col("doc_id"), col("n_spans"), col("n_masked"),
            col("input_text"), col("target_text"))
      },
      Some {
        def coin(suffix: String) = uTerms(
          s"md5(CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) || '$suffix')")
        s"""WITH p AS (SELECT doc_id, string_split(text, ' ') AS w,
           |    len(string_split(text, ' ')) AS n FROM documents),
           |pos AS (SELECT doc_id, n, w,
           |    unnest(generate_series(1, n)) AS i FROM p),
           |g AS (SELECT doc_id, n, i, w[i] AS tok,
           |    (${coin(":t5s")}) < 838861 AS st,
           |    2 + (${coin(":t5l")}) % 3 AS ln
           |  FROM pos),
           |mk AS (SELECT a.doc_id, a.i, a.tok,
           |    max(CASE WHEN b.st AND b.i + b.ln > a.i
           |        THEN 1 ELSE 0 END) AS masked
           |  FROM g a JOIN g b ON b.doc_id = a.doc_id
           |    AND b.i BETWEEN a.i - 3 AND a.i
           |  GROUP BY 1, 2, 3),
           |rn AS (SELECT *, CASE WHEN masked = 1 AND
           |      coalesce(lag(masked) OVER (PARTITION BY doc_id
           |        ORDER BY i), 0) = 0 THEN 1 ELSE 0 END AS rstart
           |  FROM mk),
           |rid AS (SELECT *, sum(rstart) OVER (PARTITION BY doc_id
           |      ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
           |      CURRENT ROW) - 1 AS run
           |  FROM rn)
           |SELECT doc_id,
           |  CAST(coalesce(max(CASE WHEN masked = 1 THEN run END) + 1, 0)
           |    AS BIGINT) AS n_spans,
           |  CAST(sum(masked) AS BIGINT) AS n_masked,
           |  coalesce(string_agg(CASE WHEN masked = 0 THEN tok
           |      WHEN rstart = 1
           |        THEN '<X' || CAST(run AS VARCHAR) || '>' END,
           |    ' ' ORDER BY i), '') AS input_text,
           |  coalesce(string_agg(CASE WHEN masked = 1 THEN
           |      CASE WHEN rstart = 1
           |        THEN '<X' || CAST(run AS VARCHAR) || '> ' || tok
           |        ELSE tok END END,
           |    ' ' ORDER BY i), '') AS target_text
           |FROM rid GROUP BY doc_id""".stripMargin
      }),

    Q("q158_pagerank",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // PageRank under oracle: 5 synchronous iterations (d = 0.85)
        // over the bipartite user ↔ (hour, event_type) activity graph
        // — both edge directions supplied, so no dangling mass. Top-20
        // nodes ranked on ROUND-6 pr with a node-id tiebreak (the q84
        // round-before-rank discipline: the per-node in-mass sum is
        // the one order-sensitive float, ~5 ulp over 5 iterations).
        // The oracle unrolls the identical 5 iterations; the teleport
        // constant is written (1.0 − 0.85)/n on BOTH sides — the
        // binary value of 1.0−0.85 is not the literal 0.15.
        val ev = tbl("events")
        val typeIdx = when(col("event_type") === "click", 0L)
          .when(col("event_type") === "view", 1L)
          .when(col("event_type") === "purchase", 2L)
          .when(col("event_type") === "signup", 3L)
          .otherwise(4L)
        val hourIdx = (unix_timestamp(date_trunc("hour", col("ts")))
          / 3600).cast("long")
        val pairs = ev.select(col("user_id").as("u"),
          (lit(1000000L) + hourIdx * 8 + typeIdx).as("it")).distinct()
        val edges = pairs.select(col("u").as("src"), col("it").as("dst"))
          .unionByName(pairs.select(col("it").as("src"),
            col("u").as("dst")))
        val pr = operators.Graph.pageRank(edges, iters = 5, damping = 0.85)
        pr.withColumn("pr6", round(col("pr"), 6))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("pr6").desc, col("node"))).cast("long"))
          .filter(col("rank") <= 20)
          .select(col("rank"), col("node"), col("pr6").as("pr"))
      },
      Some {
        val iters = (1 to 5).map { k =>
          s"""c$k AS (SELECT ed.dst AS node, sum(p.pr / dg.deg) AS m
             |  FROM ed JOIN p${k - 1} p ON p.node = ed.src
             |  JOIN dg ON dg.src = ed.src
             |  GROUP BY 1),
             |p$k AS (SELECT ndd.node,
             |    (1.0 - 0.85) / nn.n + 0.85 * coalesce(c$k.m, 0.0) AS pr
             |  FROM nd ndd CROSS JOIN nn
             |  LEFT JOIN c$k ON c$k.node = ndd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id AS u,
           |    1000000 + (CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
           |      // 3600) * 8
           |    + CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
           |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
           |        ELSE 4 END AS it
           |  FROM events),
           |pe AS (SELECT DISTINCT u, it FROM ev),
           |ed AS (SELECT u AS src, it AS dst FROM pe
           |       UNION ALL SELECT it, u FROM pe),
           |nd AS (SELECT DISTINCT src AS node FROM ed),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
           |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
           |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nd CROSS JOIN nn),
           |$iters,
           |r AS (SELECT node, round(pr, 6) AS pr6, row_number()
           |    OVER (ORDER BY round(pr, 6) DESC, node) AS rank
           |  FROM p5)
           |SELECT CAST(rank AS BIGINT) AS rank, node, pr6 AS pr
           |FROM r WHERE rank <= 20""".stripMargin
      }),

    Q("q159_personalized_pagerank",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Personalized PageRank under oracle — seed-based expansion on
        // q158's bipartite activity graph: the surfer teleports to the
        // heavy purchasers (seed weight = purchase count), so rank
        // measures proximity to the seed cohort — the "find more like
        // my curated seed set" primitive of seed-and-expand curation.
        // Same 5-iteration rails, round-6-before-rank; teleport is
        // (1−0.85)·t_v with t_v the exact integer-ratio seed share.
        val ev = tbl("events")
        val typeIdx = when(col("event_type") === "click", 0L)
          .when(col("event_type") === "view", 1L)
          .when(col("event_type") === "purchase", 2L)
          .when(col("event_type") === "signup", 3L)
          .otherwise(4L)
        val hourIdx = (unix_timestamp(date_trunc("hour", col("ts")))
          / 3600).cast("long")
        val pairs = ev.select(col("user_id").as("u"),
          (lit(1000000L) + hourIdx * 8 + typeIdx).as("it")).distinct()
        val edges = pairs.select(col("u").as("src"), col("it").as("dst"))
          .unionByName(pairs.select(col("it").as("src"),
            col("u").as("dst")))
        val seeds = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("node"))
          .agg(count(lit(1)).cast("double").as("weight"))
        val pr = operators.Graph.personalizedPageRank(edges, seeds,
          iters = 5, damping = 0.85)
        pr.withColumn("pr6", round(col("pr"), 6))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("pr6").desc, col("node"))).cast("long"))
          .filter(col("rank") <= 20)
          .select(col("rank"), col("node"), col("pr6").as("pr"))
      },
      Some {
        val iters = (1 to 5).map { k =>
          s"""c$k AS (SELECT ed.dst AS node, sum(p.pr / dg.deg) AS m
             |  FROM ed JOIN p${k - 1} p ON p.node = ed.src
             |  JOIN dg ON dg.src = ed.src
             |  GROUP BY 1),
             |p$k AS (SELECT tl.node,
             |    (1.0 - 0.85) * tl.t + 0.85 * coalesce(c$k.m, 0.0) AS pr
             |  FROM tl LEFT JOIN c$k ON c$k.node = tl.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id AS u, event_type,
           |    1000000 + (CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
           |      // 3600) * 8
           |    + CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
           |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
           |        ELSE 4 END AS it
           |  FROM events),
           |pe AS (SELECT DISTINCT u, it FROM ev),
           |ed AS (SELECT u AS src, it AS dst FROM pe
           |       UNION ALL SELECT it, u FROM pe),
           |nd AS (SELECT DISTINCT src AS node FROM ed),
           |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
           |sw AS (SELECT u AS node, CAST(count(*) AS DOUBLE) AS w
           |       FROM ev WHERE event_type = 'purchase' GROUP BY 1),
           |tw AS (SELECT sum(w) AS tw FROM sw),
           |tl AS (SELECT nd.node, coalesce(sw.w, 0.0) / tw.tw AS t
           |       FROM nd CROSS JOIN tw
           |       LEFT JOIN sw ON sw.node = nd.node),
           |p0 AS (SELECT node, t AS pr FROM tl),
           |$iters,
           |r AS (SELECT node, round(pr, 6) AS pr6, row_number()
           |    OVER (ORDER BY round(pr, 6) DESC, node) AS rank
           |  FROM p5)
           |SELECT CAST(rank AS BIGINT) AS rank, node, pr6 AS pr
           |FROM r WHERE rank <= 20""".stripMargin
      }),

    Q("q160_threshold_stratified_take",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // The APPROXIMATE stratified take under the hash oracle — the
        // designated 100 TB stratified-carve path (q126's sibling that
        // never sorts or rank-windows the corpus: per-stratum coin
        // THRESHOLD at the quota quantile, then a narrow filter). At
        // this fixture every n_g < gridSteps/2, so the scaladoc's
        // derivation pins the sketch EXACTLY: the percentile grid
        // resolves to rank ceil(p·n_g) == quota, i.e. the threshold IS
        // the quota-th smallest coin, and the oracle replays that rank
        // convention directly (row_number over the md5 coin) plus the
        // tie semantics (coin <= thr keeps ALL rows sharing the
        // threshold coin). Beyond n_g ≥ gridSteps/2 the documented
        // grid-error band (≤ n_g/gridSteps undershoot) opens up and
        // the spec, not this oracle, asserts the band.
        operators.Sampling.thresholdStratifiedTake(
            tbl("documents"), "doc_id", "lang", frac = 0.2)
          .select(col("doc_id"), col("lang"))
      },
      Some {
        val uT = uTerms("h")
        s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
           |t AS (SELECT lang, n, floor(0.2 * n) AS fl, 0.2 * n - floor(0.2 * n) AS rem,
           |    CAST(round(0.2 * sum(n) OVER ()) AS BIGINT) AS target,
           |    sum(floor(0.2 * n)) OVER () AS sumfl,
           |    row_number() OVER (ORDER BY 0.2 * n - floor(0.2 * n) DESC, lang)
           |      AS rrank
           |  FROM c),
           |q AS (SELECT lang, CAST(fl + CASE WHEN rrank <= target - sumfl
           |      THEN 1 ELSE 0 END AS BIGINT) AS quota FROM t),
           |co AS (SELECT doc_id, lang, ($uT) AS ci
           |  FROM (SELECT doc_id, lang, md5(doc_id::VARCHAR || ':est') AS h
           |        FROM documents)),
           |th AS (SELECT lang, max(ci) AS thr
           |  FROM (SELECT lang, ci, row_number()
           |          OVER (PARTITION BY lang ORDER BY ci, doc_id) AS rn
           |        FROM co) x JOIN q USING (lang)
           |  WHERE rn <= quota GROUP BY lang)
           |SELECT co.doc_id, co.lang
           |FROM co JOIN th USING (lang) WHERE ci <= thr""".stripMargin
      }),

    Q("q161_pagerank_dangling",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // PageRank WITH dangling-mass redistribution under oracle: the
        // one-direction user → (hour, event_type) graph plants every
        // item node as a sink (no out-edges) — the standard web-graph
        // case q158's both-direction construction sidesteps. Each
        // iteration the sinks' rank mass dm re-enters through the
        // teleport (+ d·dm·(1/n) per node), so Σpr = 1 always; the
        // oracle unrolls the identical 5 iterations including the
        // per-round 1-row dm aggregate. Round-6-before-rank as q158.
        val ev = tbl("events")
        val typeIdx = when(col("event_type") === "click", 0L)
          .when(col("event_type") === "view", 1L)
          .when(col("event_type") === "purchase", 2L)
          .when(col("event_type") === "signup", 3L)
          .otherwise(4L)
        val hourIdx = (unix_timestamp(date_trunc("hour", col("ts")))
          / 3600).cast("long")
        val pairs = ev.select(col("user_id").as("u"),
          (lit(1000000L) + hourIdx * 8 + typeIdx).as("it")).distinct()
        val edges = pairs.select(col("u").as("src"), col("it").as("dst"))
        val pr = operators.Graph.pageRank(edges, iters = 5, damping = 0.85)
        pr.withColumn("pr6", round(col("pr"), 6))
          .withColumn("rank", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("pr6").desc, col("node"))).cast("long"))
          .filter(col("rank") <= 20)
          .select(col("rank"), col("node"), col("pr6").as("pr"))
      },
      Some {
        val iters = (1 to 5).map { k =>
          s"""c$k AS (SELECT ed.dst AS node, sum(p.pr / dg.deg) AS m
             |  FROM ed JOIN p${k - 1} p ON p.node = ed.src
             |  JOIN dg ON dg.src = ed.src
             |  GROUP BY 1),
             |d$k AS (SELECT coalesce(sum(p.pr), 0.0) AS dm
             |  FROM p${k - 1} p JOIN dang ON dang.node = p.node),
             |p$k AS (SELECT ndd.node,
             |    (1.0 - 0.85) / nn.n + 0.85 * coalesce(c$k.m, 0.0)
             |      + 0.85 * d$k.dm * (1.0 / nn.n) AS pr
             |  FROM nd ndd CROSS JOIN nn CROSS JOIN d$k
             |  LEFT JOIN c$k ON c$k.node = ndd.node)""".stripMargin
        }.mkString(",\n")
        s"""WITH ev AS (SELECT user_id AS u,
           |    1000000 + (CAST(epoch(date_trunc('hour', ts)) AS BIGINT)
           |      // 3600) * 8
           |    + CASE event_type WHEN 'click' THEN 0 WHEN 'view' THEN 1
           |        WHEN 'purchase' THEN 2 WHEN 'signup' THEN 3
           |        ELSE 4 END AS it
           |  FROM events),
           |pe AS (SELECT DISTINCT u, it FROM ev),
           |ed AS (SELECT u AS src, it AS dst FROM pe),
           |nd AS (SELECT node FROM (SELECT src AS node FROM ed
           |       UNION SELECT dst FROM ed)),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nd),
           |dg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
           |dang AS (SELECT nd.node FROM nd WHERE NOT EXISTS
           |  (SELECT 1 FROM dg WHERE dg.src = nd.node)),
           |p0 AS (SELECT node, 1.0 / nn.n AS pr FROM nd CROSS JOIN nn),
           |$iters,
           |r AS (SELECT node, round(pr, 6) AS pr6, row_number()
           |    OVER (ORDER BY round(pr, 6) DESC, node) AS rank
           |  FROM p5)
           |SELECT CAST(rank AS BIGINT) AS rank, node, pr6 AS pr
           |FROM r WHERE rank <= 20""".stripMargin
      }),

    Q("q162_ann_store_maintenance",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // ANN STORE MAINTENANCE — the q91/q98 lifecycle applied to the
        // IVF-PQ index (closing q130's ingest-only gap): tombstone
        // deletes (merge-on-read, O(delete batch), store untouched), a
        // REPLAYED append (the halt-retry event that leaves duplicate
        // rows), compaction (dedup by id + fold tombstones + clear),
        // then a copy-on-write upsert with genuinely CHANGED vectors.
        // Contracts in-plan (frozen models aren't SQL-replayable — the
        // q130 pattern):
        //  (a) decision-invisibility: probes with tombstones PENDING
        //      (before the replay) equal probes after compaction
        //      row-for-row — merge-on-read filtering, replay-dup
        //      absorption, and tombstone folding never change an
        //      answer;
        //  (b) the post-upsert store answers exactly like a monolithic
        //      IVF-PQ index over the logical live corpus (initial −
        //      deletes + batch, upserted rows replaced);
        //  (c) row accounting: the replay IS visible in storage
        //      (|initial| + 2·|batch| rows before compaction) and
        //      gone after (one row per live id, upsert count-neutral).
        // validateAnnStore gates the compacted store in-plan; both
        // bucket layouts (store on cell_id, tombstones on id) are
        // preserved across every step — spec-asserted in
        // AnnMaintenanceSpec, not here.
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val table = "q162_ann_store"
        dropTables(s, table, s"${table}_deletes")
        val initial = emb.filter(col("vec_id") % 3 =!= 0)
        val (model, _) = Similarity.pqTrain(initial, "vec_id", "embedding",
          dim = 64, m = 8, ksub = 16, iters = 2)
        val cents = Similarity.trainCentroidsKMeans(initial, "vec_id",
          "embedding", dim = 64, cells = 8, iters = 2)
        val cs = Similarity.collectCentroids(cents)
        operators.Incremental.writeAnnStore(initial, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val batch1 = emb.filter(col("vec_id") % 3 === 0 &&
          expr("(vec_id div 3) % 2 = 0"))
        operators.Incremental.appendToAnnStore(batch1, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val delIds = initial.filter(col("vec_id") % 7 === 0)
          .select(col("vec_id").as("id"))
        operators.Incremental.deleteFromAnnStore(s, delIds, table,
          numBuckets = 8)
        val queries = emb.filter(col("vec_id") % 101 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        // probe with tombstones PENDING (merge-on-read), frozen before
        // the store mutates further
        val pre = ck.proxy(operators.Incremental.annStoreTopK(s, table,
            queries,
            "vec_id", "embedding", cs, model, k = 5, nProbe = 8,
            honorDeletes = true))
        // the halt-retry: the SAME batch appends again → duplicate rows
        operators.Incremental.appendToAnnStore(batch1, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val nBefore = ck.proxy(
          s.table(table).agg(count(lit(1)).as("n_before")))
        operators.Incremental.compactAnnStore(s, table, numBuckets = 8)
        require(operators.Incremental.validateAnnStore(s, table, m = 8),
          "ANN store invalid after compaction")
        val post = ck.proxy(operators.Incremental.annStoreTopK(s, table,
            queries,
            "vec_id", "embedding", cs, model, k = 5, nProbe = 8,
            honorDeletes = true))
        // copy-on-write upsert: re-encode CHANGED vectors (scaled 2x)
        val ups = emb.filter(col("vec_id") % 11 === 0 &&
            col("vec_id") % 3 =!= 0 && col("vec_id") % 7 =!= 0)
          .select(col("vec_id"),
            transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
        operators.Incremental.upsertAnnStore(s, ups, "vec_id", "embedding",
          cs, model, table, numBuckets = 8)
        val fin = operators.Incremental.annStoreTopK(s, table, queries,
          "vec_id", "embedding", cs, model, k = 5, nProbe = 8,
          honorDeletes = true)
        // logical live corpus the store must now answer for
        val live = initial.unionByName(batch1)
          .join(delIds.select(col("id").as("vec_id")), Seq("vec_id"),
            "left_anti")
          .join(ups.select("vec_id"), Seq("vec_id"), "left_anti")
          .unionByName(ups)
        val mono = Similarity.ivfPqTopK(live, queries, cents, "vec_id",
          "embedding", model, k = 5, nProbe = 8)
        def diffStats(a: org.apache.spark.sql.DataFrame,
                      b: org.apache.spark.sql.DataFrame,
                      nRows: String, nDiff: String) =
          a.withColumnRenamed("neighbor_id", "n_a")
            .withColumnRenamed("adc", "adc_a")
            .join(b.withColumnRenamed("neighbor_id", "n_b")
              .withColumnRenamed("adc", "adc_b"),
              Seq("query_id", "rnk"), "full")
            .agg(count(lit(1)).as(nRows),
              sum(when(col("n_a") === col("n_b") &&
                col("adc_a") === col("adc_b"), lit(0L)).otherwise(lit(1L)))
                .as(nDiff))
        val inv = diffStats(pre, post, "n_pp", "d_pp")
        val eqm = diffStats(fin, mono, "n_fm", "d_fm")
        val nStore = s.table(table).agg(count(lit(1)).as("n_store"))
        val nLive = live.agg(count(lit(1)).as("n_live"))
        val nInit = initial.agg(count(lit(1)).as("n_init"))
        val nB1 = batch1.agg(count(lit(1)).as("n_b1"))
        inv.crossJoin(broadcast(eqm)).crossJoin(broadcast(nStore))
          .crossJoin(broadcast(nLive)).crossJoin(broadcast(nInit))
          .crossJoin(broadcast(nB1)).crossJoin(broadcast(nBefore))
          .select(
            Clean.flag(col("d_pp") === 0 && col("n_pp") > 0)
              .as("maintenance_invisible"),
            Clean.flag(col("d_fm") === 0 && col("n_fm") > 0)
              .as("store_eq_monolithic"),
            Clean.flag(col("n_before") === col("n_init") + lit(2) * col("n_b1")
              && col("n_store") === col("n_live"))
              .as("row_accounting_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS maintenance_invisible,
             |CAST(1 AS BIGINT) AS store_eq_monolithic,
             |CAST(1 AS BIGINT) AS row_accounting_ok""".stripMargin)),

    Q("q163_mixture_pipeline",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // The TRAINING-MIX ASSEMBLY PIPELINE end-to-end under ONE
        // oracle (the q99 composition discipline applied to q140 →
        // q78 → q74): the α=0.5 stride schedule picks WHICH document
        // fills each stream position (slot r of language g = the r-th
        // doc of g in doc_id order), the scheduled stream is packed
        // greedily no-split at budget 256 IN SCHEDULE ORDER, and each
        // chunk's text is assembled in that order. The stage COUPLING
        // is what the per-stage oracles can't see and this one pins:
        // packing must consume the stream by `pos`, not by doc id —
        // `lang_seq` (the chunk's language sequence) and the exact
        // chunk boundaries both hash-fail if any stage re-sorts,
        // truncates, or mis-joins the handoff. Scale: schedule ≤
        // |langs|·head rows, the rank join is a per-lang window at
        // corpus grain once, packing's fold is the q78 single-shuffle
        // mapPartitions (one head-bounded stream here), assembly
        // groups ≤ budget tokens per chunk.
        val sched = operators.Packing.strideInterleave(
          tbl("documents"), "lang", alpha = 0.5, head = 200)
        val ranked = tbl("documents")
          .select(col("doc_id"), col("lang"), col("text"))
          .withColumn("r", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("lang")).orderBy(col("doc_id"))).cast("long"))
        val stream = sched.select(col("pos"), col("lang"), col("r"))
          .join(ranked, Seq("lang", "r"))
          .withColumn("stream", lit(0L))
        val packed = operators.Packing.packGreedyNoSplit(stream, "pos",
          "text", "stream", tokenBudget = 256)
        packed.join(stream.select(col("pos"), col("lang"), col("text")),
            Seq("pos"))
          .groupBy(col("chunk_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tok"),
            min(col("pos")).as("first_pos"),
            max(col("pos")).as("last_pos"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("lang")))),
              x => x.getField("lang")), ",").as("lang_seq"),
            array_join(transform(
              array_sort(collect_list(struct(col("pos"), col("text")))),
              x => x.getField("text")), " ").as("chunk_text"))
      },
      Some("""WITH RECURSIVE c AS (SELECT lang, count(*) AS n_src
             |  FROM documents GROUP BY 1),
             |g AS (SELECT lang, n_src,
             |    sqrt(CAST(n_src AS DOUBLE)) AS w_raw FROM c),
             |e AS (SELECT lang, n_src, w_raw,
             |    unnest(generate_series(1, least(200, n_src))) AS r FROM g),
             |v AS (SELECT *, CAST(r AS DOUBLE) / w_raw AS vt FROM e),
             |p AS (SELECT *, row_number() OVER (ORDER BY vt, lang, r)
             |        AS pos FROM v),
             |h AS (SELECT lang, r, pos FROM p WHERE pos <= 200),
             |rk AS (SELECT doc_id, lang, text, row_number()
             |    OVER (PARTITION BY lang ORDER BY doc_id) AS r
             |  FROM documents),
             |st AS (SELECT h.pos, h.lang, rk.text,
             |    CAST(len(string_split(rk.text, ' ')) AS BIGINT) AS n_tok,
             |    row_number() OVER (ORDER BY h.pos) AS rn
             |  FROM h JOIN rk USING (lang, r)),
             |rec(rn, pos, lang, text, n_tok, chunk_id, fill) AS (
             |  SELECT rn, pos, lang, text, n_tok, CAST(0 AS BIGINT), n_tok
             |  FROM st WHERE rn = 1
             |  UNION ALL
             |  SELECT st.rn, st.pos, st.lang, st.text, st.n_tok,
             |    CASE WHEN rec.fill + st.n_tok <= 256 THEN rec.chunk_id
             |         ELSE rec.chunk_id + 1 END,
             |    CASE WHEN rec.fill + st.n_tok <= 256
             |         THEN rec.fill + st.n_tok ELSE st.n_tok END
             |  FROM st JOIN rec ON st.rn = rec.rn + 1)
             |SELECT chunk_id, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
             |  CAST(min(pos) AS BIGINT) AS first_pos,
             |  CAST(max(pos) AS BIGINT) AS last_pos,
             |  string_agg(lang, ',' ORDER BY pos) AS lang_seq,
             |  string_agg(text, ' ' ORDER BY pos) AS chunk_text
             |FROM rec GROUP BY chunk_id""".stripMargin)),

    Q("q164_perceptual_hash",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // PERCEPTUAL IMAGE HASHES under the FULL hash oracle — the
        // image-dedup signature step (LAION/DataComp-style) pushed one
        // level deeper than q61's dims check: the oracle recomputes
        // aHash and dHash PIXEL BY PIXEL from the synthesis formula
        // (64-bit wraparound arithmetic in HUGEINT, signed bit-63
        // reconstruction), so the whole chain — PNG encode, JDK decode,
        // integer BT.601 luma, floor-NN grid sampling, mean/neighbor
        // thresholding, bit packing — must be bit-exact end to end.
        // Unlike q65's engine-local text simhash, every bit is
        // cross-engine checkable. Zero shuffle: mapPartitions decode,
        // O(grid) per row.
        operators.Multimodal.perceptualHashes(
            operators.Multimodal.imagesFromDocuments(tbl("documents")))
          .select(col("media_id"),
            col("width").cast("long").as("width"),
            col("height").cast("long").as("height"),
            col("ahash"), col("dhash"))
      },
      Some(PerceptualSql.hashTable)),

    Q("q165_image_near_dup_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // IMAGE NEAR-DUP PAIRS: dHash + the Manku pigeonhole banded
        // join (Dedup.hammingDupPairs — q65's exact-recall machinery
        // generalized to any 64-bit signature). Planted: brightness
        // +16 re-grades (ids +1e6 — bytes and exact hashes differ,
        // dHash is invariant because horizontal gray DIFFERENCES
        // survive a uniform shift) and exact pixel copies (ids +2e6).
        // The fixture also contains formula-twins (doc d vs d+16 share
        // width and near-identical pixel fields) — genuine near-dups
        // the screen must and does surface. The oracle recomputes
        // every dhash from the pixel formula (clamped +16 channels for
        // the planted re-grades) and replays the pair set with a naive
        // all-pairs popcount — banded candidates ∪ verify must equal
        // it EXACTLY (pigeonhole recall is exact, not probabilistic).
        // Scale: id-only banded shuffle, popcount verify re-joined by
        // id; candidates ~n²/2¹⁶ per band for random far pairs.
        val docs = tbl("documents")
        val media = operators.Multimodal.imagesFromDocuments(docs)
          .unionByName(operators.Multimodal.brightenedImagesFromDocuments(
            docs.filter(col("doc_id") % 13 === 0), 1000000L, 16))
          .unionByName(operators.Multimodal.brightenedImagesFromDocuments(
            docs.filter(col("doc_id") % 17 === 0), 2000000L, 0))
        val ph = operators.Multimodal.perceptualHashes(media)
        Dedup.hammingDupPairs(ph, "media_id", col("dhash"), maxHamming = 3)
          .select(col("id_a"), col("id_b"), col("hamming").cast("long")
            .as("hamming"))
      },
      Some(PerceptualSql.nearDupPairs)),

    Q("q166_audio_fingerprint",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // PERCEPTUAL AUDIO FINGERPRINTS under the FULL hash oracle —
        // the q164 discipline on the third modality: 64 energy-envelope
        // difference bits per decoded clip, recomputed by the oracle
        // SAMPLE BY SAMPLE from the synthesis formula (HUGEINT
        // wraparound, signed 16-bit reconstruction, truncating gain
        // division), so the WAV encode → AudioSystem decode → window
        // energies → bit packing chain is checked bit-exact
        // cross-engine. Planted: gain-halved re-masters (ids +1e6 —
        // bytes and exact hashes differ; the energy ORDERING survives a
        // uniform gain change, so their fingerprints equal the
        // originals' — the re-mastered-copy case byte-exact dedup
        // misses, here visible to the oracle as identical fp values)
        // and exact copies (+2e6). Zero shuffle, O(frames)/row;
        // near-dup pairs ride Dedup.hammingDupPairs (q165's machinery,
        // oracle-gated there).
        val docs = tbl("documents")
        val media = operators.Multimodal.audioFromDocuments(docs)
          .unionByName(operators.Multimodal.gainScaledAudioFromDocuments(
            docs.filter(col("doc_id") % 13 === 0), 1000000L, 2))
          .unionByName(operators.Multimodal.gainScaledAudioFromDocuments(
            docs.filter(col("doc_id") % 17 === 0), 2000000L, 1))
        operators.Multimodal.audioFingerprints(media)
          .select(col("media_id"), col("n_frames"), col("sample_rate"),
            col("fp"))
      },
      Some("""WITH mem AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 1 AS dv
             |    FROM documents
             |  UNION ALL SELECT doc_id + 1000000, doc_id, 2 FROM documents
             |    WHERE doc_id % 13 = 0
             |  UNION ALL SELECT doc_id + 2000000, doc_id, 1 FROM documents
             |    WHERE doc_id % 17 = 0),
             |sp AS (SELECT media_id, seed, dv, 100 + seed % 900 AS frames,
             |    8000 * (1 + seed % 3) AS rate FROM mem),
             |w AS (SELECT media_id, seed, dv, frames, rate, wi,
             |    (wi * frames) // 65 AS lo, ((wi + 1) * frames) // 65 AS hi
             |  FROM sp, unnest(generate_series(0, 64)) AS t(wi)),
             |sm AS (SELECT media_id, wi, dv,
             |    CAST((CAST(seed AS HUGEINT) * 1000003
             |      + CAST(i AS HUGEINT) * 11400714819323198485)
             |      % 18446744073709551616 // 16777216 % 65536 AS BIGINT) AS v
             |  FROM w, unnest(generate_series(0, 998)) AS t(i)
             |  WHERE i >= lo AND i < hi),
             |en AS (SELECT media_id, wi, sum(abs(CAST(trunc(
             |      (CASE WHEN v >= 32768 THEN v - 65536 ELSE v END)
             |      / (1.0 * dv)) AS BIGINT))) AS e
             |  FROM sm GROUP BY 1, 2),
             |pr AS (SELECT a.media_id, a.wi AS i, a.e AS ea, b.e AS eb
             |  FROM en a JOIN en b ON b.media_id = a.media_id
             |    AND b.wi = a.wi + 1 WHERE a.wi < 64),
             |f AS (SELECT media_id, CAST(sum(CASE WHEN ea > eb THEN
             |      CASE WHEN i = 63 THEN -9223372036854775808
             |           ELSE 1::BIGINT << i END
             |    ELSE 0 END) AS BIGINT) AS fp
             |  FROM pr GROUP BY 1)
             |SELECT f.media_id, CAST(sp.frames AS BIGINT) AS n_frames,
             |  CAST(sp.rate AS BIGINT) AS sample_rate, f.fp
             |FROM f JOIN sp ON sp.media_id = f.media_id""".stripMargin)),

    Q("q167_length_bucketed_batches",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // LENGTH-BUCKETED BATCHING under oracle — the padding-waste
        // minimizer of fixed-shape training (batch cost =
        // batchSize × max(len); batching similar lengths together
        // reclaims the padding a length-oblivious batcher burns). The
        // per-batch accounting table is fully replayable: token
        // counts, the n_tok/32 bucketing, the md5-coin rank order
        // inside each bucket, the rank-division batch ids, and the
        // waste arithmetic are all integers — a wrong bucket edge,
        // coin tiebreak, or batch boundary moves a doc and fails the
        // hash. The bucketed-beats-oblivious waste claim is
        // spec-asserted (PackingSpec), not oracled — it compares two
        // full batchings. Scale: ONE shuffle (per-bucket rank
        // window), task bound = hottest bucket (bucketWidth knob).
        val b = operators.Packing.lengthBucketedBatches(
          tbl("documents"), "doc_id", "text",
          bucketWidth = 32, batchSize = 8)
        b.groupBy(col("bucket"), col("batch_id"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("n_tok")).as("max_tok"),
            sum(col("n_tok")).as("tok_sum"))
          .select(col("bucket"), col("batch_id"), col("n_docs"),
            col("max_tok"),
            (col("n_docs") * col("max_tok") - col("tok_sum"))
              .as("padding_waste"))
      },
      Some {
        val uT = uTerms("h")
        s"""WITH t AS (SELECT doc_id,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
           |    md5(doc_id::VARCHAR || ':lb') AS h FROM documents),
           |c AS (SELECT doc_id, n_tok, n_tok // 32 AS bucket, ($uT) AS ci
           |  FROM t),
           |r AS (SELECT bucket, n_tok, row_number()
           |    OVER (PARTITION BY bucket ORDER BY ci, doc_id) AS rn FROM c),
           |b AS (SELECT bucket, (rn - 1) // 8 AS batch_id, n_tok FROM r)
           |SELECT CAST(bucket AS BIGINT) AS bucket,
           |  CAST(batch_id AS BIGINT) AS batch_id,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(max(n_tok) AS BIGINT) AS max_tok,
           |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT)
           |    AS padding_waste
           |FROM b GROUP BY 1, 2""".stripMargin
      }),

    Q("q168_video_frame_hashes",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // PERCEPTUAL VIDEO FINGERPRINTS under the FULL hash oracle —
        // the modality triple completed (q164 images, q166 audio):
        // every stride-sampled frame of every decoded AVI gets the
        // q164 dHash, and the oracle recomputes each one PIXEL BY
        // PIXEL from the frame-synthesis formula, so the RIFF walk,
        // bottom-up DIB decode, raster conversion, and hash chain are
        // bit-checked cross-engine. Planted: brightness +16 re-grades
        // (ids +1e6 — every frame's dHash equals the original's, the
        // re-graded-copy case byte-exact dedup misses, visible to the
        // oracle as identical hash columns) and exact copies (+2e6).
        // Near-dup screening rides Dedup.hammingDupPairs per frame
        // slot (oracle-gated at q165). Zero shuffle: mapPartitions
        // decode, narrow hash map.
        val docs = tbl("documents")
        val media = operators.Multimodal.videosFromDocuments(docs)
          .unionByName(operators.Multimodal.brightenedVideosFromDocuments(
            docs.filter(col("doc_id") % 13 === 0), 1000000L, 16))
          .unionByName(operators.Multimodal.brightenedVideosFromDocuments(
            docs.filter(col("doc_id") % 17 === 0), 2000000L, 0))
        operators.Multimodal.videoFrameHashes(
            operators.Multimodal.extractVideoFrames(media, stride = 2))
          .select(col("media_id"), col("width"), col("height"),
            col("n_frames"), col("frame_idx"), col("dhash"))
      },
      Some("""WITH mem AS (
             |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS delta
             |    FROM documents
             |  UNION ALL SELECT doc_id + 1000000, doc_id, 16 FROM documents
             |    WHERE doc_id % 13 = 0
             |  UNION ALL SELECT doc_id + 2000000, doc_id, 0 FROM documents
             |    WHERE doc_id % 17 = 0),
             |sp AS (SELECT media_id, seed, delta, 6 + seed % 11 AS w,
             |    4 + (seed // 11) % 9 AS h, 2 + seed % 7 AS nf FROM mem),
             |fr AS (SELECT media_id, seed, delta, w, h, nf, f
             |  FROM sp, unnest(generate_series(0, 8)) AS t(f)
             |  WHERE f < nf AND f % 2 = 0),
             |dg AS (SELECT media_id, seed, delta, w, h, nf, f, gx, gy,
             |    (gy * h) // 8 AS sy, (gx * w) // 9 AS sxa,
             |    ((gx + 1) * w) // 9 AS sxb
             |  FROM fr, unnest(generate_series(0, 7)) AS t1(gx),
             |           unnest(generate_series(0, 7)) AS t2(gy)),
             |px AS (SELECT media_id, delta, w, h, nf, f, gx, gy,
             |    CAST((CAST(seed AS HUGEINT) * 1000003
             |      + CAST(CAST(f AS HUGEINT) * w * h + sy * w + sxa AS HUGEINT)
             |        * 11400714819323198485)
             |      % 18446744073709551616 // 16777216 % 16777216 AS BIGINT) AS ra,
             |    CAST((CAST(seed AS HUGEINT) * 1000003
             |      + CAST(CAST(f AS HUGEINT) * w * h + sy * w + sxb AS HUGEINT)
             |        * 11400714819323198485)
             |      % 18446744073709551616 // 16777216 % 16777216 AS BIGINT) AS rb
             |  FROM dg),
             |gr AS (SELECT media_id, w, h, nf, f, gx, gy,
             |    (77 * least(ra // 65536 + delta, 255)
             |     + 150 * least(ra // 256 % 256 + delta, 255)
             |     + 29 * least(ra % 256 + delta, 255)) // 256 AS ga,
             |    (77 * least(rb // 65536 + delta, 255)
             |     + 150 * least(rb // 256 % 256 + delta, 255)
             |     + 29 * least(rb % 256 + delta, 255)) // 256 AS gb
             |  FROM px),
             |dh AS (SELECT media_id, w, h, nf, f,
             |    CAST(sum(CASE WHEN ga > gb THEN
             |      CASE WHEN gy * 8 + gx = 63 THEN -9223372036854775808
             |           ELSE 1::BIGINT << (gy * 8 + gx) END
             |    ELSE 0 END) AS BIGINT) AS dhash
             |  FROM gr GROUP BY 1, 2, 3, 4, 5)
             |SELECT media_id, CAST(w AS BIGINT) AS width,
             |  CAST(h AS BIGINT) AS height, CAST(nf AS BIGINT) AS n_frames,
             |  CAST(f AS BIGINT) AS frame_idx, dhash
             |FROM dh""".stripMargin)),

    Q("q169_incremental_image_dedup",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        implicit val ss = s
        // INCREMENTAL IMAGE DEDUP — the q62 cross-snapshot discipline
        // on the perceptual-hash store: history persists as (id, dhash)
        // + a (band, bucket, id) table bucketed on the Manku band keys,
        // each crawl batch dedups against ALL history with cost ∝
        // batch (candidate join probes the bucketed `_bands` table —
        // zero store-side exchange; popcount verify re-joins two
        // 8-byte columns, never media bytes), survivors append. Batch
        // 1 carries brightness re-grades of STORE images (byte-new,
        // dHash-identical — the incremental screen must kill them);
        // batch 2 carries exact copies of batch-1 natives (dropped
        // against the batch-1 survivors now IN the store). The oracle
        // replays the whole sequential protocol from the pixel
        // formula: per batch, drop iff within hamming 3 of any store
        // signature or any smaller-id batch member (non-cascading
        // in-batch, survivors-only across batches), then fold
        // survivors into the store — a lost append row, a band-split
        // drift, or a broken verify all change the survivor set and
        // fail the hash.
        val docs = tbl("documents")
        val table = "q169_phash_store"
        dropTables(s, table, s"${table}_bands")
        def ph(m: org.apache.spark.sql.Dataset[
            operators.Multimodal.MediaRecord]) =
          operators.Multimodal.perceptualHashes(m)
            .select(col("media_id"), col("dhash"))
        val storeDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val kind = operators.Lsh.Pigeonhole(maxHamming = 3)
        operators.Incremental.writeStore(kind,
          ph(operators.Multimodal.imagesFromDocuments(storeDocs)),
          "media_id", col("dhash"), table, numBuckets = 8)
        val b1 = ph(operators.Multimodal.imagesFromDocuments(
            docs.filter(col("doc_id") % 3 === 0 &&
              expr("(doc_id div 3) % 2 = 0")))
          .unionByName(operators.Multimodal.brightenedImagesFromDocuments(
            storeDocs.filter(col("doc_id") % 13 === 0), 1000000L, 16)))
        // frozen BEFORE the store grows
        val surv1 = ck.proxy(operators.Incremental.dedupAgainst(kind, b1,
            s.table(table), "media_id", col("dhash"), threshold = 0.0,
            storeBands = Some(s.table(s"${table}_bands"))))
        operators.Incremental.appendToStore(kind, surv1, "media_id",
          col("dhash"), table, numBuckets = 8)
        val b2 = ph(operators.Multimodal.imagesFromDocuments(
            docs.filter(col("doc_id") % 3 === 0 &&
              expr("(doc_id div 3) % 2 = 1")))
          .unionByName(operators.Multimodal.brightenedImagesFromDocuments(
            docs.filter(col("doc_id") % 3 === 0 &&
              expr("(doc_id div 3) % 2 = 0") && col("doc_id") % 5 === 0),
            2000000L, 0)))
        val surv2 = operators.Incremental.dedupAgainst(kind, b2,
          s.table(table), "media_id", col("dhash"), threshold = 0.0,
          storeBands = Some(s.table(s"${table}_bands")))
        surv1.select(col("media_id")).withColumn("batch", lit("b1"))
          .unionByName(
            surv2.select(col("media_id")).withColumn("batch", lit("b2")))
      },
      Some(PerceptualSql.incrementalSurvivors)),

    Q("q170_forget_protocol",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // RIGHT-TO-BE-FORGOTTEN across the dedup state — the takedown /
        // consent-revocation path a production corpus pipeline must
        // have: deleting a document is not just dropping its row, its
        // SIGNATURES must leave the store, or future ingestion keeps
        // being suppressed on the strength of data the pipeline no
        // longer holds. Protocol: forget ids F from the q62 text
        // signature store (one rewrite deriving BOTH layouts from the
        // same write — validateStore gates it in-plan), then dedup a
        // batch carrying (a) exact copies of FORGOTTEN docs — must be
        // RE-ADMITTED, the store may not remember them, (b) exact
        // copies of REMEMBERED docs — must still drop at the exact
        // stage, (c) fresh docs — the normal q62 semantics. The oracle
        // replays dedupAgainst's full greedy rule against the
        // post-forget store; a signature left behind in either store
        // layout re-suppresses a group-(a) doc and fails the hash.
        val docs = tbl("documents")
        val table = "q170_text_store"
        dropTables(s, table, s"${table}_bands")
        val storeDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val kind = operators.Lsh.MinHash()
        operators.Incremental.writeStore(kind, storeDocs, "doc_id", col("text"),
          table, numBuckets = 8)
        // modulus COPRIME to the store's 3: %21 here would make the
        // forgotten set provably empty (21 ⊆ 3·Z) and the whole forget
        // protocol vacuous — 22 keeps ~|store|/33 real forget targets
        val forgotten = storeDocs.filter(col("doc_id") % 22 === 0)
        operators.Incremental.forgetFromStore(kind, s,
          forgotten.select(col("doc_id").as("id")), table, numBuckets = 8)
        require(operators.Incremental.validateStore(kind, s, table),
          "store/bands diverged after forget")
        val batch = forgotten
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .unionByName(storeDocs.filter(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
          .unionByName(docs.filter(col("doc_id") % 3 === 0 &&
              expr("(doc_id div 3) % 2 = 0"))
            .select(col("doc_id"), col("text")))
        operators.Incremental.dedupAgainst(kind, batch, s.table(table),
            "doc_id", col("text"), threshold = 0.6,
            storeBands = Some(s.table(s"${table}_bands")))
          .select(col("doc_id"))
      },
      Some(s"""WITH t AS (SELECT doc_id, md5(text) AS h, $ShinglesSql AS sh
              |           FROM documents),
              |s AS (SELECT * FROM t
              |      WHERE doc_id % 3 <> 0 AND doc_id % 22 <> 0),
              |n AS (SELECT doc_id + 1000000 AS doc_id, h, sh FROM t
              |        WHERE doc_id % 3 <> 0 AND doc_id % 22 = 0
              |      UNION ALL SELECT doc_id + 2000000, h, sh FROM t
              |        WHERE doc_id % 3 <> 0 AND doc_id % 23 = 0
              |      UNION ALL SELECT doc_id, h, sh FROM t
              |        WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 0),
              |ne AS (SELECT n.doc_id, n.sh FROM n
              |       JOIN (SELECT h, min(doc_id) AS k FROM n GROUP BY h) mk
              |         ON n.h = mk.h AND n.doc_id = mk.k
              |       WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.h = n.h)),
              |dr AS (SELECT DISTINCT a.doc_id FROM ne a JOIN s b ON
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6
              |       UNION
              |       SELECT DISTINCT b.doc_id FROM ne a JOIN ne b
              |       ON a.doc_id < b.doc_id AND
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6)
              |SELECT doc_id FROM ne
              |WHERE doc_id NOT IN (SELECT doc_id FROM dr)""".stripMargin)),

    Q("q171_bpe_encode",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // BPE ENCODE at scale — Tokenizer.encode (broadcast merge
        // table, per-word JVM tokenization in one narrow projection)
        // gated in-plan against the applyMerges HOF replay, whose
        // one-nested-expression-per-merge shape is the ground truth
        // semantics but cannot survive a 32k-merge vocabulary (the
        // q145 training loop's inference-side twin). Contracts (model
        // parameters aren't SQL-replayable — the q130 pattern):
        // (a) encode == the HOF replay token-array-for-token-array on
        //     a deterministic corpus slice (the HOF ground truth is
        //     itself the scale pathology — 24 interpreted nested folds
        //     per word — so the equality gate samples doc_id % 11 and
        //     the spec covers full-corpus equality at fixture scale;
        //     training and the fast encode still run the WHOLE corpus);
        // (b) lossless: per doc, FULL corpus, the concatenated tokens
        //     reproduce the text minus spaces;
        // (c) compression: total tokens strictly below total chars —
        //     the trained merges actually fire.
        // the trained table is MODEL PARAMETERS — train on a
        // deterministic corpus third (vocabulary learning saturates
        // fast; the training loop's own cost story is q145's), then
        // ENCODE the whole corpus with it
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val merges = operators.Tokenizer.trainMergesBatched(
          docs.filter(col("doc_id") % 3 === 0), "text",
          nMerges = 16, maxBatch = 8)
        // encodeWithText carries the text THROUGH the opaque encode map
        // (guide §2.4): the round-trip audit aggregates the encode
        // output directly instead of re-encoding the corpus and
        // re-attaching text via a corpus-grain join (was: 2 full encode
        // passes + 2 sort-merge joins; now: 1 full pass + 1 slice pass,
        // 0 joins). The HOF-replay equality check likewise computes
        // t_slow from the carried text in the SAME projection — the
        // %11 slice is filtered BEFORE the map (encode is a
        // deterministic per-row function, so encode(slice) ==
        // encode(corpus) restricted to the slice; Catalyst cannot push
        // the filter through the typed map itself).
        val sliceEnc = operators.Tokenizer.encodeWithText(
          docs.filter(col("doc_id") % 11 === 0), "doc_id", "text", merges)
        val eq = sliceEnc.select(col("toks").as("t_fast"),
            flatten(transform(
              filter(split(col("text"), " "), w => length(w) > 0),
              w => operators.Tokenizer.applyMerges(
                transform(sequence(lit(1), length(w)),
                  i => w.substr(i, lit(1))), merges))).as("t_slow"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("t_fast") === col("t_slow"), lit(0L))
              .otherwise(lit(1L))).as("n_diff"))
        val rt = operators.Tokenizer.encodeWithText(
            docs, "doc_id", "text", merges)
          .agg(sum(when(array_join(col("toks"), "") ===
              regexp_replace(col("text"), " ", ""), lit(0L))
            .otherwise(lit(1L))).as("n_bad_rt"),
            sum(size(col("toks"))).as("n_toks"),
            sum(length(regexp_replace(col("text"), " ", "")))
              .as("n_chars"))
        eq.crossJoin(broadcast(rt))
          .select(
            Clean.flag(col("n_diff") === 0 && col("n_docs") > 0)
              .as("encode_eq_hof"),
            Clean.flag(col("n_bad_rt") === 0).as("roundtrip_lossless"),
            Clean.flag(col("n_toks") < col("n_chars"))
              .as("merges_compress"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS encode_eq_hof,
             |CAST(1 AS BIGINT) AS roundtrip_lossless,
             |CAST(1 AS BIGINT) AS merges_compress""".stripMargin)),

    Q("q172_doremi_reweight",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // DoReMi domain reweighting (Xie et al. 2023): one Group-DRO
        // multiplicative-weights update over the source mixture, with
        // excess loss = ln(unigram ppl) − ln(bigram ppl) per doc — the
        // weaker model as the proxy-in-training, the stronger as the
        // reference, so the excess is exactly the paper's learnability
        // headroom, built entirely from the q105/q107 LM machinery.
        // The oracle retrains BOTH LMs in SQL, replays the
        // token-weighted domain excess, the exponentiated update from
        // the baseline token shares, and the uniform smoothing
        // (η=1, c=0.125 — both exact binary doubles), so a wrong
        // domain loss, a doc-count-weighted (instead of token-
        // weighted) mean, a missed clamp at 0, or a smoothing term
        // against the wrong normalizer all hash-fail.
        implicit val ss = s
        val docs = tbl("documents")
        // ONE tokenize + unigram-count base trains both LMs (the
        // proxy and the reference read the same corpus slice — §2.4):
        // the corpus scan and the token-keyed vocab shuffle run once
        val (uniB, biB) = operators.Quality.uniAndBigramPerplexityBuckets(
          docs, "doc_id", "text")
        val uni = uniB.select(col("id").as("doc_id"), col("ppl").as("ppl_u"))
        val bi = biB.select(col("id").as("doc_id"), col("ppl").as("ppl_b"))
        val perDoc = docs.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .join(uni, Seq("doc_id")).join(bi, Seq("doc_id"))
        Selection.doremiWeights(perDoc, "source",
          log(col("ppl_u")), log(col("ppl_b")), col("n_tok"),
          eta = 1.0, smoothing = 0.125)
      },
      Some(s"""$DoremiCtes
             |SELECT source, CAST(n_toks AS BIGINT) AS n_toks,
             |  round(alpha, 6) AS alpha, round(excess, 6) AS excess,
             |  round(0.875 * (upd / sup) + 0.125 / k, 6) AS weight
             |FROM up, sm, k""".stripMargin)),

    Q("q173_softdedup_weights",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // SoftDedup (He et al. 2024): duplicate DOWNWEIGHTING instead
        // of removal — every doc keeps a sampling weight
        // (c_min/commonness)^0.5, commonness = mean document frequency
        // of its distinct 3-shingles. The oracle recomputes every
        // shingle's df over the raw strings (the Spark side ships
        // 8-byte xxhash64 ids — the q23 inverted-index w.h.p.
        // argument) and replays the exact-integer-ratio commonness,
        // the global min, and the sqrt weight, so a df off by one, a
        // mean over the wrong grain, or a normalizer from the wrong
        // corpus slice all hash-fail.
        Dedup.softDedupWeights(tbl("documents"), "doc_id", "text",
            shingleLen = 3, beta = 0.5)
          .select(col("id").as("doc_id"), col("n_shingles"),
            col("commonness"), col("weight"))
      },
      Some(s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
             |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
             |df AS (SELECT s, count(*) AS df FROM e GROUP BY s),
             |c AS (SELECT doc_id, count(*) AS n_shingles,
             |    sum(df) / count(*) AS commonness
             |  FROM e JOIN df USING (s) GROUP BY doc_id),
             |m AS (SELECT min(commonness) AS c_min FROM c)
             |SELECT doc_id, CAST(n_shingles AS BIGINT) AS n_shingles,
             |  round(commonness, 6) AS commonness,
             |  round(sqrt(c_min / commonness), 6) AS weight
             |FROM c, m""".stripMargin)),

    Q("q174_dup_provenance",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // cross-source duplication provenance: q23's near-dup pairs
        // rolled up to one row per unordered source pair — diagonal =
        // internal redundancy, off-diagonal = cross-source
        // contamination (the overlap accounting of Lee et al. ACL
        // 2022, at source grain). The oracle recomputes the exact
        // Jaccard pair set AND the source canonicalization, so a
        // missed pair, a swapped lo/hi, or a diagonal row counted
        // twice all hash-fail.
        Dedup.dupProvenance(tbl("documents"), "doc_id", "text",
          "source", threshold = 0.6, shingleLen = 3)
      },
      Some(s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
             |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
             |        len(a.sh) + len(b.sh) AS tot
             |      FROM t a JOIN t b ON a.doc_id < b.doc_id),
             |j AS (SELECT id_a, id_b,
             |    round(inter / (tot - inter), 6) AS jaccard
             |  FROM p WHERE inter / (tot - inter) >= 0.6),
             |e AS (SELECT least(da.source, db.source) AS src_lo,
             |    greatest(da.source, db.source) AS src_hi, jaccard
             |  FROM j JOIN documents da ON da.doc_id = j.id_a
             |    JOIN documents db ON db.doc_id = j.id_b)
             |SELECT src_lo, src_hi, CAST(count(*) AS BIGINT) AS n_pairs,
             |  round(avg(jaccard), 6) AS mean_jaccard
             |FROM e GROUP BY src_lo, src_hi""".stripMargin)),

    Q("q175_doremi_mixture",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the q163 composition discipline applied to mixture
        // OPTIMIZATION: q172's DoReMi weights drive an actual corpus
        // materialization through Sampling.mixtureByWeights — rates
        // min(1, 0.5·w_g/p_g) against the corpus's own row shares,
        // gated by the deterministic content coin. ONE oracle replays
        // the whole chain (both LMs → domain excess → weights → row
        // shares → rates → coin), pinning the stage coupling the
        // per-stage oracles (q172, q82) cannot see: the weights that
        // sample are exactly the weights that were optimized.
        implicit val ss = s
        val docs = tbl("documents")
        // ONE tokenize + unigram-count base trains both LMs (the
        // proxy and the reference read the same corpus slice — §2.4):
        // the corpus scan and the token-keyed vocab shuffle run once
        val (uniB, biB) = operators.Quality.uniAndBigramPerplexityBuckets(
          docs, "doc_id", "text")
        val uni = uniB.select(col("id").as("doc_id"), col("ppl").as("ppl_u"))
        val bi = biB.select(col("id").as("doc_id"), col("ppl").as("ppl_b"))
        val perDoc = docs.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .join(uni, Seq("doc_id")).join(bi, Seq("doc_id"))
        val weights = Selection.doremiWeights(perDoc, "source",
            log(col("ppl_u")), log(col("ppl_b")), col("n_tok"),
            eta = 1.0, smoothing = 0.125)
          .select(col("source"), col("weight"))
        operators.Sampling.mixtureByWeights(
            docs.select(col("doc_id"), col("source")),
            "doc_id", "source", weights, "weight", targetFrac = 0.5)
          .select(col("doc_id"), col("source"))
      },
      Some(s"""$DoremiCtes,
           |wt AS (SELECT source,
           |    round(0.875 * (upd / sup) + 0.125 / k, 6) AS weight
           |  FROM up, sm, k),
           |c2r AS (SELECT source, count(*) AS m_g FROM documents
           |        GROUP BY source),
           |t2 AS (SELECT CAST(count(*) AS DOUBLE) AS m FROM documents),
           |r AS (SELECT source,
           |    least(1.0, 0.5 * weight / (m_g / m)) AS rate_g
           |  FROM wt JOIN c2r USING (source), t2),
           |uu AS (SELECT doc_id, source,
           |    md5(doc_id::VARCHAR || ':wmix') AS h FROM documents),
           |vv AS (SELECT doc_id, source,
           |  CAST(${uTerms("h")} AS DOUBLE) / 16777216.0 AS u
           |  FROM uu)
           |SELECT vv.doc_id, vv.source FROM vv JOIN r USING (source)
           |WHERE vv.u < r.rate_g""".stripMargin)),

    Q("q176_streaming_decontam",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING bloom decontamination: the frozen-benchmark screen
        // applied at ingestion time — q122's bitmap is built ONCE from
        // the static eval set (model parameters, not stream state),
        // then each arriving micro-batch is screened by the narrow
        // bit-probe and only clean docs are emitted. Stateless per
        // batch, so the emitted set is exactly the batch screen: the
        // oracle rebuilds the identical bit set in SQL and replays
        // every verdict (false positives included — a clean doc
        // wrongly held back by a bloom FP must be held back in the
        // oracle too), and the batch column pins the file→micro-batch
        // order (mtime-pinned, maxFilesPerTrigger=1 — the q68 fixture
        // discipline).
        import java.nio.file.Files
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val evalSh = docs.filter(col("doc_id") % 7 === 0)
          .select(explode(graft.plans.exprs.wordShingles(
            lower(col("text")), 8)).as("ng")).distinct()
        val mBits = 1 << 20
        val bitmap = operators.Bloom.buildBitmap(evalSh, "ng", mBits,
          kHashes = 6)
        val train = docs.filter(col("doc_id") % 7 =!= 0)
        val dir = tempStagingDir("graft_q176_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(train.filter(col("doc_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(train.filter(col("doc_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) =>
          operators.Bloom.screen(batch, "doc_id", "text",
              bitmap, mBits, kHashes = 6, shingleLen = 8)
            .filter(col("bloom_hit") === 0L)
            .select(col("doc_id"), lit(batchId).as("batch"))
            .write.mode("overwrite").parquet(s"$out/batch_$batchId")
        val query = s.readStream.schema(train.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/*").select(col("doc_id"), col("batch"))
      },
      Some(s"""$BloomScreenCtes,
           |hit AS (SELECT doc_id FROM tp JOIN bits USING (pos)
           |        GROUP BY doc_id, ng HAVING count(*) = 6)
           |SELECT doc_id, CAST(doc_id % 2 AS BIGINT) AS batch
           |FROM w WHERE doc_id % 7 <> 0
           |  AND doc_id NOT IN (SELECT doc_id FROM hit)""".stripMargin)),

    Q("q177_kcenter_coreset",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // greedy k-center coreset (Gonzalez farthest-first traversal;
        // Sener & Savarese ICLR 2018): the 5 maximally-spread
        // embeddings — diverse-subset extraction for eval-set/
        // prototype construction. Distances round at 6 BEFORE the
        // min/argmax with id tie-breaks, so the whole greedy
        // trajectory is deterministic and the oracle replays it as 5
        // unrolled farthest-point rounds — a wrong seed, a distance
        // against a stale center set, or an argmax tie broken by
        // anything but id all hash-fail.
        Similarity.kCenterSelect(tbl("embeddings"), "vec_id", "embedding",
          k = 5)
      },
      Some {
        def dist(a: String, b: String) =
          s"round(list_sum(list_transform(range(1, len($a.v) + 1), " +
            s"i -> ($a.v[i] - $b.v[i]) * ($a.v[i] - $b.v[i]))), 6)"
        // round 2's min-distance table IS d1 (one center so far), so c2
        // selects straight from d1 — no redundant distance pass
        val rounds = (3 to 5).map { r =>
          val prev = if (r == 3) "d1" else s"d${r - 1}"
          s"""d$r AS (SELECT a.vec_id, a.v, least(a.d, ${dist("a", "b")}) AS d
             |  FROM $prev a, c${r - 1} b),
             |c$r AS (SELECT vec_id, v, d FROM d$r
             |        ORDER BY d DESC, vec_id LIMIT 1)""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 5).map(r =>
          s"UNION ALL SELECT CAST($r AS BIGINT), vec_id, d FROM c$r")
          .mkString("\n")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings),
           |c1 AS (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 1),
           |d1 AS (SELECT a.vec_id, a.v, ${dist("a", "b")} AS d
           |       FROM v a, c1 b),
           |c2 AS (SELECT vec_id, v, d FROM d1
           |       ORDER BY d DESC, vec_id LIMIT 1),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS sel_rank, vec_id,
           |  CAST(NULL AS DOUBLE) AS cover_d FROM c1
           |$sel""".stripMargin
      }),

    Q("q178_drop_ledger",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-document DROP LEDGER over q51's exact pipeline: one row
        // per INPUT doc tagging the first stage that dropped it
        // (quality → lang → exact_dup → near_dup) or 'kept' — the
        // audit table behind every published pipeline's per-rule
        // removal accounting. The oracle replays the whole stage
        // chain from the shared q51 CTEs and the same CASE order, so
        // a stage misattribution (doc dropped by dedup but blamed on
        // quality), a survivor marked dropped, or a ledger row count
        // != input count all hash-fail. The kept rows are exactly
        // q51's survivor ids by construction.
        Corpus.dropLedger(tbl("documents"), "doc_id", "text",
          Stopwords, LangMarkers, keepLangs = Set("en"),
          minQuality = 0.5, nearDupThreshold = 0.6, maxDocFreq = 1.0)
      },
      Some(corpusPrepOracleCte(recursive = false) +
        """,
          |nd AS (SELECT DISTINCT id_b AS doc_id FROM p
          |       WHERE inter / (tot - inter) >= 0.6)
          |SELECT g.doc_id, g.quality, g.lang_pred,
          |  CASE WHEN g.quality < 0.5 THEN 'quality'
          |       WHEN g.lang_pred NOT IN ('en') THEN 'lang'
          |       WHEN ek.doc_id IS NULL THEN 'exact_dup'
          |       WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
          |       ELSE 'kept' END AS stage
          |FROM g LEFT JOIN ek ON ek.doc_id = g.doc_id
          |  LEFT JOIN nd ON nd.doc_id = g.doc_id""".stripMargin)),

    Q("q179_forget_edges",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // FORGET-PROTOCOL EDGES under the oracle (q170's sibling): the
        // spec-only surfaces the r12 lesson warns about, made
        // hash-checked —
        //  (1) forget-of-ABSENT-id: the forget set carries ids the
        //      store never held (unstored doc ids AND ids outside the
        //      corpus domain entirely); the rewrite must be exactly
        //      "minus the present ids" — a store that loses or keeps
        //      anything else shifts the replayed survivor hash;
        //  (2) forget IDEMPOTENCY: re-forgetting the same set is a
        //      no-op (row accounting surfaced as a flag column, store
        //      layouts re-validated in-plan);
        //  (3) fresh-store honorDeletes (the delete-before-first-write
        //      edge): an always-honor-deletes probe policy on an ANN
        //      store that has never seen a delete — no `_deletes`
        //      table exists — must answer exactly like
        //      honorDeletes=false, surfaced as a flag column (frozen
        //      PQ models aren't SQL-replayable — the q130/q162
        //      contract pattern).
        val docs = tbl("documents")
        val table = "q179_text_store"
        dropTables(s, table, s"${table}_bands")
        val storeDocs = docs.filter(col("doc_id") % 3 =!= 0)
        val kind = operators.Lsh.MinHash()
        operators.Incremental.writeStore(kind, storeDocs, "doc_id", col("text"),
          table, numBuckets = 8)
        val present = storeDocs.filter(col("doc_id") % 22 === 0)
          .select(col("doc_id").as("id"))
        val absent = docs.filter(col("doc_id") % 3 === 0 &&
            col("doc_id") % 22 === 0).select(col("doc_id").as("id"))
          .unionByName(docs.filter(col("doc_id") % 97 === 0)
            .select((col("doc_id") + 5000000L).as("id")))
        val fset = present.unionByName(absent)
        operators.Incremental.forgetFromStore(kind, s, fset, table, numBuckets = 8)
        require(operators.Incremental.validateStore(kind, s, table),
          "store/bands diverged after forget")
        val n1 = ck.proxy(s.table(table).agg(count(lit(1)).as("n1")))
        operators.Incremental.forgetFromStore(kind, s, fset, table, numBuckets = 8)
        require(operators.Incremental.validateStore(kind, s, table),
          "store/bands diverged after second forget")
        val n2 = ck.proxy(s.table(table).agg(count(lit(1)).as("n2")))
        val annTable = "q179_ann_store"
        dropTables(s, annTable, s"${annTable}_deletes")
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % 5 === 0)
        val (model, _) = Similarity.pqTrain(emb, "vec_id", "embedding",
          dim = 64, m = 4, ksub = 16, iters = 1)
        val cents = Similarity.trainCentroidsKMeans(emb, "vec_id",
          "embedding", dim = 64, cells = 4, iters = 1)
        val cs = Similarity.collectCentroids(cents)
        operators.Incremental.writeAnnStore(emb, "vec_id", "embedding", cs,
          model, annTable, numBuckets = 4)
        val annQ = emb.filter(col("vec_id") % 50 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
        def probe(honor: Boolean) = operators.Incremental.annStoreTopK(s,
          annTable, annQ, "vec_id", "embedding", cs, model, k = 5,
          nProbe = 4, honorDeletes = honor)
        val guard = probe(true).withColumnRenamed("neighbor_id", "n_a")
          .withColumnRenamed("adc", "adc_a")
          .join(probe(false).withColumnRenamed("neighbor_id", "n_b")
            .withColumnRenamed("adc", "adc_b"), Seq("query_id", "rnk"),
            "full")
          .agg(count(lit(1)).as("n_g"),
            sum(when(col("n_a") === col("n_b") &&
              col("adc_a") === col("adc_b"), lit(0L)).otherwise(lit(1L)))
              .as("d_g"))
        // decision replay against the post-forget store (the q170
        // machinery): copies of PRESENT-forgotten docs re-admit; copies
        // of docs whose forget was a no-op behave as plain fresh docs;
        // copies of remembered docs still drop
        val batch = storeDocs.filter(col("doc_id") % 22 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
          .unionByName(docs.filter(col("doc_id") % 3 === 0 &&
              col("doc_id") % 22 === 0)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text")))
          .unionByName(storeDocs.filter(col("doc_id") % 23 === 0)
            .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
        operators.Incremental.dedupAgainst(kind, batch, s.table(table),
            "doc_id", col("text"), threshold = 0.6,
            storeBands = Some(s.table(s"${table}_bands")))
          .select(col("doc_id"))
          .crossJoin(broadcast(n1.crossJoin(n2).crossJoin(guard)
            .select(
              Clean.flag(col("n1") === col("n2")).as("second_forget_noop"),
              Clean.flag(col("d_g") === 0 && col("n_g") > 0)
                .as("fresh_store_guard_ok"))))
      },
      Some(s"""WITH t AS (SELECT doc_id, md5(text) AS h, $ShinglesSql AS sh
              |           FROM documents),
              |s AS (SELECT * FROM t
              |      WHERE doc_id % 3 <> 0 AND doc_id % 22 <> 0),
              |n AS (SELECT doc_id + 1000000 AS doc_id, h, sh FROM t
              |        WHERE doc_id % 3 <> 0 AND doc_id % 22 = 0
              |      UNION ALL SELECT doc_id + 3000000, h, sh FROM t
              |        WHERE doc_id % 3 = 0 AND doc_id % 22 = 0
              |      UNION ALL SELECT doc_id + 2000000, h, sh FROM t
              |        WHERE doc_id % 3 <> 0 AND doc_id % 23 = 0),
              |ne AS (SELECT n.doc_id, n.sh FROM n
              |       JOIN (SELECT h, min(doc_id) AS k FROM n GROUP BY h) mk
              |         ON n.h = mk.h AND n.doc_id = mk.k
              |       WHERE NOT EXISTS (SELECT 1 FROM s WHERE s.h = n.h)),
              |dr AS (SELECT DISTINCT a.doc_id FROM ne a JOIN s b ON
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6
              |       UNION
              |       SELECT DISTINCT b.doc_id FROM ne a JOIN ne b
              |       ON a.doc_id < b.doc_id AND
              |         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |           / (len(a.sh) + len(b.sh)
              |              - len(list_intersect(a.sh, b.sh))) >= 0.6)
              |SELECT doc_id, CAST(1 AS BIGINT) AS second_forget_noop,
              |  CAST(1 AS BIGINT) AS fresh_store_guard_ok
              |FROM ne WHERE doc_id NOT IN (SELECT doc_id FROM dr)"""
        .stripMargin)),

    Q("q180_ivf_autotune",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // IVF AUTO-TUNING under oracle — closes SCALE.md's "tune
        // iters/cells per corpus" open item with a measured rule:
        // cells = ceil(sqrt n) (expected cell size sqrt n balances probe
        // scan vs centroid compare), probe grid = powers of two + the
        // full depth, nProbe chosen as the smallest grid depth whose
        // MEASURED recall@k (vs the in-plan brute-force ground truth,
        // the q46 pattern — one candidate pass re-windowed per depth,
        // never one IVF run per depth) reaches 0.9. The oracle replays
        // the sqrt-cell rule and the exact probe grid (both exact
        // integer arithmetic) row-for-row; the recall/scan contracts
        // ride as flag columns (trained centroids are model parameters
        // — not SQL-replayable, the q130/q162 pattern):
        //  - full_probe_exact: at n_probe = cells, recall == 1 AND
        //    scan_frac == 1 (full probe ≡ brute force);
        //  - monotone_ok: recall and scan_frac non-decreasing in depth
        //    (candidate sets nest);
        //  - chosen_ok: the tuner's pick == min grid depth reaching
        //    target (full depth fallback).
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val queries = emb.filter(col("vec_id") % 50 === 0)
        val (_, sweep, chosen) = Similarity.ivfAutoTune(emb, queries,
          "vec_id", "embedding", k = 5, targetRecall = 0.9, dim = 64,
          iters = 2)
        // |grid| rows — single-task window over the bounded grid only
        val wOrd = org.apache.spark.sql.expressions.Window
          .partitionBy(lit(1)).orderBy(col("n_probe"))
        val mono = sweep
          .withColumn("r_prev", lag(col("recall_at_k"), 1).over(wOrd))
          .withColumn("s_prev", lag(col("scan_frac"), 1).over(wOrd))
          .agg(
            min(when(col("r_prev").isNotNull &&
              col("recall_at_k") < col("r_prev"), 0L).otherwise(1L))
              .as("mono_r"),
            min(when(col("s_prev").isNotNull &&
              col("scan_frac") < col("s_prev"), 0L).otherwise(1L))
              .as("mono_s"),
            max(col("n_probe")).as("max_p"),
            min(when(col("recall_at_k") >= 0.9, col("n_probe")))
              .as("min_hit"))
        val nC = emb.agg(count(lit(1)).as("n_corpus"))
        val full = sweep.crossJoin(broadcast(mono.select("max_p")))
          .filter(col("n_probe") === col("max_p"))
          .select(Clean.flag(col("recall_at_k") === 1.0 &&
            col("scan_frac") === 1.0).as("full_probe_exact"))
        val flags = mono.crossJoin(broadcast(nC))
          .crossJoin(broadcast(full))
          .select(col("full_probe_exact"),
            Clean.flag(col("mono_r") === 1L && col("mono_s") === 1L)
              .as("monotone_ok"),
            Clean.flag(coalesce(col("min_hit"), col("max_p")) ===
              lit(chosen.toLong)).as("chosen_ok"),
            Clean.flag(col("max_p") ===
              ceil(sqrt(col("n_corpus").cast("double"))).cast("long"))
              .as("cells_rule_ok"))
        sweep.select(col("n_probe")).crossJoin(broadcast(flags))
      },
      Some("""WITH n AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT)
             |             AS cells FROM embeddings),
             |g AS (SELECT CAST(power(2, i) AS BIGINT) AS n_probe
             |      FROM generate_series(0, 30) t(i), n
             |      WHERE power(2, i) < cells
             |      UNION SELECT cells FROM n)
             |SELECT n_probe, CAST(1 AS BIGINT) AS full_probe_exact,
             |  CAST(1 AS BIGINT) AS monotone_ok,
             |  CAST(1 AS BIGINT) AS chosen_ok,
             |  CAST(1 AS BIGINT) AS cells_rule_ok
             |FROM g""".stripMargin)),

    Q("q181_kcenter_twolevel",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // TWO-LEVEL GONZALEZ (q177's k >= ~10^3 scale path, implemented
        // not just documented): partition-local farthest-first coresets
        // in ONE mapPartitions pass, then the exact running-min
        // selection over the bounded survivor set — no k driver rounds
        // against the full corpus. Local selection isn't SQL-replayable
        // (the per-partition traversal), so the contracts ride as flag
        // columns (q46 pattern):
        //  - count_ok: exactly k distinct corpus ids, ranks 1..k;
        //  - cover_ok: the FULL-CORPUS cover radius of the two-level
        //    selection is <= 4x the single-level q177 selection's (the
        //    Malkomes et al. 2015 composition bound — two-level is
        //    4.OPT, single-level >= OPT — engine-checkable without
        //    knowing OPT); radii computed in-plan via a broadcast
        //    k-row center join, min-per-point, max aggregate;
        //  - layout_ok: an arbitrarily repartitioned input yields the
        //    IDENTICAL selection (the range-partition pinning).
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        val k = 6
        val sel = ck.proxy(Similarity.kCenterSelectTwoLevel(emb, "vec_id",
          "embedding", k, parts = 8, localFactor = 2))
        val selAgain = Similarity.kCenterSelectTwoLevel(emb.repartition(13),
          "vec_id", "embedding", k, parts = 8, localFactor = 2)
        val single = Similarity.kCenterSelect(emb, "vec_id", "embedding", k)
        def radius(ids: org.apache.spark.sql.DataFrame) = {
          val cvecs = emb.join(ids.select("vec_id"), Seq("vec_id"),
              "left_semi")
            .select(col("vec_id").as("c_id"), col("embedding").as("c_vec"))
          emb.crossJoin(broadcast(cvecs))
            .select(col("vec_id"),
              round(graft.plans.exprs.sqL2(
                graft.functions.Vectors.toDouble(col("embedding")),
                graft.functions.Vectors.toDouble(col("c_vec"))), 6)
                .as("dd"))
            .groupBy("vec_id").agg(min(col("dd")).as("dmin"))
            .agg(max(col("dmin")).as("r"))
        }
        val rTwo = radius(sel).select(col("r").as("r_two"))
        val rOne = radius(single).select(col("r").as("r_one"))
        val counts = sel.agg(count(lit(1)).as("n_sel"),
          countDistinct(col("vec_id")).as("n_ids"),
          min(col("sel_rank")).as("rk_min"), max(col("sel_rank")).as("rk_max"))
        val inCorpus = sel.join(emb, Seq("vec_id"), "left_semi")
          .agg(count(lit(1)).as("n_in"))
        val layout = sel.select(col("sel_rank"), col("vec_id").as("id_a"))
          .join(selAgain.select(col("sel_rank"), col("vec_id").as("id_b")),
            Seq("sel_rank"), "full")
          .agg(sum(when(col("id_a") === col("id_b"), 0L).otherwise(1L))
            .as("n_mismatch"))
        counts.crossJoin(broadcast(inCorpus)).crossJoin(broadcast(rTwo))
          .crossJoin(broadcast(rOne)).crossJoin(broadcast(layout))
          .select(
            Clean.flag(col("n_sel") === k && col("n_ids") === k &&
              col("rk_min") === 1L && col("rk_max") === k &&
              col("n_in") === k).as("count_ok"),
            Clean.flag(col("r_one") > 0.0 &&
              col("r_two") <= lit(4.0) * col("r_one")).as("cover_ok"),
            Clean.flag(col("n_mismatch") === 0L).as("layout_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS count_ok,
             |CAST(1 AS BIGINT) AS cover_ok,
             |CAST(1 AS BIGINT) AS layout_ok""".stripMargin)),

    Q("q182_lsh_band_plan",
      (s, d) => {
        // LSH BAND-PLAN optimizer under a FULL-TABLE oracle (q180's
        // tuning sibling with a stronger check — every number hashes,
        // not just flags, because the S-curve arithmetic is pure
        // closed-form model-grain math both engines can run): for
        // threshold 0.8 under a 64-hash budget, every candidate
        // (rowsPerBand r, bands = 64 div r) plan scored by the banded
        // collision S-curve P(s) = 1-(1-s^r)^b integrated against the
        // ideal step — fp_area (sub-threshold collisions: wasted
        // verification) + fn_area (missed true pairs: recall loss) —
        // midpoint rule on a 200-point grid. Both engines compute the
        // SAME op chain (q = (1-s^r)^b once; fp terms 1-q, fn terms
        // q); sums round at 6 (float-order error ~1e-13, the q172
        // argument). The chosen plan (min err, tie to smaller r) is
        // the one minhashLshPairs should run with.
        Dedup.lshBandPlan(s, threshold = 0.8, numHashes = 64)
      },
      Some("""WITH h AS (SELECT 64 AS h),
             |p AS (SELECT r AS rows_per_band, h // r AS bands
             |      FROM (SELECT unnest(generate_series(1, 64)) AS r), h),
             |g AS (SELECT (i + 0.5) / 200 AS s
             |      FROM (SELECT unnest(generate_series(0, 199)) AS i)),
             |sc AS (SELECT rows_per_band, bands,
             |    round(sum(CASE WHEN s < 0.8
             |      THEN 1 - power(1 - power(s, rows_per_band), bands)
             |      ELSE 0 END) / 200, 6) AS fp_area,
             |    round(sum(CASE WHEN s >= 0.8
             |      THEN power(1 - power(s, rows_per_band), bands)
             |      ELSE 0 END) / 200, 6) AS fn_area
             |  FROM p, g GROUP BY 1, 2),
             |e AS (SELECT *, round(fp_area + fn_area, 6) AS err FROM sc),
             |m AS (SELECT min(err) AS best_err FROM e),
             |mr AS (SELECT min(rows_per_band) AS best_r FROM e, m
             |       WHERE err = best_err)
             |SELECT CAST(rows_per_band AS BIGINT) AS rows_per_band,
             |  CAST(bands AS BIGINT) AS bands,
             |  CAST(rows_per_band * bands AS BIGINT) AS n_hashes_used,
             |  fp_area, fn_area, err,
             |  CAST(CASE WHEN err = best_err AND rows_per_band = best_r
             |    THEN 1 ELSE 0 END AS BIGINT) AS is_chosen
             |FROM e, m, mr""".stripMargin)),

    Q("q183_kmv_source_overlap",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus-overlap matrix: KMV bottom-k sketch per source (k=128
        // lexicographically-smallest md5(shingle) digests — md5 so the
        // oracle can replay the hash; hex-string order ≡ 128-bit
        // order), then the Beyer et al. pairwise estimator at SKETCH
        // grain for all 190 source pairs. The corpus is scanned once;
        // the bottom-k exchange is WindowGroupLimit-bounded (≤ k per
        // slice per map task); everything downstream moves ≤ k·|G|²
        // sketch rows. Estimator quality (|err| vs exact Jaccard) is
        // spec-pinned; the oracle pins cross-engine determinism of the
        // full chain — every digest, rank, and ratio replayed in SQL.
        val docs = tbl("documents")
        val sk = operators.Frequency.kmvSketches(
          docs, "source", "text", k = 128)
        operators.Frequency.kmvOverlapMatrix(sk, "source", k = 128)
      },
      Some(KmvOverlapSql)),

    Q("q184_multi_suite_decontam",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // one-pass decontamination audit against THREE benchmark
        // suites at once (suites = src17/src18/src19, the benchmark-
        // shaped slices; train = the rest): each suite collapses to
        // one distinct-3-gram set, a SINGLE corpus scan joins against
        // the tagged union at xxhash64 grain, and per-(doc, suite)
        // overlap fractions come out of one aggregation — vs one
        // corpus scan PER suite for the q59-style gate run N times.
        // Only pairs with ≥ 1 shared gram surface.
        val docs = tbl("documents")
        val suiteSrcs = Seq("src17", "src18", "src19")
        Dedup.multiSuiteContamination(
          docs.filter(!col("source").isin(suiteSrcs: _*)),
          docs.filter(col("source").isin(suiteSrcs: _*)),
          "doc_id", "source", "text", threshold = 0.2)
      },
      Some(s"""WITH tr AS (SELECT doc_id AS train_id, $ShinglesSql AS sh
              |            FROM documents
              |            WHERE source NOT IN ('src17','src18','src19')),
              |su AS (SELECT source AS suite,
              |         list_distinct(flatten(list($ShinglesSql))) AS gs
              |       FROM documents
              |       WHERE source IN ('src17','src18','src19')
              |       GROUP BY source),
              |j AS (SELECT train_id, suite, len(sh) AS sz,
              |        len(list_intersect(sh, gs)) AS hits FROM tr, su)
              |SELECT train_id, suite, CAST(hits AS BIGINT) AS hits,
              |  round(CAST(hits AS DOUBLE) / sz, 6) AS overlap_frac,
              |  CAST(CASE WHEN CAST(hits AS DOUBLE) / sz >= 0.2
              |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
              |FROM j WHERE hits > 0""".stripMargin)),

    Q("q185_span_redaction",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // surgical decontamination: REWRITE contaminated docs by
        // excising every token covered by a 3-gram that occurs in the
        // eval set (doc_id % 7 = 0, the q59 split), instead of
        // dropping the doc. Only flagged docs pay token-grain work;
        // clean docs pass through at doc grain. Docs redacted to
        // nothing come back as '' (kept, auditable).
        val docs = tbl("documents")
        Dedup.redactContaminatedSpans(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", n = 3)
      },
      Some(s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ')
              |             AS w FROM documents WHERE doc_id % 7 <> 0),
              |ev AS (SELECT DISTINCT unnest($ShinglesSql) AS g
              |       FROM documents WHERE doc_id % 7 = 0),
              |gr AS (SELECT doc_id, i - 1 AS pos,
              |         concat_ws(' ', w[i], w[i+1], w[i+2]) AS g
              |       FROM (SELECT doc_id, w,
              |               unnest(range(1, len(w) - 1)) AS i
              |             FROM w WHERE len(w) >= 3)),
              |hits AS (SELECT DISTINCT gr.doc_id, gr.pos
              |         FROM gr JOIN ev ON gr.g = ev.g),
              |cov AS (SELECT DISTINCT doc_id, p FROM
              |         (SELECT doc_id, unnest(range(pos, pos + 3)) AS p
              |          FROM hits)),
              |tok AS (SELECT doc_id, i - 1 AS p, w[i] AS tok
              |        FROM (SELECT doc_id, w,
              |                unnest(range(1, len(w) + 1)) AS i FROM w)),
              |kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
              |         LEFT JOIN cov c ON t.doc_id = c.doc_id
              |           AND t.p = c.p
              |         WHERE c.p IS NULL),
              |agg AS (SELECT doc_id,
              |          string_agg(tok, ' ' ORDER BY p) AS clean_text,
              |          count(*) AS n_kept FROM kept GROUP BY doc_id)
              |SELECT w.doc_id,
              |  coalesce(a.clean_text, '') AS clean_text,
              |  CAST(len(w.w) AS BIGINT) AS n_tok,
              |  CAST(len(w.w) - coalesce(a.n_kept, 0) AS BIGINT)
              |    AS n_removed
              |FROM w LEFT JOIN agg a USING (doc_id)""".stripMargin)),

    Q("q186_snapshot_diff",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // corpus snapshot diff — the data-versioning audit between two
        // pipeline runs: prev drops doc_id % 11 = 0, cur drops
        // doc_id % 13 = 0 and rewrites doc_id % 5 = 0 (a ' v2' suffix),
        // so all four statuses exercise. Hashes shuffle, text never.
        val docs = tbl("documents")
        val prev = docs.filter(col("doc_id") % 11 =!= 0)
        val cur = docs.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text", when(col("doc_id") % 5 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
        Corpus.snapshotDiff(prev, cur, "doc_id", "text")
      },
      Some("""WITH prev AS (SELECT doc_id, md5(text) AS h_prev
             |              FROM documents WHERE doc_id % 11 <> 0),
             |cur AS (SELECT doc_id,
             |          md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
             |              ELSE text END) AS h_cur
             |        FROM documents WHERE doc_id % 13 <> 0)
             |SELECT coalesce(p.doc_id, c.doc_id) AS doc_id,
             |  CASE WHEN p.doc_id IS NULL THEN 'added'
             |       WHEN c.doc_id IS NULL THEN 'removed'
             |       WHEN p.h_prev <> c.h_cur THEN 'changed'
             |       ELSE 'unchanged' END AS status,
             |  p.h_prev, c.h_cur
             |FROM prev p FULL OUTER JOIN cur c
             |  ON p.doc_id = c.doc_id""".stripMargin)),

    Q("q187_leakage_safe_split",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // leakage-safe 80/10/10 split: the q111 md5 coin tossed on each
        // doc's near-dup CLUSTER rep (q57's components), so no dup
        // cluster straddles train/test. The oracle composes the q57
        // recursive closure with the q111 hex arithmetic on rep.
        Selection.leakageSafeSplit(tbl("documents"), "doc_id", "text",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
            threshold = 0.6)
          .select(col("doc_id"), col("rep"), col("split"))
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $ShinglesSql AS sh
              |                     FROM documents),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM t a JOIN t b ON a.doc_id < b.doc_id
              |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh)
              |         - len(list_intersect(a.sh, b.sh))) >= 0.6),
              |e AS (SELECT id_a AS u, id_b AS v FROM p
              |      UNION ALL SELECT id_b, id_a FROM p),
              |cc(id, lab) AS (
              |  SELECT u, u FROM e
              |  UNION
              |  SELECT e.u, cc.lab FROM e JOIN cc ON cc.id = e.v),
              |reps AS (SELECT id AS doc_id, min(lab) AS rep
              |         FROM cc GROUP BY id),
              |r AS (SELECT d.doc_id, coalesce(reps.rep, d.doc_id) AS rep
              |      FROM documents d LEFT JOIN reps USING (doc_id)),
              |v AS (SELECT doc_id, rep,
              |    ((strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 1, 1)) - 1)
              |          * 1048576
              |     + (strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 2, 1)) - 1)
              |          * 65536
              |     + (strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 3, 1)) - 1)
              |          * 4096
              |     + (strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 4, 1)) - 1)
              |          * 256
              |     + (strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 5, 1)) - 1)
              |          * 16
              |     + (strpos('0123456789abcdef',
              |        substr(md5(rep::VARCHAR || ':split'), 6, 1)) - 1))
              |      AS v
              |  FROM r)
              |SELECT doc_id, CAST(rep AS BIGINT) AS rep,
              |  CASE WHEN v < 13421773 THEN 'train'
              |       WHEN v < 15099494 THEN 'val'
              |       ELSE 'test' END AS split
              |FROM v""".stripMargin)),

    Q("q188_length_bucket_plan",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // length-bucket boundary planner (the q180/q182 tuning
        // pattern): corpus → length histogram in one map-side agg,
        // equal-count cuts by exact integer arithmetic at histogram
        // grain, per-bucket padding waste accounted exactly. The spec
        // quantifies the heuristic against the true segmentation DP.
        operators.Packing.bucketBoundaryPlan(
          tbl("documents"), "text", nBuckets = 8)
      },
      Some("""WITH l AS (SELECT len(string_split(text, ' ')) AS n_tok
             |           FROM documents),
             |hist AS (SELECT n_tok, count(*) AS cnt FROM l
             |         GROUP BY n_tok),
             |tot AS (SELECT sum(cnt) AS n FROM hist),
             |cum AS (SELECT n_tok, cnt,
             |          sum(cnt) OVER (ORDER BY n_tok) AS cum FROM hist),
             |b AS (SELECT n_tok, cnt, ((cum - 1) * 8) // n + 1 AS bucket
             |      FROM cum, tot),
             |g AS (SELECT bucket, min(n_tok) AS len_lo,
             |        max(n_tok) AS len_hi, sum(cnt) AS n_docs,
             |        sum(n_tok * cnt) AS tok_sum
             |      FROM b GROUP BY bucket)
             |SELECT CAST(bucket AS BIGINT) AS bucket,
             |  CAST(len_lo AS BIGINT) AS len_lo,
             |  CAST(len_hi AS BIGINT) AS len_hi,
             |  CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(len_hi * n_docs AS BIGINT) AS padded_tokens,
             |  CAST(len_hi * n_docs - tok_sum AS BIGINT) AS waste,
             |  round(CAST(len_hi * n_docs - tok_sum AS DOUBLE)
             |    / (len_hi * n_docs), 6) AS waste_frac
             |FROM g""".stripMargin)),

    Q("q189_vocab_coverage",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-language OOV audit under a shared top-24 vocabulary —
        // the tokenizer-design / language-fairness report: one exact
        // token-count aggregate, TakeOrderedAndProject top-V, V-row
        // broadcast membership join, per-lang rates
        operators.Frequency.vocabCoverage(
          tbl("documents"), "text", "lang", vocabSize = 24)
      },
      Some("""WITH tk AS (SELECT lang,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |vc AS (SELECT tok FROM
             |        (SELECT tok, count(*) AS cnt FROM tk GROUP BY tok)
             |       ORDER BY cnt DESC, tok LIMIT 24)
             |SELECT lang, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM vc)
             |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
             |  round(CAST(sum(CASE WHEN tok IN (SELECT tok FROM vc)
             |    THEN 0 ELSE 1 END) AS DOUBLE) / count(*), 6) AS oov_frac
             |FROM tk GROUP BY lang""".stripMargin)),

    Q("q190_contamination_blast_radius",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // transitive decontamination set: direct containment hits
        // (q59's gate) PLUS their near-dup cluster-mates (q57's
        // components over the train side) — the docs a per-doc screen
        // leaves behind even though they carry the same benchmark
        // text. Output carries provenance (direct | via_dup).
        val docs = tbl("documents")
        Dedup.contaminationBlastRadius(
          docs.filter(col("doc_id") % 7 =!= 0),
          docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", threshold = 0.6, dupThreshold = 0.6)
      },
      Some(s"""WITH RECURSIVE t AS (SELECT doc_id, $ShinglesSql AS sh
              |                     FROM documents),
              |e0 AS (SELECT doc_id AS eval_id, sh AS sh_e FROM t
              |       WHERE doc_id % 7 = 0),
              |tr AS (SELECT doc_id, sh FROM t WHERE doc_id % 7 <> 0),
              |direct AS (SELECT DISTINCT tr.doc_id FROM tr, e0
              |  WHERE CAST(len(list_intersect(tr.sh, e0.sh_e)) AS DOUBLE)
              |    / len(e0.sh_e) >= 0.6),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |      FROM tr a JOIN tr b ON a.doc_id < b.doc_id
              |      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
              |        (len(a.sh) + len(b.sh)
              |         - len(list_intersect(a.sh, b.sh))) >= 0.6),
              |ed AS (SELECT id_a AS u, id_b AS v FROM p
              |       UNION ALL SELECT id_b, id_a FROM p),
              |cc(id, lab) AS (
              |  SELECT u, u FROM ed
              |  UNION
              |  SELECT ed.u, cc.lab FROM ed JOIN cc ON cc.id = ed.v),
              |reps AS (SELECT id AS doc_id, min(lab) AS rep
              |         FROM cc GROUP BY id),
              |badrep AS (SELECT DISTINCT rep FROM direct
              |           JOIN reps USING (doc_id)),
              |via AS (SELECT r.doc_id FROM reps r JOIN badrep USING (rep)
              |        WHERE r.doc_id NOT IN
              |          (SELECT doc_id FROM direct))
              |SELECT doc_id, 'direct' AS reason FROM direct
              |UNION ALL
              |SELECT doc_id, 'via_dup' AS reason FROM via""".stripMargin)),

    Q("q191_kmv_incremental_overlap",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL KMV build: per-batch sketches (even/odd doc_id
        // halves) merged by bottom-k — history is never rescanned —
        // then the q183 estimator on the merged sketch. The oracle is
        // q183's MONOLITHIC replay verbatim: bottom-k of a union
        // equals bottom-k of concatenated bottom-k's, so any merge
        // defect (rank off-by-one, lost digest, dup survival)
        // hash-fails against the one-shot chain.
        val docs = tbl("documents")
        val skA = operators.Frequency.kmvSketches(
          docs.filter(col("doc_id") % 2 === 0), "source", "text", k = 128)
        val skB = operators.Frequency.kmvSketches(
          docs.filter(col("doc_id") % 2 === 1), "source", "text", k = 128)
        val merged = operators.Frequency.kmvMergeSketches(
          skA.unionByName(skB), "source", k = 128)
        operators.Frequency.kmvOverlapMatrix(merged, "source", k = 128)
      },
      Some(KmvOverlapSql)),

    Q("q192_rank_biased_overlap",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        import s.implicits._
        // RBO@20 between two BM25 parameterizations (k1=1.2/b=0.75 vs
        // k1=2.0/b=0.25 — both dyadic so 1−b and k1+1 are float-exact
        // in both engines): the ranker-comparison readout (how much
        // does the parameter change actually reorder the top?).
        // Agreement terms are exact integer ratios, p=0.75 weights
        // are exact dyadics; the one float sum rounds at 6.
        val probes = Seq(
          (1L, Seq("hash", "filter", "customer")),
          (2L, Seq("stream", "window")),
          (3L, Seq("training", "data", "quality"))
        ).toDF("query_id", "terms")
        val docs = tbl("documents")
        val runA = operators.Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "terms", k = 20)
        val runB = operators.Retrieval.bm25TopK(docs, "doc_id", "text",
          probes, "query_id", "terms", k = 20, k1 = 2.0, b = 0.25)
        operators.Retrieval.rankBiasedOverlap(runA, runB,
          "query_id", "id", "rank", depth = 20)
      },
      Some("""WITH q(query_id, term) AS (VALUES
             |  (1, 'hash'), (1, 'filter'), (1, 'customer'),
             |  (2, 'stream'), (2, 'window'),
             |  (3, 'training'), (3, 'data'), (3, 'quality')),
             |p AS (SELECT doc_id,
             |  CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS dl,
             |  string_split(lower(text), ' ') AS w FROM documents),
             |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
             |       FROM p),
             |tf AS (SELECT doc_id, dl, t AS term,
             |    CAST(count(*) AS DOUBLE) AS f
             |  FROM (SELECT doc_id, dl, unnest(w) AS t FROM p)
             |  WHERE t IN (SELECT term FROM q)
             |  GROUP BY doc_id, dl, t),
             |idf AS (SELECT term,
             |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) AS idf, avgdl
             |  FROM (SELECT term, CAST(count(*) AS DOUBLE) AS df
             |        FROM tf GROUP BY term), st),
             |scA AS (SELECT q.query_id, tf.doc_id,
             |    round(sum(idf.idf * tf.f * 2.2 / (tf.f + 1.2 *
             |      (0.25 + 0.75 * tf.dl / idf.avgdl))), 6) AS score
             |  FROM tf JOIN idf USING (term) JOIN q ON q.term = tf.term
             |  GROUP BY q.query_id, tf.doc_id),
             |rA AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS ra
             |  FROM scA QUALIFY ra <= 20),
             |scB AS (SELECT q.query_id, tf.doc_id,
             |    round(sum(idf.idf * tf.f * 3.0 / (tf.f + 2.0 *
             |      (0.75 + 0.25 * tf.dl / idf.avgdl))), 6) AS score
             |  FROM tf JOIN idf USING (term) JOIN q ON q.term = tf.term
             |  GROUP BY q.query_id, tf.doc_id),
             |rB AS (SELECT query_id, doc_id,
             |    row_number() OVER (PARTITION BY query_id
             |      ORDER BY score DESC, doc_id) AS rb
             |  FROM scB QUALIFY rb <= 20),
             |sh AS (SELECT a.query_id, greatest(a.ra, b.rb) AS m
             |       FROM rA a JOIN rB b USING (query_id, doc_id)),
             |qs AS (SELECT DISTINCT query_id FROM q),
             |sp AS (SELECT query_id, unnest(range(1, 21)) AS d FROM qs),
             |cum AS (SELECT sp.query_id, sp.d,
             |    sum(CASE WHEN sh.m <= sp.d THEN 1 ELSE 0 END) AS ov
             |  FROM sp LEFT JOIN sh ON sh.query_id = sp.query_id
             |  GROUP BY 1, 2)
             |SELECT CAST(query_id AS BIGINT) AS query_id,
             |  round(0.25 * sum(CAST(ov AS DOUBLE) / d
             |    * power(0.75, d - 1)), 6) AS rbo,
             |  CAST(max(CASE WHEN d = 20 THEN ov END) AS BIGINT)
             |    AS n_shared
             |FROM cum GROUP BY query_id""".stripMargin)),

    Q("q193_novelty_curve",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // content-novelty curve over 5 ordered collection batches
        // (doc_id % 5): per batch, distinct shingles never seen in an
        // earlier batch, plus the cumulative vocabulary — the
        // data-collection saturation readout
        operators.Frequency.noveltyCurve(tbl("documents"),
          col("doc_id") % 5, "text")
      },
      Some(s"""WITH sh0 AS (SELECT doc_id % 5 AS batch,
              |    unnest($ShinglesSql) AS s FROM documents),
              |dd AS (SELECT DISTINCT batch, s FROM sh0),
              |fs AS (SELECT s, min(batch) AS batch FROM dd GROUP BY s),
              |nv AS (SELECT batch, count(*) AS n_novel FROM fs
              |       GROUP BY batch),
              |tt AS (SELECT batch, count(*) AS n_distinct FROM dd
              |       GROUP BY batch)
              |SELECT CAST(t.batch AS BIGINT) AS batch, t.n_distinct,
              |  CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
              |  round(CAST(coalesce(nv.n_novel, 0) AS DOUBLE)
              |    / t.n_distinct, 6) AS novelty_frac,
              |  CAST(sum(coalesce(nv.n_novel, 0))
              |    OVER (ORDER BY t.batch) AS BIGINT) AS cum_vocab
              |FROM tt t LEFT JOIN nv USING (batch)""".stripMargin)),

    Q("q194_compression_ratio",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // compression-ratio quality signal (deflate bytes / raw
        // bytes). zlib is engine-private, so the oracle gates the
        // signal's PROPERTIES (the q25 pattern): natural fixture text
        // sits in a sane band and separates hard from a maximally
        // repetitive same-token-count probe. Margins are wide and
        // measured: natural avg ≈ 0.44-0.52 across SFs (shared
        // synthetic vocab compresses better than prose), repetitive
        // probe avg ≈ 0.04.
        val r = tbl("documents").select(
          Text.compressionRatio(col("text")).as("r_nat"),
          Text.compressionRatio(concat(lit("spam"),
            expr("repeat(' spam', cast(size(split(text, ' ')) as int) - 1)")))
            .as("r_rep"))
        r.agg(avg(col("r_nat")).as("a_nat"), min(col("r_nat")).as("mn"),
            max(col("r_nat")).as("mx"), avg(col("r_rep")).as("a_rep"))
          .select(
            Clean.flag(col("mn") > 0.0).as("pos_ok"),
            Clean.flag(col("mx") <= 1.05).as("bound_ok"),
            Clean.flag(col("a_rep") + 0.2 <= col("a_nat")).as("sep_ok"),
            Clean.flag(col("a_rep") <= 0.2).as("rep_low_ok"))
      },
      Some("""SELECT CAST(1 AS BIGINT) AS pos_ok,
             |CAST(1 AS BIGINT) AS bound_ok, CAST(1 AS BIGINT) AS sep_ok,
             |CAST(1 AS BIGINT) AS rep_low_ok""".stripMargin)),

    Q("q195_lsh_recall_audit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // empirical closure of q182's S-curve model: run the REAL
        // minhash machinery under a deliberately weak 4x4 plan against
        // exact-Jaccard ground truth. The fixture's natural dups sit
        // at jaccard ≈ 1 (p_detect ≈ 1 — no test power), so plant
        // MID-CURVE pairs (q27 pattern): each doc_id < 50 gains a
        // copy with ~40% unique appended tokens → jaccard ≈ 0.71,
        // p_detect ≈ 0.67 — where the band check actually bites.
        // n_exact and expected recall replay in SQL from the same
        // planted corpus; measured recall gates via the 3σ flag.
        val base = tbl("documents").select(col("doc_id"), col("text"))
        val planted = base.filter(col("doc_id") < 50)
          .select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" "), concat_ws(" ",
              transform(sequence(lit(1),
                  ceil(size(split(col("text"), " ")) * 0.4).cast("int")),
                i => concat(lit("zq"), col("doc_id"), lit("x"), i))))
              .as("text"))
        Dedup.lshRecallAudit(base.unionByName(planted), "doc_id", "text",
          threshold = 0.6, bands = 4, rowsPerBand = 4)
      },
      Some(s"""WITH aug AS (
              |  SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000,
              |    text || ' ' || array_to_string(list_transform(
              |      range(1, CAST(ceil(len(string_split(text, ' ')) * 0.4)
              |        AS INT) + 1),
              |      i -> 'zq' || doc_id || 'x' || i), ' ')
              |  FROM documents WHERE doc_id < 50),
              |t AS (SELECT doc_id, $ShinglesSql AS sh FROM aug),
              |p AS (SELECT round(inter / (tot - inter), 6) AS j FROM
              |       (SELECT CAST(len(list_intersect(a.sh, b.sh))
              |            AS DOUBLE) AS inter,
              |          len(a.sh) + len(b.sh) AS tot
              |        FROM t a JOIN t b ON a.doc_id < b.doc_id)
              |      WHERE inter / (tot - inter) >= 0.6)
              |SELECT count(*) AS n_exact,
              |  round(coalesce(avg(1 - power(1 - power(j, 4), 4)), 0.0),
              |    6) AS expected_recall,
              |  CAST(1 AS BIGINT) AS subset_ok,
              |  CAST(1 AS BIGINT) AS recall_in_band
              |FROM p""".stripMargin)),

    Q("q196_streaming_kmv_overlap",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING KMV maintenance — the ingestion-time shape of
        // q191: each arriving micro-batch contributes its own bottom-k
        // sketch, merged into the running per-source store (read
        // store_{b−1}, merge, write store_b — the q68 signature-store
        // discipline; AvailableNow serializes batches so the chain is
        // well-defined). Per-batch cost ∝ batch + k·|sources|; history
        // is NEVER rescanned. The final overlap matrix comes off the
        // last store, and the oracle is the MONOLITHIC q183 replay —
        // the bottom-k-merge identity makes streaming accumulation
        // exactly equal to having seen the corpus at once.
        import java.nio.file.Files
        val docs = tbl("documents").select(col("doc_id"), col("source"),
          col("text"))
        val dir = tempStagingDir("graft_q196_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(docs.filter(col("doc_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(docs.filter(col("doc_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val bsk = operators.Frequency.kmvSketches(batch, "source",
            "text", k = 128)
          val merged =
            if (batchId == 0) bsk
            else operators.Frequency.kmvMergeSketches(
              bsk.unionByName(
                batch.sparkSession.read.parquet(s"$out/store_${batchId - 1}")),
              "source", k = 128)
          merged.write.mode("overwrite").parquet(s"$out/store_$batchId")
        }
        val query = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        operators.Frequency.kmvOverlapMatrix(
          s.read.parquet(s"$out/store_1"), "source", k = 128)
      },
      Some(KmvOverlapSql)),

    Q("q197_truncation_policy_audit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // what does a context limit cost: exact token/doc forfeiture
        // under truncate / drop / split-with-min-tail for three
        // candidate max_seq_len values — pure integer arithmetic at
        // length-histogram grain (the q188 discipline)
        operators.Packing.truncationPolicyAudit(tbl("documents"),
          "text", maxLens = Seq(32, 64, 128))
      },
      Some("""WITH l AS (SELECT len(string_split(text, ' ')) AS n_tok
             |           FROM documents),
             |hist AS (SELECT n_tok, count(*) AS cnt FROM l
             |         GROUP BY n_tok),
             |sp(max_len) AS (VALUES (32), (64), (128)),
             |x AS (SELECT h.n_tok, h.cnt,
             |        CAST(sp.max_len AS BIGINT) AS max_len,
             |        CASE WHEN h.n_tok > sp.max_len THEN 1 ELSE 0 END
             |          AS ov,
             |        h.n_tok % sp.max_len AS tail
             |      FROM hist h, sp),
             |tr AS (SELECT max_len, 'truncate' AS policy,
             |    CAST(sum(cnt * ov) AS BIGINT) AS n_docs_affected,
             |    CAST(sum(cnt * n_tok) AS BIGINT) AS tokens_total,
             |    CAST(sum(cnt * greatest(n_tok - max_len, 0)) AS BIGINT)
             |      AS tokens_lost
             |  FROM x GROUP BY max_len),
             |dr AS (SELECT max_len, 'drop' AS policy,
             |    CAST(sum(cnt * ov) AS BIGINT),
             |    CAST(sum(cnt * n_tok) AS BIGINT),
             |    CAST(sum(cnt * n_tok * ov) AS BIGINT)
             |  FROM x GROUP BY max_len),
             |spl AS (SELECT max_len, 'split' AS policy,
             |    CAST(sum(cnt * st) AS BIGINT),
             |    CAST(sum(cnt * n_tok) AS BIGINT),
             |    CAST(sum(cnt * tail * st) AS BIGINT)
             |  FROM (SELECT *, CASE WHEN n_tok > max_len AND tail > 0
             |          AND tail * 4 < max_len THEN 1 ELSE 0 END AS st
             |        FROM x) GROUP BY max_len),
             |u AS (SELECT * FROM tr UNION ALL SELECT * FROM dr
             |      UNION ALL SELECT * FROM spl)
             |SELECT max_len, policy, n_docs_affected, tokens_total,
             |  tokens_lost,
             |  round(CAST(tokens_lost AS DOUBLE) / tokens_total, 6)
             |    AS loss_frac
             |FROM u""".stripMargin)),

    Q("q198_sampled_dup_rate",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // sample-extrapolated duplicate rate with in-plan CI-coverage
        // audit: a 25% identity-hash sample estimates the exact-dup
        // fraction, the same single content-hash pass computes the
        // full-scan truth, and the normal-approx 95% CI is checked
        // against it — the pre-dedup sizing readout
        operators.Dedup.sampledDupRate(tbl("documents"), "doc_id",
          "text", rate = 0.25)
      },
      Some {
        val pfx = (0 until 64).map(i => f"'$i%02x'").mkString(", ")
        s"""WITH h AS (SELECT md5(text) AS h,
           |    CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
           |      IN ($pfx) THEN 1 ELSE 0 END AS s
           |  FROM documents),
           |per AS (SELECT h, count(*) AS m, sum(s) AS sc FROM h
           |        GROUP BY h),
           |a AS (SELECT sum(m) AS n_total,
           |    sum(CASE WHEN m >= 2 THEN m ELSE 0 END) AS dt,
           |    sum(sc) AS n_sampled,
           |    sum(CASE WHEN m >= 2 THEN sc ELSE 0 END) AS ds FROM per),
           |b AS (SELECT *, CAST(dt AS DOUBLE) / n_total AS pt,
           |    CAST(ds AS DOUBLE) / n_sampled AS pe FROM a),
           |c AS (SELECT *, greatest(pe - 1.96 * sqrt(pe * (1 - pe)
           |      / n_sampled), 0.0) AS lo,
           |    least(pe + 1.96 * sqrt(pe * (1 - pe) / n_sampled), 1.0)
           |      AS hi FROM b)
           |SELECT CAST(n_total AS BIGINT) AS n_total,
           |  round(pt, 6) AS dup_rate_true,
           |  CAST(n_sampled AS BIGINT) AS n_sampled,
           |  round(pe, 6) AS dup_rate_est,
           |  round(lo, 6) AS ci_lo, round(hi, 6) AS ci_hi,
           |  CAST(CASE WHEN pt >= lo AND pt <= hi THEN 1 ELSE 0 END
           |    AS BIGINT) AS covered
           |FROM c""".stripMargin
      }),

    Q("q199_ks_length_drift",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // two-sample Kolmogorov-Smirnov on token-length distributions,
        // English slice vs rest — the length-SHAPE drift gate that JS
        // vocabulary drift (q135/q142) can't see
        operators.Quality.ksLengthDrift(tbl("documents"),
          col("lang") === "en", "text")
      },
      Some("""WITH l AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END
             |    AS s, len(string_split(text, ' ')) AS n
             |  FROM documents),
             |hist AS (SELECT n, sum(s) AS ca, sum(1 - s) AS cb FROM l
             |         GROUP BY n),
             |c AS (SELECT sum(ca) OVER (ORDER BY n) AS fa,
             |    sum(cb) OVER (ORDER BY n) AS fb,
             |    sum(ca) OVER () AS na, sum(cb) OVER () AS nb
             |  FROM hist),
             |o AS (SELECT max(na) AS n_a, max(nb) AS n_b,
             |    max(abs(CAST(fa AS DOUBLE) / na
             |      - CAST(fb AS DOUBLE) / nb)) AS ks FROM c)
             |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT)
             |    AS n_b,
             |  round(ks, 6) AS ks_d,
             |  round(1.3581 * sqrt(CAST(n_a + n_b AS DOUBLE)
             |    / (n_a * n_b)), 6) AS crit_05,
             |  CAST(CASE WHEN ks > 1.3581 * sqrt(CAST(n_a + n_b
             |      AS DOUBLE) / (n_a * n_b)) THEN 1 ELSE 0 END
             |    AS BIGINT) AS drift
             |FROM o""".stripMargin)),

    Q("q200_unigram_entropy",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-source Shannon entropy of the unigram distribution —
        // the corpus-diversity scalar (normalized by log2 vocab for
        // cross-source comparability)
        operators.Quality.unigramEntropy(tbl("documents"), "source",
          "text")
      },
      Some("""WITH t AS (SELECT source,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |cn AS (SELECT source, tok, count(*) AS c FROM t
             |       GROUP BY 1, 2),
             |g AS (SELECT source, sum(c) AS n_tokens, count(*) AS vocab,
             |    sum(c * ln(CAST(c AS DOUBLE)) / ln(2)) AS sc
             |  FROM cn GROUP BY source),
             |e AS (SELECT *, ln(CAST(n_tokens AS DOUBLE)) / ln(2)
             |    - sc / n_tokens AS h FROM g)
             |SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(vocab AS BIGINT) AS vocab,
             |  round(h, 6) AS entropy_bits,
             |  round(CASE WHEN vocab > 1
             |    THEN h / (ln(CAST(vocab AS DOUBLE)) / ln(2))
             |    ELSE 0.0 END, 6) AS norm_entropy
             |FROM e""".stripMargin)),

    Q("q201_streaming_reservoir",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING A-ES reservoir maintenance — the ingestion-time
        // shape of q117: each micro-batch folds into the running
        // per-lang weighted sample via reservoirMergeTopK (read
        // store_{b−1}, merge, write store_b — the q196 store
        // discipline). The deterministic-key top-k merge identity
        // makes the accumulated reservoir EXACTLY the monolithic
        // sample, so the oracle is q117's one-shot replay.
        import java.nio.file.Files
        val docs = tbl("documents").select(col("doc_id"), col("lang"),
          size(Text.tokens(lower(col("text")))).cast("double").as("w"))
        val dir = tempStagingDir("graft_q201_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(docs.filter(col("doc_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(docs.filter(col("doc_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val merged =
            if (batchId == 0)
              operators.Sampling.weightedSampleTopK(batch, "doc_id",
                "lang", col("w"), k = 10)
            else
              operators.Sampling.reservoirMergeTopK(
                batch.sparkSession.read.parquet(s"$out/store_${batchId - 1}"),
                batch, "doc_id", "lang", "w", k = 10)
          merged.write.mode("overwrite").parquet(s"$out/store_$batchId")
        }
        val query = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/store_1")
          .select(col("doc_id"), col("lang"), col("rank"))
      },
      Some(AesTop10Sql)),

    Q("q202_epoch_plan",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // token-budget epoch plan: temperature weights (alpha 0.5)
        // over per-lang token mass, budget = 2x corpus tokens, epochs
        // capped at 2 — caps bind on every non-en lang (raw 2.36-2.56
        // vs en 1.4), so the deficit ledger is exercised
        operators.Selection.epochPlan(tbl("documents"), "lang",
          Text.tokenCount(col("text")), alpha = 0.5,
          budgetFactor = 2.0, maxEpochs = 2.0)
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS n_avail
             |  FROM documents GROUP BY lang),
             |t AS (SELECT CAST(sum(n_avail) AS DOUBLE) AS N,
             |    sum(pow(CAST(n_avail AS DOUBLE), 0.5)) AS Z FROM a),
             |j AS (SELECT a.*, pow(CAST(n_avail AS DOUBLE), 0.5) / Z
             |    AS w, N FROM a, t),
             |e AS (SELECT *, w * N * 2.0 AS wanted,
             |    (w * N * 2.0) / CAST(n_avail AS DOUBLE) AS raw FROM j)
             |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_avail AS BIGINT) AS n_avail,
             |  round(w, 6) AS weight,
             |  round(wanted, 2) AS tokens_wanted,
             |  round(least(raw, 2.0), 6) AS epochs,
             |  CAST(CASE WHEN raw > 2.0 THEN 1 ELSE 0 END AS BIGINT)
             |    AS capped,
             |  round(CASE WHEN raw > 2.0
             |    THEN wanted - 2.0 * CAST(n_avail AS DOUBLE)
             |    ELSE 0.0 END, 2) AS tokens_deficit
             |FROM e""".stripMargin)),

    Q("q203_bitext_margin",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // margin-based bitext mining (CCMatrix criterion): best target
        // per source by cos/avg-top-4-neighborhood ratio, mined at
        // margin > 1.05 — min top-2 gap 5.7e-4 and min tau distance
        // 2.0e-4 across SFs, orders above ulp noise
        val emb = tbl("embeddings").select(col("vec_id"), col("embedding"))
        operators.Similarity.bitextMarginMine(
          emb.filter(col("vec_id") % 8 === 0),
          emb.filter(col("vec_id") % 8 === 1),
          "vec_id", "embedding", k = 4, tau = 1.05)
      },
      Some("""WITH x AS (SELECT vec_id AS src_id,
             |    CAST(embedding AS DOUBLE[]) AS xv FROM embeddings
             |  WHERE vec_id % 8 = 0),
             |y AS (SELECT vec_id AS tgt_id,
             |    CAST(embedding AS DOUBLE[]) AS yv FROM embeddings
             |  WHERE vec_id % 8 = 1),
             |sc AS (SELECT src_id, tgt_id,
             |    list_cosine_similarity(xv, yv) AS cos FROM x, y),
             |r AS (SELECT *, row_number() OVER (PARTITION BY src_id
             |      ORDER BY cos DESC, tgt_id) AS rx,
             |    row_number() OVER (PARTITION BY tgt_id
             |      ORDER BY cos DESC, src_id) AS ry FROM sc),
             |ax AS (SELECT src_id, avg(cos) AS ax FROM r WHERE rx <= 4
             |       GROUP BY src_id),
             |ay AS (SELECT tgt_id, avg(cos) AS ay FROM r WHERE ry <= 4
             |       GROUP BY tgt_id),
             |m AS (SELECT sc.src_id, sc.tgt_id, sc.cos,
             |    sc.cos / ((ax.ax + ay.ay) / 2) AS margin
             |  FROM sc JOIN ax ON ax.src_id = sc.src_id
             |    JOIN ay ON ay.tgt_id = sc.tgt_id),
             |f AS (SELECT *, row_number() OVER (PARTITION BY src_id
             |    ORDER BY margin DESC, tgt_id) AS rm FROM m)
             |SELECT src_id, tgt_id, round(cos, 4) AS cos,
             |  round(margin, 4) AS margin
             |FROM f WHERE rm = 1 AND margin > 1.05""".stripMargin)),

    Q("q204_incremental_datasheet",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL corpus-datasheet maintenance — the q127 card
        // kept current at ingestion time: per batch, mergeable moments
        // (counts/sums/extrema) fold via mergeMomentStats and the
        // non-mergeable distinct-hash count routes through a content-
        // hash store anti-join (the q62 discipline), so the
        // accumulated card EXACTLY equals the one-shot datasheet and
        // q127's oracle gates the stream. Per-batch cost ∝ batch;
        // stores are |strata| rows + one hash per distinct text.
        import java.nio.file.Files
        val docs = tbl("documents")
        val dir = tempStagingDir("graft_q204_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(docs.filter(col("doc_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(docs.filter(col("doc_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val sp = batch.sparkSession
          val toks = size(Text.tokens(lower(col("text"))))
          val bh = batch.select(col("source"), col("lang"),
            md5(col("text")).as("h")).distinct()
          val newh =
            if (batchId == 0) bh
            else bh.join(sp.read.parquet(s"$out/hashes_${batchId - 1}"),
              Seq("source", "lang", "h"), "left_anti")
          newh.write.mode("overwrite").parquet(s"$out/hashes_$batchId")
          if (batchId > 0)
            sp.read.parquet(s"$out/hashes_${batchId - 1}").write
              .mode("append").parquet(s"$out/hashes_$batchId")
          // distinct counter stays INCREMENTAL: the batch contributes
          // only its new-hash counts, summed through the moments merge
          // (the store is appended to, never recounted)
          val inc = newh.groupBy("source", "lang")
            .agg(count(lit(1)).as("n_distinct"))
          val bs = batch.select(col("source"), col("lang"),
              toks.as("n_tok"),
              round(Text.qualityScore(col("text"), Stopwords), 6).as("q"),
              regexp_count(col("text"), lit(Text.EmailRe)).as("n_email"))
            .groupBy("source", "lang").agg(
              count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
              min(col("n_tok")).as("min_tok"), max(col("n_tok")).as("max_tok"),
              sum(col("q")).as("sum_q"), sum(col("n_email")).as("n_emails"))
            .join(inc, Seq("source", "lang"), "left")
            .withColumn("n_distinct",
              coalesce(col("n_distinct"), lit(0L)))
          val merged =
            if (batchId == 0) bs
            else operators.Incremental.mergeMomentStats(
              sp.read.parquet(s"$out/stats_${batchId - 1}"),
              bs, Seq("source", "lang"),
              sumCols = Seq("n_docs", "n_tokens", "sum_q", "n_emails",
                "n_distinct"),
              minCols = Seq("min_tok"), maxCols = Seq("max_tok"))
          merged.write.mode("overwrite").parquet(s"$out/stats_$batchId")
        }
        val query = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/stats_1").select(
          col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("min_tok"), col("max_tok"),
          round(col("n_tokens").cast("double") /
            col("n_docs").cast("double"), 4).as("avg_tok"),
          (col("n_docs") - col("n_distinct")).as("n_exact_dup"),
          round(col("sum_q") / col("n_docs").cast("double"), 4)
            .as("avg_quality"),
          col("n_emails"))
      },
      Some(DatasheetSql)),

    Q("q205_pmi_collocations",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // top-30 collocations by PMI (Church & Hanks) at min pair
        // count 5 — the phrase-mining readout for tokenizer/vocab
        // audits; PMI is ln of exact-integer-count ratios, so the
        // ranking replays exactly
        operators.Frequency.pmiCollocations(tbl("documents"), "text",
          minCount = 5L, k = 30)
      },
      Some("""WITH t AS (SELECT string_split(lower(text), ' ') AS ts
             |  FROM documents),
             |uni AS (SELECT unnest(ts) AS tok FROM t),
             |uc AS (SELECT tok, count(*) AS c_tok FROM uni GROUP BY tok),
             |bi AS (SELECT ts[i] AS x, ts[i + 1] AS y FROM t,
             |  unnest(generate_series(1, len(ts) - 1)) AS r(i)),
             |bc AS (SELECT x, y, count(*) AS c_xy FROM bi GROUP BY x, y),
             |nu AS (SELECT CAST(sum(c_tok) AS DOUBLE) AS n_uni FROM uc),
             |nb AS (SELECT CAST(sum(c_xy) AS DOUBLE) AS n_bi FROM bc),
             |sc AS (SELECT bc.x, bc.y, c_xy, ux.c_tok AS c_x,
             |    uy.c_tok AS c_y,
             |    ln((CAST(c_xy AS DOUBLE) / n_bi) /
             |      ((CAST(ux.c_tok AS DOUBLE) / n_uni) *
             |       (CAST(uy.c_tok AS DOUBLE) / n_uni))) AS pmi_raw
             |  FROM bc JOIN uc ux ON ux.tok = bc.x
             |    JOIN uc uy ON uy.tok = bc.y, nu, nb
             |  WHERE c_xy >= 5)
             |SELECT x, y, CAST(c_xy AS BIGINT) AS c_xy,
             |  CAST(c_x AS BIGINT) AS c_x, CAST(c_y AS BIGINT) AS c_y,
             |  round(pmi_raw, 6) AS pmi
             |FROM sc ORDER BY pmi_raw DESC, x, y LIMIT 30""".stripMargin)),

    Q("q206_contrastive_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // ICT/Contriever-style (anchor, positive) span pairs: two
        // non-overlapping 20-token spans per doc (n ≥ 40) at
        // deterministic coin offsets — the self-supervised retrieval
        // training transform
        operators.Corpus.contrastiveSpanPairs(tbl("documents"),
          "doc_id", "text", spanLen = 20)
      },
      Some {
        val ua = OpenCoinSql("doc_id::VARCHAR", ":spanA")
        val ub = OpenCoinSql("doc_id::VARCHAR", ":spanB")
        s"""WITH t AS (SELECT doc_id,
           |    string_split(lower(text), ' ') AS ts,
           |    CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n
           |  FROM documents),
           |f AS (SELECT doc_id, ts, n,
           |    CAST(floor($ua * CAST(n - 40 + 1 AS DOUBLE)) AS BIGINT)
           |      AS a_start
           |  FROM t WHERE n >= 40),
           |g AS (SELECT *, a_start + 20 + CAST(floor($ub *
           |      CAST(n - 40 - a_start + 1 AS DOUBLE)) AS BIGINT)
           |    AS p_start FROM f)
           |SELECT doc_id, n AS n_tok, a_start, p_start,
           |  array_to_string(ts[a_start + 1 : a_start + 20], ' ')
           |    AS anchor,
           |  array_to_string(ts[p_start + 1 : p_start + 20], ' ')
           |    AS positive
           |FROM g""".stripMargin
      }),

    Q("q207_zipf_fit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-source Zipf fit over the top-50 tokens: OLS slope of
        // ln(count) on ln(rank) — the reference-free "is this natural
        // language" source signal (natural ≈ −1; templated flattens)
        operators.Frequency.zipfFit(tbl("documents"), "source", "text",
          topR = 50)
      },
      Some("""WITH t AS (SELECT source,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |c AS (SELECT source, tok, count(*) AS c FROM t
             |      GROUP BY 1, 2),
             |rk AS (SELECT source, c, row_number() OVER (
             |    PARTITION BY source ORDER BY c DESC, tok) AS r FROM c),
             |p AS (SELECT source, ln(CAST(r AS DOUBLE)) AS lx,
             |    ln(CAST(c AS DOUBLE)) AS ly FROM rk WHERE r <= 50),
             |m AS (SELECT source, CAST(count(*) AS DOUBLE) AS n,
             |    sum(lx) AS sx, sum(ly) AS sy, sum(lx * lx) AS sxx,
             |    sum(lx * ly) AS sxy, sum(ly * ly) AS syy
             |  FROM p GROUP BY source)
             |SELECT source, CAST(n AS BIGINT) AS n_terms,
             |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
             |    AS slope,
             |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx)
             |    * sx) / n, 6) AS intercept,
             |  round(CASE WHEN n * syy - sy * sy > 0
             |    THEN (n * sxy - sx * sy) * (n * sxy - sx * sy)
             |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
             |    ELSE 0.0 END, 6) AS r2
             |FROM m""".stripMargin)),

    Q("q208_quality_rank_blend",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // rank-normalized blend of three incommensurable quality
        // signals (token length, distinct-token ratio, composite
        // quality score): strict-fraction-below ranks at value-
        // histogram grain, blended by mean, global top-100
        operators.Quality.rankBlend(tbl("documents"), "doc_id", Seq(
          "len" -> Text.tokenCount(col("text")),
          "dtr" -> Text.distinctTokenRatio(col("text")),
          "q" -> round(Text.qualityScore(col("text"), Stopwords), 6)),
          topN = 100)
      },
      Some(s"""WITH b AS (SELECT doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS v_len,
              |    CAST(len(list_distinct(string_split(text, ' ')))
              |      AS DOUBLE) / len(string_split(text, ' ')) AS v_dtr,
              |    round(
              |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 50, 1.0) * 0.3
              |  + (CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              |      / len(string_split(text, ' '))) * 0.3
              |  + least(CAST(len(list_filter(string_split(text, ' '),
              |      t -> t IN ($StopSql))) AS DOUBLE)
              |      / greatest(len(string_split(text, ' ')), 1) * 5, 1.0) * 0.2
              |  + greatest(0.0, 1.0 - (CAST(length(text) -
              |      length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS DOUBLE)
              |      / greatest(length(text), 1)) * 4) * 0.2, 6) AS v_q
              |  FROM documents),
              |nn AS (SELECT count(*) AS n FROM b),
              |hl AS (SELECT v_len, coalesce(sum(c) OVER (ORDER BY v_len
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS bl
              |  FROM (SELECT v_len, count(*) AS c FROM b GROUP BY 1)),
              |hd AS (SELECT v_dtr, coalesce(sum(c) OVER (ORDER BY v_dtr
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS bd
              |  FROM (SELECT v_dtr, count(*) AS c FROM b GROUP BY 1)),
              |hq AS (SELECT v_q, coalesce(sum(c) OVER (ORDER BY v_q
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |      0) AS bq
              |  FROM (SELECT v_q, count(*) AS c FROM b GROUP BY 1)),
              |p AS (SELECT doc_id,
              |    CAST(bl AS DOUBLE) / (n - 1) AS pr_len,
              |    CAST(bd AS DOUBLE) / (n - 1) AS pr_dtr,
              |    CAST(bq AS DOUBLE) / (n - 1) AS pr_q,
              |    (CAST(bl AS DOUBLE) / (n - 1)
              |      + CAST(bd AS DOUBLE) / (n - 1)
              |      + CAST(bq AS DOUBLE) / (n - 1)) / 3.0 AS blend
              |  FROM b JOIN hl USING (v_len) JOIN hd USING (v_dtr)
              |    JOIN hq USING (v_q), nn)
              |SELECT doc_id, round(pr_len, 6) AS pr_len,
              |  round(pr_dtr, 6) AS pr_dtr, round(pr_q, 6) AS pr_q,
              |  round(blend, 6) AS blend
              |FROM p ORDER BY blend DESC, doc_id LIMIT 100""".stripMargin)),

    Q("q209_containment_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Directed shingle-set containment (|A∩B|/|A| — Broder's
        // asymmetric signal for "A is quoted inside B", which Jaccard
        // under-scores whenever sizes differ). Planted truths: every
        // 10th doc contributes a 12-token prefix clone whose 3-gram
        // shingles are a subset of its source's, so containment
        // (clone→source) is exactly 1.0 and always found. The oracle
        // recomputes exact all-pairs containment with list_intersect on
        // shingle STRINGS, so a hash collision in the inverted index, a
        // dropped direction, or a wrong denominator all hash-fail. The
        // score is an exact integer ratio — the 0.8 gate cannot flip
        // cross-engine.
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat_ws(" ", slice(Text.tokens(col("text")), 1, 12)).as("text"))
        Dedup.containmentPairs(docs.unionByName(planted),
          "doc_id", "text", threshold = 0.8, shingleLen = 3)
      },
      Some(s"""WITH u AS (SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 1000000 AS doc_id,
              |    array_to_string(string_split(text, ' ')[1:12], ' ')
              |      AS text
              |  FROM documents WHERE doc_id % 10 = 0),
              |t AS (SELECT doc_id, $ShinglesSql AS sh FROM u),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / len(a.sh) AS containment
              |  FROM t a, t b WHERE a.doc_id <> b.doc_id)
              |SELECT id_a, id_b, round(containment, 6) AS containment
              |FROM p WHERE containment >= 0.8""".stripMargin)),

    Q("q210_fuzzy_dup_pairs",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Edit-distance fuzzy join on the 6-token document prefix key:
        // pairs within Levenshtein 4 — the entity-resolution primitive
        // (template instantiations / typo variants that shingle Jaccard
        // under-scores). Candidates come from the RECALL-COMPLETE
        // q-gram prefix filter (each key posts its 9 globally-rarest
        // 2-grams; lev ≤ 4 destroys ≤ 8 gram types, so one rare gram
        // must survive on both sides), then exact levenshtein verifies.
        // The oracle is the full all-pairs answer — a missed candidate
        // block, wrong prefix length, or df-order tie flip hash-fails.
        // Distances are exact integers.
        Dedup.fuzzyDupPairs(tbl("documents"), "doc_id", "text",
          prefixTokens = 6, maxDist = 4, qgramLen = 2)
      },
      Some("""WITH k AS (SELECT doc_id,
             |    array_to_string(string_split(lower(text), ' ')[1:6], ' ')
             |      AS k
             |  FROM documents)
             |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             |  CAST(levenshtein(a.k, b.k) AS BIGINT) AS dist
             |FROM k a, k b
             |WHERE a.doc_id < b.doc_id
             |  AND abs(length(a.k) - length(b.k)) <= 4
             |  AND levenshtein(a.k, b.k) <= 4""".stripMargin)),

    Q("q211_boilerplate_blocks",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CCNet-style boilerplate removal at 4-token block granularity:
        // a block seen in ≥ 2 DISTINCT documents is chrome and every
        // copy drops (vs q95, which keeps one winner per block). The
        // engine keys blocks on a 128-bit salted hash pair — block
        // strings never shuffle; the oracle recomputes the df rule and
        // the rebuild with exact block strings, so a collision, an
        // occurrences-vs-documents df confusion, or a wrong grid slice
        // all hash-fail.
        Dedup.boilerplateBlocks(tbl("documents"), "doc_id", "text",
            blockTokens = 4, minDocFreq = 2L)
          .select(col("id").as("doc_id"), col("n_tok_clean"),
            col("text_clean"), col("n_blocks_dropped"))
      },
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS w,
             |             string_split(lower(text), ' ') AS lw
             |           FROM documents),
             |b AS (SELECT s.doc_id, u.pos,
             |        array_to_string(s.lw[u.pos*4+1 :
             |          least(len(s.lw), (u.pos+1)*4)], ' ') AS blk,
             |        s.w[u.pos*4+1 : least(len(s.w), (u.pos+1)*4)]
             |          AS otoks
             |      FROM s, unnest(range(0, (len(s.lw)+3)//4)) AS u(pos)),
             |hot AS (SELECT blk FROM
             |         (SELECT blk, count(DISTINCT doc_id) AS df
             |          FROM b GROUP BY blk)
             |        WHERE df >= 2),
             |agg AS (SELECT doc_id,
             |          CAST(sum(len(otoks)) AS BIGINT) AS n_tok_clean,
             |          string_agg(array_to_string(otoks, ' '), ' '
             |            ORDER BY pos) AS text_clean
             |        FROM b WHERE blk NOT IN (SELECT blk FROM hot)
             |        GROUP BY doc_id),
             |dr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
             |       FROM b WHERE blk IN (SELECT blk FROM hot)
             |       GROUP BY doc_id)
             |SELECT s.doc_id,
             |  coalesce(a.n_tok_clean, CAST(0 AS BIGINT)) AS n_tok_clean,
             |  coalesce(a.text_clean, '') AS text_clean,
             |  coalesce(dr.nd, CAST(0 AS BIGINT)) AS n_blocks_dropped
             |FROM s LEFT JOIN agg a USING (doc_id)
             |       LEFT JOIN dr USING (doc_id)""".stripMargin)),

    Q("q212_k_anonymity",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // k-anonymous datasheet slice: per-(lang, source) row counts
        // and char mass, cells under k=12 suppressed into one rollup
        // row that preserves the corpus total; when exactly one cell
        // is small the smallest VISIBLE cell is co-suppressed
        // (complementary suppression — a 1-cell rollup re-identifies
        // its member). All-integer — the gate, the complement pick and
        // both branches hash-replay exactly.
        operators.Quality.kAnonymizedStats(tbl("documents"),
          Seq("lang", "source"), k = 12L, weight = col("n_chars"))
      },
      Some("""WITH g AS (SELECT lang, source,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(sum(n_chars) AS BIGINT) AS sum_w
             |  FROM documents GROUP BY 1, 2),
             |ns AS (SELECT count(*) FILTER (n_rows < 12) AS n_small
             |       FROM g),
             |v AS (SELECT g.*, row_number() OVER
             |        (ORDER BY n_rows, lang, source) AS rn, ns.n_small
             |      FROM g, ns WHERE n_rows >= 12),
             |m AS (SELECT *, (n_small = 1 AND rn = 1) AS supp FROM v)
             |SELECT lang, source, n_rows, CAST(1 AS BIGINT) AS n_groups,
             |  sum_w
             |FROM m WHERE NOT supp
             |UNION ALL
             |SELECT '__suppressed__', '__suppressed__',
             |  CAST(sum(n_rows) AS BIGINT),
             |  CAST(count(*) AS BIGINT), CAST(sum(sum_w) AS BIGINT)
             |FROM (SELECT n_rows, sum_w FROM g WHERE n_rows < 12
             |      UNION ALL
             |      SELECT n_rows, sum_w FROM m WHERE supp)
             |HAVING count(*) > 0""".stripMargin)),

    Q("q213_decayed_topk",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // exponentially-decayed top-20 users by event mass (halflife
        // 2 days, integer age buckets): weights are exact powers of two
        // on a 2^-40 grid, ACCUMULATED AS INTEGER UNITS of 2^-40 in
        // DECIMAL(38,0) — exact for any event count (a double sum is
        // only order-independent below ~2^13 events/key), ranked on
        // the exact unit sum; decayed_w converts to double once for
        // output. t_max is in-plan (1-row broadcast); the rank window
        // runs over 20 rows.
        operators.Frequency.decayedTopK(tbl("events"), "user_id", "ts",
            halflifeSec = 172800L, k = 20)
          .select(col("key").as("user_id"), col("decayed_w"),
            col("n_events"), col("rank"))
      },
      Some("""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM events),
             |w AS (SELECT user_id,
             |    least((mx - epoch_us(ts)) // 172800000000, 40)
             |      AS bucket
             |  FROM events, mx),
             |g AS (SELECT user_id,
             |    sum(1::BIGINT << CAST(40 - bucket AS INT)) AS wu_sum,
             |    count(*) AS n_events
             |  FROM w GROUP BY 1)
             |SELECT user_id,
             |  CAST(wu_sum AS DOUBLE) / 1099511627776.0 AS decayed_w,
             |  n_events,
             |  CAST(row_number() OVER (ORDER BY wu_sum DESC, user_id)
             |    AS BIGINT) AS rank
             |FROM g ORDER BY wu_sum DESC, user_id LIMIT 20""".stripMargin)),

    Q("q214_salt_plan",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // skew-mitigation manifest for the dedup inverted-index
        // self-join: tokens with df > 100 (the q23 index at word
        // grain), the salt factor that splits them, and the EXACT pair
        // volumes before/after/lost under near-equal part sizes —
        // all-integer, the straggler-capacity planning table at 100 TB.
        val index = tbl("documents").select(
          explode(Text.shingles(lower(col("text")), 1)).as("tok"))
        operators.Skew.saltPlan(index, col("tok"), cap = 100L)
      },
      Some("""WITH t AS (SELECT doc_id,
             |    unnest(list_distinct(string_split(lower(text), ' ')))
             |      AS key
             |  FROM documents),
             |d AS (SELECT key, CAST(count(*) AS BIGINT) AS df
             |      FROM t GROUP BY 1),
             |h AS (SELECT key, df, (df + 99) // 100 AS salt
             |      FROM d WHERE df > 100),
             |c AS (SELECT key, df, salt, df // salt AS q,
             |        df - (df // salt) * salt AS r
             |      FROM h)
             |SELECT key, df, CAST(salt AS BIGINT) AS salt,
             |  CAST(df * (df - 1) // 2 AS BIGINT) AS pairs_before,
             |  CAST(r * ((q + 1) * q // 2)
             |    + (salt - r) * (q * (q - 1) // 2) AS BIGINT) AS pairs_after,
             |  CAST(df * (df - 1) // 2 - (r * ((q + 1) * q // 2)
             |    + (salt - r) * (q * (q - 1) // 2)) AS BIGINT) AS pairs_lost
             |FROM c""".stripMargin)),

    Q("q215_shard_manifest",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // data-versioning manifest: per-(lang, source) shard, row/byte
        // counts plus two order-invariant content checksums (sums of
        // 24-bit md5 integers over id:text rows, mod 2^61-1, exact
        // DECIMAL before the modulus). A rewritten shard verifies
        // equal; any dropped/duplicated/altered row moves the checksum.
        operators.Maintenance.shardManifest(tbl("documents"),
          Seq("lang", "source"), "doc_id", col("text"))
      },
      Some(s"""WITH r AS (SELECT lang, source,
              |    CAST(doc_id AS VARCHAR) || ':' || text AS rk,
              |    strlen(text) AS nb
              |  FROM documents)
              |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
              |  CAST(sum(nb) AS BIGINT) AS n_bytes,
              |  CAST(sum(${HexIntSql("rk", ":manifest.a")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_a,
              |  CAST(sum(${HexIntSql("rk", ":manifest.b")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_b
              |FROM r GROUP BY 1, 2""".stripMargin)),

    Q("q216_consensus_dedup",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // ensemble dedup vote: a pair must be flagged by ≥ 2 of three
        // independent signals (3-gram Jaccard ≥ 0.5, 3-gram containment
        // ≥ 0.6 in either direction, prefix levenshtein ≤ 4) before a
        // destructive drop — single-signal false positives are
        // suppressed, attribution flags are kept. Planted truths: every
        // 15th doc cloned with token #3 replaced — high Jaccard AND
        // containment (2 sure votes), levenshtein firing only when the
        // swapped token is short (the attribution varies, which is the
        // point of the table). All three signals have exact oracles, so
        // the vote table hash-replays end to end.
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val t = Text.tokens(col("text"))
        val planted = docs.filter(col("doc_id") % 15 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            array_join(concat(slice(t, 1, 2), array(lit("zzz")),
              slice(t, 4, 1000000)), " ").as("text"))
        val u = docs.unionByName(planted)
        // jac and con self-join the SAME 3-gram inverted index — build
        // it once (lightweight proxy: id, size, 8-byte shingle hash)
        // and checkpoint, so the union+shingle+explode subtree runs 1x
        // instead of once per signal side (was 4x; guide §2.4). Both
        // signals then gate the SAME unordered co-occurrence aggregate
        // (|A∩B|, |A|, |B|): jaccard is inter/(szA+szB−inter), and
        // "containment ≥ t in EITHER direction, normalized to the
        // unordered pair" is exactly inter/min(szA,szB) ≥ t (IEEE
        // division is monotone in a positive denominator), so the
        // token-keyed pair join+aggregate runs once, not once per
        // signal. The vote table keeps only the pair ids, so the
        // per-signal score columns the library operators emit are
        // never needed here.
        val inv = ck.dataGrain(
          Dedup.shingleIndex(u, "doc_id", "text", shingleLen = 3))
        val invA = inv.select(col("id").as("id_a"), col("sz").as("sz_a"),
          col("tok"))
        val invB = inv.select(col("id").as("id_b"), col("sz").as("sz_b"),
          col("tok"))
        // the signal gates are deterministic per pair, so evaluate BOTH
        // flags inside the aggregate's projection and keep only flagged
        // pairs — the materialization shrinks from every co-occurring
        // pair (~6.9 M rows at sf0.1, the r20 driver-rig 32-core
        // blowup) to the near-dup set (proxy grain), and the plan
        // still computes the shared aggregate once (guide §2.3
        // "project early" / §5 "filter before materializing")
        val co = ck.proxy(invA.join(invB, Seq("tok"))
          .filter(col("id_a") < col("id_b"))
          .groupBy("id_a", "id_b", "sz_a", "sz_b")
          .agg(count(lit(1)).as("inter"))
          .withColumn("f_j", col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")) >= 0.5)
          .withColumn("f_c", col("inter").cast("double") /
            least(col("sz_a"), col("sz_b")) >= 0.6)
          .filter(col("f_j") || col("f_c"))
          .select(col("id_a"), col("id_b"), col("f_j"), col("f_c")))
        val jac = co.filter(col("f_j")).select(col("id_a"), col("id_b"))
        val con = co.filter(col("f_c")).select(col("id_a"), col("id_b"))
        val fuz = Dedup.fuzzyDupPairs(u, "doc_id", "text",
          prefixTokens = 6, maxDist = 4, qgramLen = 2)
        Dedup.consensusVote(
          Seq("jac" -> jac.select("id_a", "id_b"),
              "con" -> con,
              "fuz" -> fuz.select("id_a", "id_b")), minVotes = 2)
      },
      Some(s"""WITH u AS (SELECT doc_id, text FROM documents
              |  UNION ALL
              |  SELECT doc_id + 2000000 AS doc_id,
              |    array_to_string(list_concat(list_concat(
              |      string_split(text, ' ')[1:2], ['zzz']),
              |      string_split(text, ' ')[4:]), ' ') AS text
              |  FROM documents WHERE doc_id % 15 = 0),
              |tk AS (SELECT doc_id, $ShinglesSql AS sh,
              |    array_to_string(string_split(lower(text), ' ')[1:6], ' ')
              |      AS k
              |  FROM u),
              |pj AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM tk a, tk b WHERE a.doc_id < b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              |      >= 0.5),
              |pc AS (SELECT least(a.doc_id, b.doc_id) AS id_a,
              |    greatest(a.doc_id, b.doc_id) AS id_b
              |  FROM tk a, tk b WHERE a.doc_id <> b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / len(a.sh) >= 0.6),
              |pf AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
              |  FROM tk a, tk b WHERE a.doc_id < b.doc_id
              |    AND abs(length(a.k) - length(b.k)) <= 4
              |    AND levenshtein(a.k, b.k) <= 4),
              |v AS (SELECT id_a, id_b, 'jac' AS sig FROM pj
              |  UNION SELECT id_a, id_b, 'con' FROM pc
              |  UNION SELECT id_a, id_b, 'fuz' FROM pf),
              |g AS (SELECT id_a, id_b,
              |    CAST(max(CASE WHEN sig = 'jac' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS f_jac,
              |    CAST(max(CASE WHEN sig = 'con' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS f_con,
              |    CAST(max(CASE WHEN sig = 'fuz' THEN 1 ELSE 0 END)
              |      AS BIGINT) AS f_fuz
              |  FROM v GROUP BY 1, 2)
              |SELECT id_a, id_b, f_jac, f_con, f_fuz,
              |  f_jac + f_con + f_fuz AS votes
              |FROM g WHERE f_jac + f_con + f_fuz >= 2""".stripMargin)),

    Q("q217_dup_triangles",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // dup-graph transitivity: per-node triangle counts and local
        // clustering coefficients over the 3-gram-Jaccard ≥ 0.015 pair
        // graph — cliques (template families) vs chains (borderline
        // matches) decide collapse-vs-review. Degree-ordered
        // orientation enumerates each triangle once with O(√m)
        // wedge fan-out; the edge list is materialized ONCE
        // (localCheckpoint) and feeds degree/orientation/closure.
        // Counts are exact integers; clustering is an exact-int IEEE
        // ratio — the whole table hash-replays.
        // edge-grain at a loose gate (0.015 keeps most co-occurring
        // pairs) — spill-safe serialized materialization, not the
        // deserialized default (the r20 32-core regression lesson)
        val edges = ck.dataGrain(
          Dedup.jaccardPairs(tbl("documents"), "doc_id",
            "text", threshold = 0.015, shingleLen = 3))
        operators.Graph.triangleStats(edges, "id_a", "id_b")
      },
      Some(s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh
              |          FROM documents),
              |e AS (SELECT a.doc_id AS u, b.doc_id AS v
              |  FROM t a, t b WHERE a.doc_id < b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              |      >= 0.015),
              |und AS (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
              |deg AS (SELECT u AS n, count(*) AS d FROM und GROUP BY 1),
              |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
              |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
              |             JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
              |pn AS (SELECT n, count(*) AS tr FROM
              |        (SELECT a AS n FROM tri UNION ALL
              |         SELECT b FROM tri UNION ALL SELECT c FROM tri)
              |       GROUP BY 1)
              |SELECT deg.n AS id, CAST(d AS BIGINT) AS degree,
              |  CAST(coalesce(tr, 0) AS BIGINT) AS triangles,
              |  CASE WHEN d > 1 THEN CAST(coalesce(tr, 0) AS DOUBLE)
              |    * 2.0 / CAST(d * (d - 1) AS DOUBLE) ELSE 0.0 END
              |    AS clustering
              |FROM deg LEFT JOIN pn USING (n)""".stripMargin)),

    Q("q218_dedup_threshold_sweep",
      (s, d) => Checkpoints.scoped { ck => val ctx = new Ctx(s, d); import ctx._
        // dedup-gate tuning curve: pair and flagged-doc counts at each
        // candidate threshold, from ONE pair materialization at the
        // loosest gate (0.02) — candidate generation never re-runs per
        // gate, the sweep is pair-grain. Zero-hit thresholds still
        // appear (grid left-join), so the curve is complete.
        val pairs = ck.dataGrain(
          Dedup.jaccardPairs(tbl("documents"), "doc_id",
            "text", threshold = 0.02, shingleLen = 3))
        Dedup.thresholdSweep(pairs, "jaccard",
          Seq(0.02, 0.05, 0.1, 0.2, 0.3, 0.5, 0.8))
      },
      Some(s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh
              |          FROM documents),
              |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
              |      6) AS jac
              |  FROM t a, t b WHERE a.doc_id < b.doc_id
              |    AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
              |      >= 0.02),
              |grid AS (SELECT unnest([0.02, 0.05, 0.1, 0.2, 0.3, 0.5,
              |    0.8]) AS threshold),
              |np AS (SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
              |  FROM grid JOIN p ON p.jac >= grid.threshold GROUP BY 1),
              |nd AS (SELECT threshold,
              |    CAST(count(DISTINCT id) AS BIGINT) AS n_docs_flagged
              |  FROM (SELECT threshold, id_a AS id FROM grid
              |          JOIN p ON p.jac >= grid.threshold
              |        UNION ALL
              |        SELECT threshold, id_b FROM grid
              |          JOIN p ON p.jac >= grid.threshold)
              |  GROUP BY 1)
              |SELECT g.threshold,
              |  coalesce(np.n_pairs, CAST(0 AS BIGINT)) AS n_pairs,
              |  coalesce(nd.n_docs_flagged, CAST(0 AS BIGINT))
              |    AS n_docs_flagged
              |FROM grid g LEFT JOIN np USING (threshold)
              |            LEFT JOIN nd USING (threshold)""".stripMargin)),

    Q("q219_prefix_families",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // prefix-anchored duplicate families ("same head, different
        // tail" — syndicated articles with varying footers): documents
        // sharing their first 8 tokens exactly, keyed by a 128-bit
        // salted hash pair so anchor strings never enter the family
        // shuffle. Planted truths: every 20th doc contributes a clone
        // with the same 8-token head and a divergent tail.
        val docs = tbl("documents").select(col("doc_id"), col("text"))
        val planted = docs.filter(col("doc_id") % 20 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            concat(concat_ws(" ", slice(Text.tokens(col("text")), 1, 8)),
              lit(" appended tail marker tokens")).as("text"))
        Dedup.prefixFamilies(docs.unionByName(planted), "doc_id", "text",
            anchorTokens = 8)
          .select(col("id").as("doc_id"), col("anchor"),
            col("family_id"), col("n_members"))
      },
      Some("""WITH u AS (SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 3000000 AS doc_id,
             |    array_to_string(string_split(text, ' ')[1:8], ' ')
             |      || ' appended tail marker tokens' AS text
             |  FROM documents WHERE doc_id % 20 = 0),
             |a AS (SELECT doc_id AS id,
             |    array_to_string(string_split(lower(text), ' ')[1:8], ' ')
             |      AS anchor
             |  FROM u),
             |f AS (SELECT anchor, CAST(count(*) AS BIGINT) AS n_members,
             |    min(id) AS family_id
             |  FROM a GROUP BY 1 HAVING count(*) >= 2)
             |SELECT a.id AS doc_id, a.anchor, f.family_id, f.n_members
             |FROM a JOIN f USING (anchor)""".stripMargin)),

    Q("q220_tfidf_keywords",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // per-doc top-3 TF-IDF keywords with the BM25 rational idf
        // (N-df+0.5)/(df+0.5) — order-equivalent to log-idf but every
        // score is exact-operand IEEE arithmetic, so the ranking
        // hash-replays with no epsilon (a libm log ulp could flip a
        // rank). Per-doc top-k plans as WindowGroupLimit.
        operators.Frequency.tfidfTopK(tbl("documents"), "doc_id",
            "text", k = 3)
          .select(col("id").as("doc_id"), col("tok"), col("tf"),
            col("score"), col("rank"))
      },
      Some("""WITH tok AS (SELECT doc_id,
             |    unnest(string_split(lower(text), ' ')) AS tok
             |  FROM documents),
             |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             |  FROM tok GROUP BY 1, 2),
             |dfb AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
             |n AS (SELECT count(*) AS n FROM documents),
             |sc AS (SELECT doc_id, tok, tf,
             |    tf * ((CAST(n - df AS DOUBLE) + 0.5)
             |      / (CAST(df AS DOUBLE) + 0.5)) AS score
             |  FROM tf JOIN dfb USING (tok), n),
             |r AS (SELECT doc_id, tok, tf, score,
             |    CAST(row_number() OVER (PARTITION BY doc_id
             |      ORDER BY score DESC, tok) AS BIGINT) AS rank
             |  FROM sc)
             |SELECT doc_id, tok, tf, round(score, 6) AS score, rank
             |FROM r WHERE rank <= 3""".stripMargin)),

    Q("q221_event_funnel",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // strict-order funnel view → click → purchase: per stage, users
        // reaching it (each stage strictly AFTER the user's previous
        // frontier) and the exact total lag from stage 1 in integer µs.
        // No per-user ordering window — each stage is one min-aggregate
        // over that type's slice plus one user-keyed frontier join.
        Sessionize.funnel(tbl("events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
      },
      Some("""WITH e AS (SELECT user_id AS u, event_type AS et,
             |    epoch_us(ts) AS t FROM events),
             |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'view'
             |       GROUP BY u),
             |s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 USING (u)
             |       WHERE et = 'click' AND t > t1 GROUP BY e.u),
             |s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 USING (u)
             |       WHERE et = 'purchase' AND t > t2 GROUP BY e.u)
             |SELECT CAST(1 AS BIGINT) AS stage, 'view' AS stage_name,
             |  CAST(count(*) AS BIGINT) AS n_users,
             |  CAST(0 AS BIGINT) AS sum_lag_us FROM s1
             |UNION ALL
             |SELECT 2, 'click', CAST(count(*) AS BIGINT),
             |  CAST(coalesce(sum(t2 - t1), 0) AS BIGINT)
             |FROM s2 JOIN s1 USING (u)
             |UNION ALL
             |SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
             |  CAST(coalesce(sum(t3 - t1), 0) AS BIGINT)
             |FROM s3 JOIN s1 USING (u)""".stripMargin)),

    Q("q222_retention_cohorts",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // weekly retention: users grouped by first-activity week,
        // counted once per (cohort, offset) week they return — integer
        // day/week buckets off the corpus-wide day0 (no calendar
        // semantics to diverge cross-engine); day0 is a 1-row broadcast.
        Sessionize.retentionCohorts(tbl("events"), "user_id", "ts")
      },
      Some("""WITH e AS (SELECT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d FROM events),
             |d0 AS (SELECT min(d) AS d0 FROM e),
             |wk AS (SELECT DISTINCT u, (d - d0) // 7 AS week FROM e, d0),
             |c AS (SELECT u, min(week) AS cohort_week FROM wk GROUP BY u)
             |SELECT cohort_week, week - cohort_week AS week_offset,
             |  CAST(count(*) AS BIGINT) AS n_users
             |FROM wk JOIN c USING (u) GROUP BY 1, 2""".stripMargin)),

    Q("q223_event_transitions",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // first-order Markov transition matrix over per-user event
        // sequences, ordered by (µs, event_id) so concurrent events are
        // deterministic; p is an exact integer ratio. The only exchange
        // is the per-user ordering window (activity grain) plus a
        // |types|²-bounded aggregate.
        Sessionize.transitionMatrix(tbl("events"), "user_id", "ts",
          "event_id", "event_type")
      },
      Some("""WITH o AS (SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts), event_id) AS from_type
             |  FROM events),
             |c AS (SELECT from_type, event_type AS to_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM o WHERE from_type IS NOT NULL GROUP BY 1, 2),
             |t AS (SELECT from_type, sum(n) AS n_from FROM c GROUP BY 1)
             |SELECT c.from_type, c.to_type, c.n,
             |  CAST(c.n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
             |FROM c JOIN t USING (from_type)""".stripMargin)),

    Q("q224_max_coverage_select",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // greedy max-coverage data selection (the submodular coverage
        // objective; lexical sibling of q177's k-center): 5 rounds,
        // each the doc adding the most UNCOVERED 3-gram shingles, ties
        // → id. The oracle replays the greedy trajectory as 5 unrolled
        // rounds on exact shingle strings — a wrong marginal, a stale
        // covered set, or a tie broken by anything but id hash-fails.
        operators.Selection.maxCoverageSelect(tbl("documents"),
          "doc_id", "text", k = 5, shingleLen = 3)
          .select(col("round"), col("id").as("doc_id"),
            col("marginal_gain"), col("covered_total"))
      },
      Some {
        val rounds = (2 to 5).map { r =>
          s"""m$r AS (SELECT doc_id, count(*) AS g FROM e
             |  WHERE s NOT IN (SELECT s FROM c${r - 1}) GROUP BY 1),
             |w$r AS (SELECT doc_id, g FROM m$r
             |        ORDER BY g DESC, doc_id LIMIT 1),
             |c$r AS (SELECT s FROM c${r - 1} UNION
             |        SELECT s FROM e
             |        WHERE doc_id = (SELECT doc_id FROM w$r))""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 5).map(r =>
          s"""UNION ALL SELECT CAST($r AS BIGINT), doc_id,
             |  CAST(g AS BIGINT),
             |  (SELECT CAST(count(*) AS BIGINT) FROM c$r) FROM w$r""".stripMargin)
          .mkString("\n")
        s"""WITH t AS (SELECT doc_id, $ShinglesSql AS sh FROM documents),
           |e AS (SELECT doc_id, unnest(sh) AS s FROM t),
           |m1 AS (SELECT doc_id, count(*) AS g FROM e GROUP BY 1),
           |w1 AS (SELECT doc_id, g FROM m1 ORDER BY g DESC, doc_id
           |       LIMIT 1),
           |c1 AS (SELECT DISTINCT s FROM e
           |       WHERE doc_id = (SELECT doc_id FROM w1)),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS round, doc_id,
           |  CAST(g AS BIGINT) AS marginal_gain,
           |  (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
           |FROM w1
           |$sel""".stripMargin
      }),

    Q("q225_jl_projection",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // Johnson-Lindenstrauss ±1 projection (Achlioptas 2003) 64→16
        // with a distance-preservation audit on sampled pairs. The sign
        // matrix is md5-parity-derived — data-independent AND
        // SQL-replayable, so unlike the PCA family (eigensolver →
        // invariant oracle) this projection gets a full VALUE-level
        // oracle: the projection, both squared distances (rounded 6 on
        // the q177 list_sum device), and the distortion ratio all
        // hash-compare. The kernel is one narrow codegen'd matVec —
        // a pure map at 100 TB.
        val emb = tbl("embeddings")
          .filter(col("vec_id") % 37 === 0 || col("vec_id") % 41 === 0)
        val proj = operators.Embeddings.jlProject(emb, "embedding",
          outDim = 16, dim = 64)
        val a = proj.filter(col("vec_id") % 37 === 0)
          .select(col("vec_id").as("id_a"),
            graft.functions.Vectors.toDouble(col("embedding")).as("va"),
            col("jl").as("ja"))
        val b = proj.filter(col("vec_id") % 41 === 0)
          .select(col("vec_id").as("id_b"),
            graft.functions.Vectors.toDouble(col("embedding")).as("vb"),
            col("jl").as("jb"))
        a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            round(graft.plans.exprs.sqL2(col("va"), col("vb")), 6)
              .as("d2_orig"),
            round(graft.plans.exprs.sqL2(col("ja"), col("jb")), 6)
              .as("d2_jl"))
          .filter(col("d2_orig") > 0)
          .withColumn("distortion",
            col("d2_jl") / (lit(16.0) * col("d2_orig")))
      },
      Some {
        def digit(arg: String) = {
          val a = s"ascii(substr(md5($arg), 1, 1))"
          s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
        }
        val comps = (0 until 16).map { j =>
          val sgn = s"(CASE WHEN ${digit(s"'jl:$j:' || (i - 1)")} % 2 = 0" +
            " THEN 1.0 ELSE -1.0 END)"
          s"list_sum(list_transform(range(1, 65), i -> v[i] * $sgn))"
        }.mkString("[\n", ",\n", "\n]")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings
           |  WHERE vec_id % 37 = 0 OR vec_id % 41 = 0),
           |p AS (SELECT vec_id, v, $comps AS jl FROM v),
           |a AS (SELECT vec_id AS id_a, v AS va, jl AS ja FROM p
           |      WHERE vec_id % 37 = 0),
           |b AS (SELECT vec_id AS id_b, v AS vb, jl AS jb FROM p
           |      WHERE vec_id % 41 = 0),
           |dd AS (SELECT id_a, id_b,
           |    round(list_sum(list_transform(range(1, 65),
           |      i -> (va[i] - vb[i]) * (va[i] - vb[i]))), 6) AS d2_orig,
           |    round(list_sum(list_transform(range(1, 17),
           |      i -> (ja[i] - jb[i]) * (ja[i] - jb[i]))), 6) AS d2_jl
           |  FROM a, b WHERE id_a < id_b)
           |SELECT id_a, id_b, d2_orig, d2_jl,
           |  d2_jl / (16.0 * d2_orig) AS distortion
           |FROM dd WHERE d2_orig > 0""".stripMargin
      }),

    Q("q226_manifest_merge",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // mergeability of the shard checksums: the corpus splits into
        // an "old" slice and a "delta" slice, each gets its own q215
        // manifest, and the MERGE of the two (counts add, checksums add
        // mod p) must equal the direct full-corpus manifest — which is
        // exactly what the oracle computes. Incremental ingest keeps
        // the corpus manifest current at delta cost; a wrong modulus
        // composition or a dropped part hash-fails here.
        val docs = tbl("documents")
        val mOld = operators.Maintenance.shardManifest(
          docs.filter(col("doc_id") % 3 =!= 0), Seq("lang", "source"),
          "doc_id", col("text"))
        val mDelta = operators.Maintenance.shardManifest(
          docs.filter(col("doc_id") % 3 === 0), Seq("lang", "source"),
          "doc_id", col("text"))
        operators.Maintenance.mergeManifests(Seq(mOld, mDelta),
          Seq("lang", "source"))
      },
      Some(s"""WITH r AS (SELECT lang, source,
              |    CAST(doc_id AS VARCHAR) || ':' || text AS rk,
              |    strlen(text) AS nb
              |  FROM documents)
              |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
              |  CAST(sum(nb) AS BIGINT) AS n_bytes,
              |  CAST(sum(${HexIntSql("rk", ":manifest.a")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_a,
              |  CAST(sum(${HexIntSql("rk", ":manifest.b")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_b
              |FROM r GROUP BY 1, 2""".stripMargin)),

    Q("q227_knn_outliers",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // density outliers (Ramaswamy et al. 2000): distance to the
        // 5th nearest neighbor, top-10 by score — the embedding-space
        // junk screen. Broadcast sampled queries, ONE corpus scan,
        // per-query WindowGroupLimit; distances round at 6 before the
        // outlier ranking (ties → id) so the table hash-replays on the
        // q177 list_sum device.
        val emb = tbl("embeddings")
        operators.Similarity.knnOutliers(emb,
          emb.filter(col("vec_id") % 23 === 0), "vec_id", "embedding",
          k = 5, topN = 10)
      },
      Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             |          FROM embeddings),
             |q AS (SELECT vec_id AS qid, v AS qv FROM v
             |      WHERE vec_id % 23 = 0),
             |dd AS (SELECT qid, vec_id AS nid,
             |    list_sum(list_transform(range(1, 65),
             |      i -> (qv[i] - v.v[i]) * (qv[i] - v.v[i]))) AS dist
             |  FROM q, v WHERE vec_id <> qid),
             |r AS (SELECT qid, dist, row_number() OVER
             |        (PARTITION BY qid ORDER BY dist, nid) AS rnk
             |      FROM dd),
             |kth AS (SELECT qid AS id, round(dist, 6) AS knn_dist
             |        FROM r WHERE rnk = 5),
             |top AS (SELECT id, knn_dist, CAST(row_number() OVER
             |          (ORDER BY knn_dist DESC, id) AS BIGINT) AS rank
             |        FROM kth)
             |SELECT id, knn_dist, rank FROM top WHERE rank <= 10""".stripMargin)),

    Q("q228_label_agreement",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // kNN label-agreement mislabel screen: for each sampled labeled
        // vector, how many of its 5 nearest neighbors share its label;
        // suspected = fewer than 2 (an integer gate — no float can flip
        // it). The per-class consensus filter noisy-label curation runs
        // before training classifiers (q146/q151) on the labels.
        val emb = tbl("embeddings")
        operators.Similarity.labelAgreement(emb,
          emb.filter(col("vec_id") % 23 === 0), "vec_id", "embedding",
          "label", k = 5, minAgree = 2)
      },
      Some("""WITH v AS (SELECT vec_id, label,
             |    CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
             |q AS (SELECT vec_id AS qid, label AS qlabel, v AS qv
             |      FROM v WHERE vec_id % 23 = 0),
             |dd AS (SELECT qid, qlabel, vec_id AS nid, label AS nlabel,
             |    list_sum(list_transform(range(1, 65),
             |      i -> (qv[i] - v.v[i]) * (qv[i] - v.v[i]))) AS dist
             |  FROM q, v WHERE vec_id <> qid),
             |r AS (SELECT qid, qlabel, nlabel, row_number() OVER
             |        (PARTITION BY qid ORDER BY dist, nid) AS rnk
             |      FROM dd),
             |g AS (SELECT qid AS id, CAST(qlabel AS BIGINT) AS label,
             |    CAST(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_agree
             |  FROM r WHERE rnk <= 5 GROUP BY 1, 2)
             |SELECT id, label, n_agree,
             |  CAST(n_agree AS DOUBLE) / 5.0 AS agreement,
             |  CAST(CASE WHEN n_agree < 2 THEN 1 ELSE 0 END AS BIGINT)
             |    AS suspected
             |FROM g""".stripMargin)),

    Q("q229_streaming_manifest",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING shard-manifest maintenance — q226's mergeability at
        // ingestion time (the q196 store discipline): each micro-batch
        // contributes its own manifest, merged into the running store
        // (read store_{b-1}, merge, write store_b; AvailableNow
        // serializes the chain). Per-batch cost ∝ batch + |units|;
        // history is NEVER rescanned and never re-checksummed. The
        // oracle is the MONOLITHIC full-corpus manifest — the mod-p sum
        // identity makes streaming accumulation exactly equal to having
        // seen the corpus at once.
        import java.nio.file.Files
        val docs = tbl("documents").select(col("doc_id"), col("lang"),
          col("source"), col("text"))
        val dir = tempStagingDir("graft_q229_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(docs.filter(col("doc_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(docs.filter(col("doc_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val bm = operators.Maintenance.shardManifest(batch,
            Seq("lang", "source"), "doc_id", col("text"))
          val merged =
            if (batchId == 0) bm
            else operators.Maintenance.mergeManifests(Seq(bm,
              batch.sparkSession.read.parquet(s"$out/store_${batchId - 1}")),
              Seq("lang", "source"))
          merged.write.mode("overwrite").parquet(s"$out/store_$batchId")
        }
        val query = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        s.read.parquet(s"$out/store_1")
      },
      Some(s"""WITH r AS (SELECT lang, source,
              |    CAST(doc_id AS VARCHAR) || ':' || text AS rk,
              |    strlen(text) AS nb
              |  FROM documents)
              |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_rows,
              |  CAST(sum(nb) AS BIGINT) AS n_bytes,
              |  CAST(sum(${HexIntSql("rk", ":manifest.a")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_a,
              |  CAST(sum(${HexIntSql("rk", ":manifest.b")})
              |    % 2305843009213693951 AS BIGINT) AS checksum_b
              |FROM r GROUP BY 1, 2""".stripMargin)),

    Q("q230_jl_ann_recall",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // recall of brute-force kNN run in the 16-dim JL space against
        // the exact 64-dim ground truth — the measured answer to "how
        // much ANN quality does 4× dimensionality reduction cost".
        // Both spaces are deterministic and SQL-replayable (the q225
        // sign matrix), so per-query overlap counts are oracle-exact —
        // a recall degradation from a wrong projection or a tie
        // mis-break hash-fails.
        val emb = tbl("embeddings")
        val queries = emb.filter(col("vec_id") % 29 === 0)
        val exact = operators.Similarity.bruteForceTopKL2(emb, queries,
          "vec_id", "embedding", k = 5).select("query_id", "neighbor_id")
        val proj = operators.Embeddings.jlProject(emb, "embedding",
          outDim = 16, dim = 64)
        val jlNN = operators.Similarity.bruteForceTopKL2(
          proj.select(col("vec_id"), col("jl")),
          proj.filter(col("vec_id") % 29 === 0)
            .select(col("vec_id"), col("jl")),
          "vec_id", "jl", k = 5).select("query_id", "neighbor_id")
        val overlap = exact.join(jlNN, Seq("query_id", "neighbor_id"),
            "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
        queries.select(col("vec_id").as("query_id"))
          .join(overlap, Seq("query_id"), "left")
          .select(col("query_id"),
            coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
            (coalesce(col("n_overlap"), lit(0L)).cast("double") / 5.0)
              .as("recall"))
      },
      Some {
        def digit(arg: String) = {
          val a = s"ascii(substr(md5($arg), 1, 1))"
          s"(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END)"
        }
        val comps = (0 until 16).map { j =>
          val sgn = s"(CASE WHEN ${digit(s"'jl:$j:' || (i - 1)")} % 2 = 0" +
            " THEN 1.0 ELSE -1.0 END)"
          s"list_sum(list_transform(range(1, 65), i -> v[i] * $sgn))"
        }.mkString("[\n", ",\n", "\n]")
        s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |          FROM embeddings),
           |p AS (SELECT vec_id, v, $comps AS jl FROM v),
           |q AS (SELECT vec_id AS qid, v AS qv, jl AS qjl FROM p
           |      WHERE vec_id % 29 = 0),
           |de AS (SELECT qid, p.vec_id AS nid, row_number() OVER
           |    (PARTITION BY qid ORDER BY list_sum(list_transform(
           |      range(1, 65), i -> (qv[i] - p.v[i]) * (qv[i] - p.v[i]))),
           |      p.vec_id) AS rnk
           |  FROM q, p WHERE p.vec_id <> qid),
           |dj AS (SELECT qid, p.vec_id AS nid, row_number() OVER
           |    (PARTITION BY qid ORDER BY list_sum(list_transform(
           |      range(1, 17), i -> (qjl[i] - p.jl[i]) * (qjl[i] - p.jl[i]))),
           |      p.vec_id) AS rnk
           |  FROM q, p WHERE p.vec_id <> qid),
           |ov AS (SELECT de.qid, count(*) AS n_overlap
           |  FROM (SELECT qid, nid FROM de WHERE rnk <= 5) de
           |  JOIN (SELECT qid, nid FROM dj WHERE rnk <= 5) dj
           |    USING (qid, nid) GROUP BY 1)
           |SELECT q.qid AS query_id,
           |  CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           |  CAST(coalesce(ov.n_overlap, 0) AS DOUBLE) / 5.0 AS recall
           |FROM q LEFT JOIN ov ON ov.qid = q.qid""".stripMargin
      }),

    Q("q231_curation_v2",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // second-generation curation funnel under ONE oracle, built
        // from the round-15 operators: boilerplate-block removal →
        // prefix-family dedup ON THE CLEANED TEXT (cleaning changes
        // anchors — the coupling a per-stage oracle can't see) →
        // quality re-score of the cleaned text with a min-length floor.
        // Full per-doc ledger: what was removed, why a doc dropped,
        // what survived — the drop-ledger discipline (q178) applied to
        // the new stages.
        val cleaned = Dedup.boilerplateBlocks(tbl("documents"), "doc_id",
          "text", blockTokens = 4, minDocFreq = 2L)
        val fams = Dedup.prefixFamilies(
          cleaned.select(col("id"), col("text_clean")), "id",
          "text_clean", anchorTokens = 8)
        val dup = fams.filter(col("id") =!= col("family_id"))
          .select(col("id"), lit(1L).as("is_dup"))
        cleaned.join(dup, Seq("id"), "left")
          .withColumn("is_dup", coalesce(col("is_dup"), lit(0L)))
          .withColumn("quality",
            round(Text.qualityScore(col("text_clean"), Stopwords), 6))
          .withColumn("kept", when(col("is_dup") === 0 &&
              col("n_tok_clean") >= 8 && col("quality") >= 0.5, 1L)
            .otherwise(0L))
          .select(col("id").as("doc_id"), col("n_tok_clean"),
            col("n_blocks_dropped"), col("is_dup"), col("quality"),
            col("kept"))
      },
      Some(s"""WITH st AS (SELECT doc_id, string_split(text, ' ') AS w,
              |             string_split(lower(text), ' ') AS lw
              |           FROM documents),
              |b AS (SELECT st.doc_id, u.pos,
              |        array_to_string(st.lw[u.pos*4+1 :
              |          least(len(st.lw), (u.pos+1)*4)], ' ') AS blk,
              |        st.w[u.pos*4+1 : least(len(st.w), (u.pos+1)*4)]
              |          AS otoks
              |      FROM st, unnest(range(0, (len(st.lw)+3)//4)) AS u(pos)),
              |hot AS (SELECT blk FROM
              |         (SELECT blk, count(DISTINCT doc_id) AS df
              |          FROM b GROUP BY blk)
              |        WHERE df >= 2),
              |agg AS (SELECT doc_id,
              |          CAST(sum(len(otoks)) AS BIGINT) AS n_tok_clean,
              |          string_agg(array_to_string(otoks, ' '), ' '
              |            ORDER BY pos) AS text_clean
              |        FROM b WHERE blk NOT IN (SELECT blk FROM hot)
              |        GROUP BY doc_id),
              |dr AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nd
              |       FROM b WHERE blk IN (SELECT blk FROM hot)
              |       GROUP BY doc_id),
              |cl AS (SELECT st.doc_id,
              |    coalesce(a.n_tok_clean, CAST(0 AS BIGINT))
              |      AS n_tok_clean,
              |    coalesce(a.text_clean, '') AS text_clean,
              |    coalesce(dr.nd, CAST(0 AS BIGINT)) AS n_blocks_dropped
              |  FROM st LEFT JOIN agg a USING (doc_id)
              |          LEFT JOIN dr USING (doc_id)),
              |anch AS (SELECT doc_id, array_to_string(
              |    string_split(lower(text_clean), ' ')[1:8], ' ')
              |      AS anchor
              |  FROM cl),
              |fam AS (SELECT anchor, min(doc_id) AS family_id
              |  FROM anch GROUP BY 1 HAVING count(*) >= 2),
              |dup AS (SELECT a.doc_id, 1 AS is_dup FROM anch a
              |  JOIN fam f USING (anchor) WHERE a.doc_id <> f.family_id),
              |m AS (SELECT doc_id, n_tok_clean, n_blocks_dropped,
              |    len(string_split(text_clean, ' ')) AS n_tok,
              |    len(list_distinct(string_split(text_clean, ' ')))
              |      AS n_dis,
              |    len(list_filter(string_split(text_clean, ' '),
              |        t -> t IN ($StopSql))) AS n_sw,
              |    length(text_clean) AS n_ch,
              |    length(regexp_replace(text_clean, '[[:punct:]]', '',
              |      'g')) AS n_nopunct
              |  FROM cl),
              |sc AS (SELECT doc_id, n_tok_clean, n_blocks_dropped, round(
              |    least(CAST(n_tok AS DOUBLE) / 50, 1.0) * 0.3
              |    + (CAST(n_dis AS DOUBLE) / n_tok) * 0.3
              |    + least(CAST(n_sw AS DOUBLE) / greatest(n_tok, 1) * 5,
              |        1.0) * 0.2
              |    + greatest(0.0, 1.0 - (CAST(n_ch - n_nopunct AS DOUBLE)
              |        / greatest(n_ch, 1)) * 4) * 0.2, 6) AS quality
              |  FROM m)
              |SELECT sc.doc_id, sc.n_tok_clean, sc.n_blocks_dropped,
              |  CAST(coalesce(dup.is_dup, 0) AS BIGINT) AS is_dup,
              |  sc.quality,
              |  CAST(CASE WHEN coalesce(dup.is_dup, 0) = 0
              |    AND sc.n_tok_clean >= 8 AND sc.quality >= 0.5
              |    THEN 1 ELSE 0 END AS BIGINT) AS kept
              |FROM sc LEFT JOIN dup USING (doc_id)""".stripMargin)),

    Q("q232_robust_scaling",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // median/MAD robust z-scores of per-doc token counts within
        // each language — the signal-normalization step before fusing
        // incommensurable quality signals (mean/stddev is what a heavy
        // tail corrupts). Median and MAD ride the q87 exact-percentile
        // device, so z is a quotient of exact operands and the |z| > 3
        // outlier gate cannot flip cross-engine.
        operators.Quality.robustZ(
            tbl("documents").select(col("lang"), col("doc_id"),
              Text.tokenCount(col("text")).as("n_tok")),
            "lang", col("n_tok"))
          .select(col("doc_id"), col("lang"), col("n_tok"),
            round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
            round(col("z"), 6).as("z"), col("is_outlier"))
      },
      Some("""WITH b AS (SELECT doc_id, lang,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             |  FROM documents),
             |med AS (SELECT lang, quantile_cont(n_tok, 0.5) AS med
             |        FROM b GROUP BY 1),
             |dev AS (SELECT b.*, med,
             |    abs(CAST(n_tok AS DOUBLE) - med) AS ad
             |  FROM b JOIN med USING (lang)),
             |mad AS (SELECT lang, quantile_cont(ad, 0.5) AS mad
             |        FROM dev GROUP BY 1),
             |z AS (SELECT doc_id, lang, n_tok, med, mad,
             |    CASE WHEN mad > 0
             |      THEN (CAST(n_tok AS DOUBLE) - med) / mad
             |      ELSE 0.0 END AS z
             |  FROM dev JOIN mad USING (lang))
             |SELECT doc_id, lang, n_tok, round(med, 6) AS med,
             |  round(mad, 6) AS mad, round(z, 6) AS z,
             |  CAST(CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END AS BIGINT)
             |    AS is_outlier
             |FROM z""".stripMargin)),

    Q("q233_slice_confounding",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // slice-confounding audit: mutual information between the two
        // slicing dimensions of the corpus datasheet (lang vs source) —
        // a mixture card that reweights one silently reweights the
        // other when they're associated. MI = H(A)+H(B)-H(A,B) from
        // one contingency-grain aggregate; entropies in bits, NMI by
        // the arithmetic-mean normalization, round-6 (the q200 device).
        operators.Quality.columnAssociation(
          tbl("documents"), "lang", "source")
      },
      Some("""WITH c AS (SELECT lang AS a, source AS b,
             |    CAST(count(*) AS BIGINT) AS n_ab
             |  FROM documents GROUP BY 1, 2),
             |t AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n FROM c),
             |hab AS (SELECT -sum((n_ab / CAST(n AS DOUBLE)) *
             |    log2(n_ab / CAST(n AS DOUBLE))) AS h_ab FROM c, t),
             |ha AS (SELECT -sum(p * log2(p)) AS h_a FROM
             |        (SELECT sum(n_ab) / CAST(max(n) AS DOUBLE) AS p
             |         FROM c, t GROUP BY a)),
             |hb AS (SELECT -sum(p * log2(p)) AS h_b FROM
             |        (SELECT sum(n_ab) / CAST(max(n) AS DOUBLE) AS p
             |         FROM c, t GROUP BY b))
             |SELECT t.n, round(ha.h_a, 6) AS h_a, round(hb.h_b, 6) AS h_b,
             |  round(ha.h_a + hb.h_b - hab.h_ab, 6) AS mi,
             |  round(CASE WHEN ha.h_a + hb.h_b > 0
             |    THEN (ha.h_a + hb.h_b - hab.h_ab) /
             |         ((ha.h_a + hb.h_b) / 2)
             |    ELSE 0.0 END, 6) AS nmi
             |FROM t, ha, hb, hab""".stripMargin)),

    Q("q234_l_diversity",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // l-diversity publication gate (Machanavajjhala et al. 2006) —
        // k-anonymity's companion for attribute disclosure: per-source
        // stats publish only when the source spans >= 5 distinct
        // languages; failing cells roll up with complementary
        // suppression (a lone failing cell is the complement of the
        // visible rows). All-integer.
        operators.Quality.lDiverseStats(tbl("documents"),
          Seq("source"), "lang", l = 5L, weight = col("n_chars"))
      },
      Some("""WITH g AS (SELECT source,
             |    CAST(count(*) AS BIGINT) AS n_rows,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS n_sv,
             |    CAST(sum(n_chars) AS BIGINT) AS sum_w
             |  FROM documents GROUP BY 1),
             |ns AS (SELECT count(*) FILTER (n_sv < 5) AS n_small FROM g),
             |vv AS (SELECT g.*, row_number() OVER
             |        (ORDER BY n_rows, source) AS rn, ns.n_small
             |      FROM g, ns WHERE n_sv >= 5),
             |m AS (SELECT *, (n_small = 1 AND rn = 1) AS supp FROM vv),
             |sup AS (SELECT source FROM g WHERE n_sv < 5
             |        UNION ALL SELECT source FROM m WHERE supp)
             |SELECT source, n_rows, n_sv, CAST(1 AS BIGINT) AS n_groups,
             |  sum_w
             |FROM m WHERE NOT supp
             |UNION ALL
             |SELECT '__suppressed__',
             |  CAST(sum(n_rows) AS BIGINT),
             |  (SELECT CAST(count(DISTINCT lang) AS BIGINT)
             |   FROM documents WHERE source IN (SELECT source FROM sup)),
             |  CAST(count(*) AS BIGINT), CAST(sum(sum_w) AS BIGINT)
             |FROM g WHERE source IN (SELECT source FROM sup)
             |HAVING count(*) > 0""".stripMargin)),

    Q("q235_decayed_counts_merge",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // MERGEABLE decayed top-k: grid-aligned (key, bucket) counts
        // built from two disjoint event halves, MERGED, then evaluated
        // with exact dyadic units — the oracle recomputes directly from
        // the full table, so the merge identity (state(a ∪ b) ==
        // merge(state(a), state(b))) is itself under the hash gate,
        // the KMV/CMS/HLL mergeable-summaries discipline.
        val ev = tbl("events")
        val a = operators.Frequency.decayedBucketCounts(
          ev.filter(col("event_id") % 2 === 0), "user_id", "ts", 172800L)
        val b = operators.Frequency.decayedBucketCounts(
          ev.filter(col("event_id") % 2 =!= 0), "user_id", "ts", 172800L)
        operators.Frequency.decayedTopKFromCounts(
            operators.Frequency.mergeDecayedCounts(a, b), k = 20)
          .select(col("key").as("user_id"), col("decayed_w"),
            col("n_events"), col("rank"))
      },
      Some("""WITH w AS (SELECT user_id,
             |    epoch_us(ts) // 172800000000 AS bucket FROM events),
             |mx AS (SELECT max(bucket) AS bmax FROM w),
             |g AS (SELECT user_id,
             |    sum(1::BIGINT <<
             |      CAST(40 - least(bmax - bucket, 40) AS INT)) AS wu,
             |    count(*) AS n_events
             |  FROM w, mx GROUP BY 1)
             |SELECT user_id,
             |  CAST(wu AS DOUBLE) / 1099511627776.0 AS decayed_w,
             |  n_events,
             |  CAST(row_number() OVER (ORDER BY wu DESC, user_id)
             |    AS BIGINT) AS rank
             |FROM g ORDER BY wu DESC, user_id LIMIT 20""".stripMargin)),

    Q("q236_streaming_decayed_counts",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING decayed-counter maintenance — q235's mergeability at
        // ingestion time (the q196/q229 store discipline): each
        // micro-batch contributes its (key, grid-bucket) counts, merged
        // into the running store (read store_{b-1}, merge, write
        // store_b; AvailableNow serializes the chain). Per-batch cost ∝
        // batch + |active buckets|; history is never rescanned or
        // re-aged (grid buckets are a pure function of the event — the
        // property q213's t_max-relative buckets lack). The oracle is
        // the MONOLITHIC grid recompute over the full events table, so
        // streaming accumulation must equal having seen the stream at
        // once, exact to the dyadic unit.
        import java.nio.file.Files
        val ev = tbl("events").select(col("event_id"), col("user_id"),
          col("ts"))
        val dir = tempStagingDir("graft_q236_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(ev.filter(col("event_id") % 2 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(ev.filter(col("event_id") % 2 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val bm = operators.Frequency.decayedBucketCounts(batch,
            "user_id", "ts", 172800L)
          val merged =
            if (batchId == 0) bm
            else operators.Frequency.mergeDecayedCounts(bm,
              batch.sparkSession.read.parquet(s"$out/store_${batchId - 1}"))
          merged.write.mode("overwrite").parquet(s"$out/store_$batchId")
        }
        val query = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        operators.Frequency.decayedTopKFromCounts(
            s.read.parquet(s"$out/store_1"), k = 20)
          .select(col("key").as("user_id"), col("decayed_w"),
            col("n_events"), col("rank"))
      },
      Some("""WITH w AS (SELECT user_id,
             |    epoch_us(ts) // 172800000000 AS bucket FROM events),
             |mx AS (SELECT max(bucket) AS bmax FROM w),
             |g AS (SELECT user_id,
             |    sum(1::BIGINT <<
             |      CAST(40 - least(bmax - bucket, 40) AS INT)) AS wu,
             |    count(*) AS n_events
             |  FROM w, mx GROUP BY 1)
             |SELECT user_id,
             |  CAST(wu AS DOUBLE) / 1099511627776.0 AS decayed_w,
             |  n_events,
             |  CAST(row_number() OVER (ORDER BY wu DESC, user_id)
             |    AS BIGINT) AS rank
             |FROM g ORDER BY wu DESC, user_id LIMIT 20""".stripMargin)),

    Q("q237_t_closeness",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // t-closeness datasheet gate (the third privacy rung after
        // q212's k and q234's l): per-source length-band distribution
        // (n_chars // 40) must sit within EMD t = 13/200 of the global
        // one or the cell suppresses into the mass-conserving rollup,
        // complementary suppression included. The gate is EXACT
        // integer arithmetic — tDen·Σ|N·C_i − n_g·D_i| vs
        // tNum·(m−1)·n_g·N in DECIMAL(38,0) — so gate, complement pick
        // and both branches hash-replay; emd is one division of those
        // exact integers.
        operators.Quality.tCloseStats(tbl("documents"), Seq("source"),
          col("n_chars") / lit(40L), tNum = 13L, tDen = 200L,
          weight = col("n_chars"))
      },
      Some("""WITH s AS (SELECT source, n_chars // 40 AS v, n_chars
             |          FROM documents),
             |gv AS (SELECT source, v, count(*) AS c, sum(n_chars) AS w
             |       FROM s GROUP BY 1, 2),
             |dom AS (SELECT v, sum(c) AS d FROM gv GROUP BY 1),
             |domc AS (SELECT v, sum(d) OVER (ORDER BY v) AS dc FROM dom),
             |tot AS (SELECT CAST(sum(d) AS HUGEINT) AS n,
             |               CAST(count(*) AS HUGEINT) AS m FROM dom),
             |grp AS (SELECT source, sum(c) AS n_g, sum(w) AS sum_w
             |        FROM gv GROUP BY 1),
             |cc AS (SELECT g.source, g.n_g, g.sum_w, d.v, d.dc,
             |    sum(coalesce(gv.c, 0)) OVER
             |      (PARTITION BY g.source ORDER BY d.v) AS cgc
             |  FROM grp g CROSS JOIN domc d
             |  LEFT JOIN gv ON gv.source = g.source AND gv.v = d.v),
             |sg AS (SELECT source, any_value(n_g) AS n_rows,
             |    any_value(sum_w) AS sum_w,
             |    sum(abs(tot.n * cgc - CAST(n_g AS HUGEINT) * dc)) AS sv,
             |    any_value(tot.n) AS n, any_value(tot.m) AS m
             |  FROM cc, tot GROUP BY 1),
             |mk AS (SELECT *, sv * 200 > 13 * (m - 1) * n_rows * n
             |         AS small FROM sg),
             |ns AS (SELECT count(*) FILTER (small) AS n_small FROM mk),
             |v2 AS (SELECT mk.*, ns.n_small, row_number() OVER
             |    (ORDER BY small, n_rows, source) AS rn FROM mk, ns),
             |m2 AS (SELECT *, small OR (n_small = 1 AND rn = 1) AS supp
             |       FROM v2),
             |sup AS (SELECT source FROM m2 WHERE supp),
             |uv AS (SELECT v, sum(c) AS uc FROM gv
             |       WHERE source IN (SELECT source FROM sup) GROUP BY 1),
             |un AS (SELECT CAST(sum(uc) AS HUGEINT) AS un FROM uv),
             |us AS (SELECT sum(abs(tot.n * ucg - un.un * dc)) AS sv,
             |         any_value(un.un) AS un, any_value(tot.n) AS n,
             |         any_value(tot.m) AS m
             |       FROM (SELECT d.v, d.dc, sum(coalesce(uv.uc, 0))
             |               OVER (ORDER BY d.v) AS ucg
             |             FROM domc d LEFT JOIN uv ON uv.v = d.v), tot, un)
             |SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
             |  CASE WHEN m > 1 THEN round(CAST(sv AS DOUBLE) /
             |    CAST((m - 1) * n_rows * n AS DOUBLE), 9) ELSE 0.0 END
             |    AS emd,
             |  CAST(1 AS BIGINT) AS n_groups, CAST(sum_w AS BIGINT) AS sum_w
             |FROM m2 WHERE NOT supp
             |UNION ALL
             |SELECT '__suppressed__', CAST(sum(m2.n_rows) AS BIGINT),
             |  CASE WHEN any_value(us.m) > 1 THEN
             |    round(CAST(any_value(us.sv) AS DOUBLE) /
             |      CAST((any_value(us.m) - 1) * any_value(us.un)
             |        * any_value(us.n) AS DOUBLE), 9) ELSE 0.0 END,
             |  CAST(count(*) AS BIGINT), CAST(sum(m2.sum_w) AS BIGINT)
             |FROM m2, us WHERE supp HAVING count(*) > 0""".stripMargin)),

    Q("q238_conformal_gate",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // split-conformal curation gate: the type-token-ratio score is
        // calibrated on the doc_id%7==3 split at α = 1/10 — τ = the
        // ⌈(n+1)·0.9⌉-th largest calibration score, guaranteeing ≥ 90%
        // of exchangeable documents clear the gate, distribution-free.
        // k is exact integer arithmetic (aDen·cum ≥ (n+1)·(aDen−aNum));
        // τ is an exact order statistic (never interpolated). The split
        // modulus 7 is COPRIME with the fixture's source derivation
        // (source = src{doc_id % 20} — the FIXTURES.md mod-20 trap, cf.
        // q240's % 3 shards): a % 4 split selects exactly 5 of the 20
        // sources as calibration and the other 15 as apply, structurally
        // violating the exchangeability premise; % 7 spans all 20
        // sources on both sides. The score is rounded to the 1e-6 grid
        // on BOTH sides (conformalThreshold's continuous-score
        // contract: the distinct-score window state stays ≤ 10^6+1 rows
        // at any corpus size, and conformal's guarantee is invariant
        // under a shared monotone-measurable transform) — every
        // comparison hash-replays.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val gated = operators.Classifier.conformalGate(
          docs.filter(col("doc_id") % 7 === 3),
          docs.filter(col("doc_id") % 7 =!= 3),
          score, alphaNum = 1L, alphaDen = 10L)
        gated.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM d),
             |cd AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum
             |       FROM d),
             |thr AS (SELECT max(s) AS tau FROM cd, n
             |        WHERE cum * 10 >= (n.n + 1) * 9),
             |k AS (SELECT CAST(n.n AS BIGINT) AS n_calib,
             |        CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k
             |      FROM n)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(tau) AS threshold,
             |  any_value(k.n_calib) AS n_calib, any_value(k.k) AS k,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc, thr, k WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q239_mondrian_conformal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // GROUP-CONDITIONAL (Mondrian) conformal gate — q238 per
        // language: each lang calibrates its own τ_g on its own slice
        // of the doc_id%7==3 split (coprime with the fixture's mod-20
        // source derivation — see q238), so P(accept | lang) ≥ 90%
        // holds PER LANGUAGE, not just marginally (the marginal gate
        // may over-accept an easy lang and starve a hard one). Same
        // exact integer-k / exact-order-statistic arithmetic, keyed by
        // lang; the score rides the shared 1e-6 grid (the continuous-
        // score contract); the cumulative window partitions by group —
        // no single-partition state at any scale.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        operators.Classifier.conformalGateByGroup(
            docs.filter(col("doc_id") % 7 === 3),
            docs.filter(col("doc_id") % 7 =!= 3),
            Seq("lang"), score, alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT lang, s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1, 2),
             |n AS (SELECT lang, sum(c) AS n FROM d GROUP BY 1),
             |cd AS (SELECT lang, s, sum(c) OVER
             |    (PARTITION BY lang ORDER BY s DESC) AS cum FROM d),
             |thr AS (SELECT cd.lang, max(s) AS tau FROM cd
             |        JOIN n ON n.lang = cd.lang
             |        WHERE cum * 10 >= (n.n + 1) * 9 GROUP BY 1),
             |kk AS (SELECT n.lang, CAST(n.n AS BIGINT) AS n_calib,
             |         CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k,
             |         thr.tau
             |       FROM n LEFT JOIN thr ON thr.lang = n.lang)
             |SELECT sc.lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN kk.tau IS NULL OR sc.s >= kk.tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(kk.tau) AS threshold,
             |  any_value(kk.n_calib) AS n_calib, any_value(kk.k) AS k,
             |  CAST(sum(CASE WHEN kk.tau IS NULL OR sc.s >= kk.tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc LEFT JOIN kk ON kk.lang = sc.lang
             |WHERE NOT is_cal GROUP BY sc.lang""".stripMargin)),

    Q("q240_incremental_conformal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL conformal calibration — q238's threshold
        // maintained from MERGEABLE score states (the q235/KMV
        // mergeable-summaries citizenship): the calibration split
        // arrives as three id-sharded batches, each contributing only
        // its distinct-score counts; states fold by addition and the
        // threshold reads off the fold — exactly equal to the
        // monolithic calibration (integer counts, no sketch error),
        // history never rescanned. The oracle IS the monolithic q238
        // computation, so the merge identity itself sits under the
        // hash gate.
        // split modulus 7 (was 4): coprime with the fixture's mod-20
        // source derivation AND with the % 3 shard modulus — the
        // calibration spans all 20 sources and every shard is a
        // cross-source sample (see q238). The score rides the 1e-6
        // grid per conformalThreshold's continuous-score contract.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val state = Seq(0L, 1L, 2L)
          .map(r => operators.Classifier.scoreState(
            calib.filter(col("doc_id") % 3 === r), score))
          .reduce(operators.Classifier.mergeScoreStates)
        val thr = operators.Classifier.conformalFromState(state, 1L, 10L)
        docs.filter(col("doc_id") % 7 =!= 3)
          .crossJoin(broadcast(thr))
          .withColumn("accept", graft.functions.Clean.flag(
            col("threshold").isNull || score >= col("threshold")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM d),
             |cd AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum
             |       FROM d),
             |thr AS (SELECT max(s) AS tau FROM cd, n
             |        WHERE cum * 10 >= (n.n + 1) * 9),
             |k AS (SELECT CAST(n.n AS BIGINT) AS n_calib,
             |        CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k
             |      FROM n)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(tau) AS threshold,
             |  any_value(k.n_calib) AS n_calib, any_value(k.k) AS k,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc, thr, k WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q241_weighted_conformal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // WEIGHTED split-conformal gate under COVARIATE SHIFT
        // (Tibshirani et al. 2019): the apply population is a
        // deliberately source-shifted subsample — sources src0–src9 in
        // full, src10–src19 thinned to the doc_id%3 comb (a pure shift
        // of the source MIX; %3 is coprime with the fixture's mod-20
        // source derivation so the comb thins every source uniformly
        // rather than selecting a source subset). Each calibration
        // score is reweighted by the empirical likelihood ratio of its
        // source on the 1e-6 grid, and τ_t is the weighted quantile per
        // test source — exact integer arithmetic end to end (weighted
        // counts are longs, the rank inequality runs in DECIMAL(38,0)),
        // so the whole gate hash-replays. Uniform weights reduce to
        // q238's unweighted gate exactly (property-pinned in
        // CurationOpsSpec).
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val app = docs.filter(col("doc_id") % 7 =!= 3 &&
          (col("doc_id") % 20 < 10 || col("doc_id") % 3 === 0))
        operators.Classifier.weightedConformalGate(
            calib, app, "source", score, alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("w6")).as("w6"),
            first(col("n_calib")).as("n_calib"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, source,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 <> 3 AND (doc_id % 20 < 10 OR doc_id % 3 = 0)
             |      AS is_app FROM documents),
             |cg AS (SELECT source, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |ag AS (SELECT source, count(*) AS a FROM sc WHERE is_app
             |       GROUP BY 1),
             |ct AS (SELECT sum(c) AS ct FROM cg),
             |at2 AS (SELECT sum(a) AS at FROM ag),
             |w AS (SELECT cg.source,
             |    CAST(round(1000000.0 * CAST(coalesce(ag.a, 0) * ct.ct
             |      AS DOUBLE) / CAST(cg.c * at2.at AS DOUBLE), 0)
             |      AS BIGINT) AS w6
             |  FROM cg LEFT JOIN ag USING (source), ct, at2),
             |d AS (SELECT source, s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1, 2),
             |dw AS (SELECT d.s, sum(d.c * w.w6) AS wcs, sum(d.c) AS cs
             |       FROM d JOIN w USING (source) GROUP BY 1),
             |tot AS (SELECT sum(wcs) AS wtot, sum(cs) AS n_calib FROM dw),
             |cum AS (SELECT s, sum(wcs) OVER (ORDER BY s DESC) AS cum
             |        FROM dw),
             |thr AS (SELECT w.source, max(cum.s) AS tau
             |        FROM cum, tot, w
             |        WHERE cum.cum * 10 >= (tot.wtot + w.w6) * 9
             |        GROUP BY 1),
             |th2 AS (SELECT w.source, w.w6, thr.tau, tot.n_calib
             |        FROM w LEFT JOIN thr USING (source), tot)
             |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN th2.tau IS NULL OR sc.s >= th2.tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(th2.tau) AS threshold,
             |  any_value(th2.w6) AS w6,
             |  CAST(any_value(th2.n_calib) AS BIGINT) AS n_calib,
             |  CAST(sum(CASE WHEN th2.tau IS NULL OR sc.s >= th2.tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc LEFT JOIN th2 ON th2.source = sc.source
             |WHERE is_app GROUP BY 1""".stripMargin)),

    Q("q242_risk_control_gate",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CONFORMAL RISK CONTROL admission gate (Angelopoulos et al.,
        // ICLR 2024): where q238 bounds how many in-distribution docs
        // are LOST, this bounds how much BAD MASS is ADMITTED — the
        // loss is "the admitted doc is too short" (< 25 tokens; ~15%
        // of the fixture), and τ̂ is the most permissive threshold
        // whose corrected empirical admitted-loss clears α = 1/10:
        // (Σ_{s_i≥τ}ℓ_i + 1) ≤ α(n+1), pure integer feasibility over
        // distinct scores. The TTR score CONCENTRATES the loss at high
        // scores (short docs have high type-token ratios), so the
        // feasible τ is a real clamp — the case a lost-mass gate like
        // q238 cannot express. Same %7 split and 1e-6 score grid as
        // the rest of the conformal family.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        operators.Classifier.riskControlGate(
            docs.filter(col("doc_id") % 7 === 3),
            docs.filter(col("doc_id") % 7 =!= 3),
            score, loss, alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("admit_all")).as("admit_all"),
            first(col("n_calib")).as("n_calib"),
            first(col("n_bad")).as("n_bad"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |g AS (SELECT s, count(*) AS c, sum(l) AS b FROM sc
             |      WHERE is_cal GROUP BY 1),
             |tot AS (SELECT sum(c) AS n, sum(b) AS nb FROM g),
             |cd AS (SELECT s, sum(b) OVER (ORDER BY s DESC) AS cb
             |       FROM g),
             |thr AS (SELECT min(s) AS tau FROM cd, tot
             |        WHERE (cb + 1) * 10 <= (tot.n + 1)),
             |fl AS (SELECT CAST(tot.n AS BIGINT) AS n_calib,
             |         CAST(tot.nb AS BIGINT) AS n_bad,
             |         CASE WHEN (tot.nb + 1) * 10 <= (tot.n + 1)
             |           THEN 1 ELSE 0 END AS admit_all, thr.tau
             |       FROM tot, thr)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_accept,
             |  any_value(fl.tau) AS threshold,
             |  CAST(any_value(fl.admit_all) AS BIGINT) AS admit_all,
             |  any_value(fl.n_calib) AS n_calib,
             |  any_value(fl.n_bad) AS n_bad,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS accept_rate
             |FROM sc, fl WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q243_fdr_select",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // FDR-CONTROLLED selection via conformal p-values (Jin &
        // Candès 2023 + Benjamini–Hochberg): the calibration sample is
        // the %7==3 split's SHORT docs (< 40 tokens — the "junk" null
        // population), the score is the raw token count (integer —
        // exact, no grid rounding needed), and BH at q = 1/5 selects
        // the test docs confidently LONGER than the junk population
        // with at most 20% false flags in expectation. p-values are
        // exact rationals over n+1; the BH boundary cross-multiplies
        // to DECIMAL(38,0) integers; the selection collapses to one
        // score threshold s* broadcast back onto the corpus.
        val docs = tbl("documents")
        val score = size(split(lower(col("text")), " "))
        operators.Classifier.conformalFdrSelect(
            docs.filter(col("doc_id") % 7 === 3 && score < 40),
            docs.filter(col("doc_id") % 7 =!= 3),
            score, qNum = 1L, qDen = 5L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_test"),
            sum(col("selected")).as("n_selected"),
            first(col("threshold")).as("threshold"),
            first(col("n_calib")).as("n_calib"))
          .withColumn("select_rate",
            col("n_selected").cast("double") / col("n_test"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
             |      AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |cal AS (SELECT s, count(*) AS cc FROM sc
             |        WHERE is_cal AND s < 40 GROUP BY 1),
             |app AS (SELECT s, count(*) AS ac FROM sc
             |        WHERE NOT is_cal GROUP BY 1),
             |u AS (SELECT coalesce(cal.s, app.s) AS s,
             |        coalesce(cc, 0) AS cc, coalesce(ac, 0) AS ac
             |      FROM cal FULL OUTER JOIN app ON cal.s = app.s),
             |tot AS (SELECT sum(cc) AS n, sum(ac) AS m FROM u),
             |cum AS (SELECT s, ac,
             |    sum(cc) OVER (ORDER BY s DESC) AS c,
             |    sum(ac) OVER (ORDER BY s DESC) AS k FROM u),
             |thr AS (SELECT min(s) AS s_star FROM cum, tot
             |        WHERE ac > 0 AND (c + 1) * 5 * tot.m
             |          <= k * 1 * (tot.n + 1)),
             |fl AS (SELECT CAST(tot.n AS BIGINT) AS n_calib,
             |         thr.s_star FROM tot, thr)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_test,
             |  CAST(sum(CASE WHEN fl.s_star IS NOT NULL AND
             |    sc.s >= fl.s_star THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_selected,
             |  any_value(fl.s_star) AS threshold,
             |  any_value(fl.n_calib) AS n_calib,
             |  CAST(sum(CASE WHEN fl.s_star IS NOT NULL AND
             |    sc.s >= fl.s_star THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS select_rate
             |FROM sc, fl WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q244_mondrian_risk_control",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // GROUP-CONDITIONAL (Mondrian) conformal risk control — q242
        // per language: each lang's admitted-loss budget holds ON ITS
        // OWN SLICE (E[too-short admitted | lang] ≤ α = 1/5), so the
        // marginal gate cannot buy its budget on an easy language and
        // flood a hard one. Slices whose sample cannot certify ANY
        // admission at α get the admit-nothing vacuity (null τ_g) —
        // and a lang absent from calibration admits nothing (the
        // deliberate ASYMMETRY with q239, where absence accepts: no
        // evidence to reject ≠ evidence the admitted loss clears α).
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        operators.Classifier.riskControlGateByGroup(
            docs.filter(col("doc_id") % 7 === 3),
            docs.filter(col("doc_id") % 7 =!= 3),
            Seq("lang"), score, loss, alphaNum = 1L, alphaDen = 5L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("admit_all")).as("admit_all"),
            first(col("n_calib")).as("n_calib"),
            first(col("n_bad")).as("n_bad"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |g AS (SELECT lang, s, count(*) AS c, sum(l) AS b FROM sc
             |      WHERE is_cal GROUP BY 1, 2),
             |tot AS (SELECT lang, sum(c) AS n, sum(b) AS nb FROM g
             |        GROUP BY 1),
             |cd AS (SELECT lang, s, sum(b) OVER
             |    (PARTITION BY lang ORDER BY s DESC) AS cb FROM g),
             |thr AS (SELECT cd.lang, min(s) AS tau FROM cd
             |        JOIN tot USING (lang)
             |        WHERE (cb + 1) * 5 <= (tot.n + 1) GROUP BY 1),
             |fl AS (SELECT tot.lang, CAST(tot.n AS BIGINT) AS n_calib,
             |         CAST(tot.nb AS BIGINT) AS n_bad,
             |         CASE WHEN (tot.nb + 1) * 5 <= (tot.n + 1)
             |           THEN 1 ELSE 0 END AS admit_all, thr.tau
             |       FROM tot LEFT JOIN thr ON thr.lang = tot.lang)
             |SELECT sc.lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_accept,
             |  any_value(fl.tau) AS threshold,
             |  CAST(any_value(fl.admit_all) AS BIGINT) AS admit_all,
             |  any_value(fl.n_calib) AS n_calib,
             |  any_value(fl.n_bad) AS n_bad,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS accept_rate
             |FROM sc LEFT JOIN fl ON fl.lang = sc.lang
             |WHERE NOT is_cal GROUP BY sc.lang""".stripMargin)),

    Q("q245_streaming_conformal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // STREAMING conformal calibration maintenance — q240's
        // mergeable score state maintained at INGESTION time (the
        // q236/q196/q229 foreachBatch store discipline): each
        // micro-batch of calibration documents contributes its
        // distinct-score counts, merged into the running store (read
        // store_{b-1}, merge by addition, write store_b; AvailableNow
        // serializes the chain), and the threshold reads off the final
        // fold. Per-batch cost ∝ batch + |distinct scores ≤ 10^6+1|;
        // history is never rescanned. The oracle is the MONOLITHIC
        // q238 calibration over the full table, so streaming
        // accumulation must equal having seen the calibration split at
        // once — exactly (integer counts, no sketch error). Batches
        // shard by doc_id % 3 (coprime with the %7 split and the
        // fixture's mod-20 source derivation).
        import java.nio.file.Files
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val calib = docs.filter(col("doc_id") % 7 === 3)
          .select(col("doc_id"), col("text"))
        val dir = tempStagingDir("graft_q245_")
        val src = Files.createDirectories(dir.resolve("in"))
        val out = dir.resolve("out").toString
        val now = System.currentTimeMillis()
        stageStreamFile(calib.filter(col("doc_id") % 3 === 0), src,
          "batch_a", now - 120000)
        stageStreamFile(calib.filter(col("doc_id") % 3 =!= 0), src,
          "batch_b", now - 60000)
        val sink: (DataFrame, Long) => Unit = (batch, batchId) => {
          val bm = operators.Classifier.scoreState(batch, score)
          val merged =
            if (batchId == 0) bm
            else operators.Classifier.mergeScoreStates(bm,
              batch.sparkSession.read.parquet(s"$out/store_${batchId - 1}"))
          merged.write.mode("overwrite").parquet(s"$out/store_$batchId")
        }
        val query = s.readStream.schema(calib.schema)
          .option("maxFilesPerTrigger", 1).parquet(src.toString)
          .writeStream.foreachBatch(sink)
          .option("checkpointLocation", dir.resolve("ckpt").toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        val thr = operators.Classifier.conformalFromState(
          s.read.parquet(s"$out/store_1"), 1L, 10L)
        docs.filter(col("doc_id") % 7 =!= 3)
          .crossJoin(broadcast(thr))
          .withColumn("accept", graft.functions.Clean.flag(
            col("threshold").isNull || score >= col("threshold")))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM d),
             |cd AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum
             |       FROM d),
             |thr AS (SELECT max(s) AS tau FROM cd, n
             |        WHERE cum * 10 >= (n.n + 1) * 9),
             |k AS (SELECT CAST(n.n AS BIGINT) AS n_calib,
             |        CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k
             |      FROM n)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(tau) AS threshold,
             |  any_value(k.n_calib) AS n_calib, any_value(k.k) AS k,
             |  CAST(sum(CASE WHEN tau IS NULL OR s >= tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc, thr, k WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q246_risk_coverage_curve",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // RISK–COVERAGE CURVE (Geifman & El-Yaniv 2017): the full
        // operating-point menu behind any selective gate — for every
        // distinct score threshold, the corpus fraction kept and the
        // bad-mass fraction among the kept (loss = "too short"), read
        // off in one pass at distinct-score grain. The curve is what a
        // curation dashboard plots before choosing where q242's risk
        // bound should sit.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        operators.Classifier.riskCoverageCurve(docs, score, loss)
      },
      Some("""WITH sc AS (SELECT
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l FROM documents),
             |g AS (SELECT s AS threshold, count(*) AS c, sum(l) AS b
             |      FROM sc GROUP BY 1),
             |t AS (SELECT sum(c) AS n FROM g),
             |c2 AS (SELECT threshold,
             |    sum(c) OVER (ORDER BY threshold DESC) AS n_covered,
             |    sum(b) OVER (ORDER BY threshold DESC) AS n_bad_covered
             |  FROM g)
             |SELECT threshold, CAST(n_covered AS BIGINT) AS n_covered,
             |  CAST(n_bad_covered AS BIGINT) AS n_bad_covered,
             |  CAST(n_covered AS DOUBLE) / t.n AS coverage,
             |  CAST(n_bad_covered AS DOUBLE) / n_covered
             |    AS selective_risk
             |FROM c2, t""".stripMargin)),

    Q("q247_auc_exact",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // EXACT tie-corrected ROC AUC (Mann–Whitney U with midranks;
        // Hanley & McNeil 1982): does the type-token ratio separate
        // adequate-length documents from too-short ones? The statistic
        // 2U = Σ_s c_pos(s)·(2·cumNeg(<s) + c_neg(s)) is an exact
        // integer at distinct-score grain (DECIMAL(38,0) products) —
        // the only float is the final division. Complements q147's
        // fixed-threshold confusion metrics with the
        // threshold-independent ranking quality.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val label = graft.functions.Clean.flag(size(toks) >= 25)
        operators.Classifier.aucExact(docs, score, label)
      },
      Some("""WITH sc AS (SELECT
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) >= 25
             |      THEN 1 ELSE 0 END AS y FROM documents),
             |g AS (SELECT s, sum(y) AS cp, count(*) - sum(y) AS cn
             |      FROM sc GROUP BY 1),
             |c2 AS (SELECT cp, cn,
             |    sum(cn) OVER (ORDER BY s) AS cumn FROM g),
             |a AS (SELECT sum(cp * (2 * (cumn - cn) + cn)) AS u2,
             |        sum(cp) AS np, sum(cn) AS nn FROM c2)
             |SELECT CAST(np AS BIGINT) AS n_pos,
             |  CAST(nn AS BIGINT) AS n_neg,
             |  CAST(u2 AS BIGINT) AS u2,
             |  CAST(u2 AS DOUBLE) / (2.0 * np * nn) AS auc
             |FROM a""".stripMargin)),

    Q("q248_facility_location",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // FACILITY-LOCATION greedy selection (Wei/Iyer/Bilmes 2015):
        // pick 4 exemplar embeddings (candidate pool vec_id % 7 == 0)
        // maximizing Σ_j max(0, max_i sim(i, j)) — the submodular
        // representativeness objective behind exemplar-based data
        // selection. Similarities ride the 1e-4 integer grid (the
        // q26-proven cosine parity grid), so the greedy trajectory —
        // gains, best-service map, objective — is exact integer
        // arithmetic and the oracle replays all 4 unrolled rounds.
        operators.Selection.facilityLocationSelect(
          tbl("embeddings"),
          tbl("embeddings").filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", k = 4)
      },
      Some {
        val rounds = (2 to 4).map { r =>
          val prev = (1 until r).map(i => s"SELECT c FROM w$i")
            .mkString(" UNION ")
          s"""g$r AS (SELECT c, sum(greatest(s - best, 0)) AS g
             |  FROM p JOIN b${r - 1} USING (j)
             |  WHERE c NOT IN ($prev) GROUP BY 1),
             |w$r AS (SELECT c, g FROM g$r ORDER BY g DESC, c LIMIT 1),
             |b$r AS (SELECT b${r - 1}.j,
             |    greatest(b${r - 1}.best, coalesce(p.s, 0)) AS best
             |  FROM b${r - 1} LEFT JOIN p ON p.j = b${r - 1}.j
             |    AND p.c = (SELECT c FROM w$r))""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 4).map(r =>
          s"""UNION ALL SELECT CAST($r AS BIGINT), c,
             |  CAST(g AS BIGINT),
             |  (SELECT CAST(sum(best) AS BIGINT) FROM b$r) FROM w$r""".stripMargin)
          .mkString("\n")
        s"""WITH cnd AS (SELECT vec_id AS c,
           |    CAST(embedding AS DOUBLE[]) AS vc FROM embeddings
           |  WHERE vec_id % 7 = 0),
           |e AS (SELECT vec_id AS j, CAST(embedding AS DOUBLE[]) AS vj
           |      FROM embeddings),
           |p AS (SELECT c, j, CAST(round(
           |    list_cosine_similarity(vc, vj) * 10000.0, 0) AS BIGINT)
           |    AS s FROM cnd, e),
           |b0 AS (SELECT j, CAST(0 AS BIGINT) AS best FROM e),
           |g1 AS (SELECT c, sum(greatest(s - best, 0)) AS g
           |       FROM p JOIN b0 USING (j) GROUP BY 1),
           |w1 AS (SELECT c, g FROM g1 ORDER BY g DESC, c LIMIT 1),
           |b1 AS (SELECT b0.j, greatest(b0.best, coalesce(p.s, 0))
           |    AS best FROM b0 LEFT JOIN p ON p.j = b0.j
           |    AND p.c = (SELECT c FROM w1)),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS round, c AS vec_id,
           |  CAST(g AS BIGINT) AS marginal_gain,
           |  (SELECT CAST(sum(best) AS BIGINT) FROM b1)
           |    AS objective_total
           |FROM w1
           |$sel""".stripMargin
      }),

    Q("q249_incremental_risk_control",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL conformal risk control — q242's threshold
        // maintained from MERGEABLE (score, n, loss_sum) states (the
        // q240 construction extended to the monotone-loss gate): the
        // calibration split arrives as three id-sharded batches, each
        // contributing only its distinct-score count/loss sums; states
        // fold by addition and τ̂ reads off the fold — exactly equal
        // to the monolithic calibration, history never rescanned. The
        // oracle IS the monolithic q242 computation, so the merge
        // identity sits under the hash gate. Shards by % 3, coprime
        // with the % 7 split and the fixture's mod-20 source
        // derivation.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val state = Seq(0L, 1L, 2L)
          .map(r => operators.Classifier.lossState(
            calib.filter(col("doc_id") % 3 === r), score, loss))
          .reduce(operators.Classifier.mergeLossStates)
        val thr = operators.Classifier.riskControlFromState(state, 1L, 10L)
        docs.filter(col("doc_id") % 7 =!= 3)
          .crossJoin(broadcast(thr))
          .withColumn("accept", graft.functions.Clean.flag(
            col("admit_all") === 1 ||
              (col("threshold").isNotNull && score >= col("threshold"))))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("admit_all")).as("admit_all"),
            first(col("n_calib")).as("n_calib"),
            first(col("n_bad")).as("n_bad"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |g AS (SELECT s, count(*) AS c, sum(l) AS b FROM sc
             |      WHERE is_cal GROUP BY 1),
             |tot AS (SELECT sum(c) AS n, sum(b) AS nb FROM g),
             |cd AS (SELECT s, sum(b) OVER (ORDER BY s DESC) AS cb
             |       FROM g),
             |thr AS (SELECT min(s) AS tau FROM cd, tot
             |        WHERE (cb + 1) * 10 <= (tot.n + 1)),
             |fl AS (SELECT CAST(tot.n AS BIGINT) AS n_calib,
             |         CAST(tot.nb AS BIGINT) AS n_bad,
             |         CASE WHEN (tot.nb + 1) * 10 <= (tot.n + 1)
             |           THEN 1 ELSE 0 END AS admit_all, thr.tau
             |       FROM tot, thr)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_accept,
             |  any_value(fl.tau) AS threshold,
             |  CAST(any_value(fl.admit_all) AS BIGINT) AS admit_all,
             |  any_value(fl.n_calib) AS n_calib,
             |  any_value(fl.n_bad) AS n_bad,
             |  CAST(sum(CASE WHEN fl.admit_all = 1 OR (fl.tau IS NOT
             |    NULL AND sc.s >= fl.tau) THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS accept_rate
             |FROM sc, fl WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q250_incremental_weighted_conformal",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL weighted conformal — q241's covariate-shift gate
        // maintained from MERGEABLE (source, score, n) states: both
        // the per-source counts the likelihood-ratio weights need and
        // the weighted score distribution derive from the fold, so the
        // whole gate (weights → per-test-source τ_t → accept) reads
        // off merged shards exactly equal to the monolithic
        // calibration. The oracle IS q241's monolithic computation, so
        // the merge identity for the full weighted pipeline sits under
        // the hash gate. Shards by % 3 (coprime with % 7 and mod-20).
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val app = docs.filter(col("doc_id") % 7 =!= 3 &&
          (col("doc_id") % 20 < 10 || col("doc_id") % 3 === 0))
        val state = Seq(0L, 1L, 2L)
          .map(r => operators.Classifier.groupScoreState(
            calib.filter(col("doc_id") % 3 === r), "source", score))
          .reduce(operators.Classifier.mergeGroupScoreStates)
        operators.Classifier.weightedConformalGateFromState(
            state, app, "source", score, alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("accept")).as("n_accept"),
            first(col("threshold")).as("threshold"),
            first(col("w6")).as("w6"),
            first(col("n_calib")).as("n_calib"))
          .withColumn("accept_rate",
            col("n_accept").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, source,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 <> 3 AND (doc_id % 20 < 10 OR doc_id % 3 = 0)
             |      AS is_app FROM documents),
             |cg AS (SELECT source, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |ag AS (SELECT source, count(*) AS a FROM sc WHERE is_app
             |       GROUP BY 1),
             |ct AS (SELECT sum(c) AS ct FROM cg),
             |at2 AS (SELECT sum(a) AS at FROM ag),
             |w AS (SELECT cg.source,
             |    CAST(round(1000000.0 * CAST(coalesce(ag.a, 0) * ct.ct
             |      AS DOUBLE) / CAST(cg.c * at2.at AS DOUBLE), 0)
             |      AS BIGINT) AS w6
             |  FROM cg LEFT JOIN ag USING (source), ct, at2),
             |d AS (SELECT source, s, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1, 2),
             |dw AS (SELECT d.s, sum(d.c * w.w6) AS wcs, sum(d.c) AS cs
             |       FROM d JOIN w USING (source) GROUP BY 1),
             |tot AS (SELECT sum(wcs) AS wtot, sum(cs) AS n_calib FROM dw),
             |cum AS (SELECT s, sum(wcs) OVER (ORDER BY s DESC) AS cum
             |        FROM dw),
             |thr AS (SELECT w.source, max(cum.s) AS tau
             |        FROM cum, tot, w
             |        WHERE cum.cum * 10 >= (tot.wtot + w.w6) * 9
             |        GROUP BY 1),
             |th2 AS (SELECT w.source, w.w6, thr.tau, tot.n_calib
             |        FROM w LEFT JOIN thr USING (source), tot)
             |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN th2.tau IS NULL OR sc.s >= th2.tau
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_accept,
             |  any_value(th2.tau) AS threshold,
             |  any_value(th2.w6) AS w6,
             |  CAST(any_value(th2.n_calib) AS BIGINT) AS n_calib,
             |  CAST(sum(CASE WHEN th2.tau IS NULL OR sc.s >= th2.tau
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS accept_rate
             |FROM sc LEFT JOIN th2 ON th2.source = sc.source
             |WHERE is_app GROUP BY 1""".stripMargin)),

    Q("q251_incremental_auc",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL exact AUC — q247's tie-corrected Mann–Whitney
        // statistic maintained from MERGEABLE (score, n_pos, n_neg)
        // states (the q249/q250 construction extended to ranking
        // evaluation): the corpus arrives as three id-sharded batches,
        // each contributing only its distinct-score label counts;
        // states fold by addition and the exact integer 2U reads off
        // the fold — equal to the monolithic statistic, history never
        // rescanned. The direct aucExact is DEFINED as
        // aucFromState ∘ labelScoreState, so the two forms cannot
        // drift; the oracle IS the monolithic q247 computation, so the
        // merge identity sits under the hash gate. Shards by % 3
        // (coprime with the fixture's mod-20 source derivation).
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val label = graft.functions.Clean.flag(size(toks) >= 25)
        val state = Seq(0L, 1L, 2L)
          .map(r => operators.Classifier.labelScoreState(
            docs.filter(col("doc_id") % 3 === r), score, label))
          .reduce(operators.Classifier.mergeLabelScoreStates)
        operators.Classifier.aucFromState(state)
      },
      Some("""WITH sc AS (SELECT
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) >= 25
             |      THEN 1 ELSE 0 END AS y FROM documents),
             |g AS (SELECT s, sum(y) AS cp, count(*) - sum(y) AS cn
             |      FROM sc GROUP BY 1),
             |c2 AS (SELECT cp, cn,
             |    sum(cn) OVER (ORDER BY s) AS cumn FROM g),
             |a AS (SELECT sum(cp * (2 * (cumn - cn) + cn)) AS u2,
             |        sum(cp) AS np, sum(cn) AS nn FROM c2)
             |SELECT CAST(np AS BIGINT) AS n_pos,
             |  CAST(nn AS BIGINT) AS n_neg,
             |  CAST(u2 AS BIGINT) AS u2,
             |  CAST(u2 AS DOUBLE) / (2.0 * np * nn) AS auc
             |FROM a""".stripMargin)),

    Q("q252_incremental_risk_coverage",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // INCREMENTAL risk–coverage curve — q246's full operating-point
        // menu maintained from the SAME mergeable (score, n, loss_sum)
        // states the q242/q249 risk-control gate folds: shard states
        // merge by addition and the curve reads off the fold, exactly
        // equal to the monolithic curve (integer counts at
        // distinct-score grain). One state family now serves BOTH the
        // gate and its dashboard. The direct riskCoverageCurve is
        // DEFINED as riskCoverageFromState ∘ lossState, so the forms
        // cannot drift; the oracle IS the monolithic q246 computation.
        // Shards by % 3 (coprime with the mod-20 source derivation).
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        val state = Seq(0L, 1L, 2L)
          .map(r => operators.Classifier.lossState(
            docs.filter(col("doc_id") % 3 === r), score, loss))
          .reduce(operators.Classifier.mergeLossStates)
        operators.Classifier.riskCoverageFromState(state)
      },
      Some("""WITH sc AS (SELECT
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l FROM documents),
             |g AS (SELECT s AS threshold, count(*) AS c, sum(l) AS b
             |      FROM sc GROUP BY 1),
             |t AS (SELECT sum(c) AS n FROM g),
             |c2 AS (SELECT threshold,
             |    sum(c) OVER (ORDER BY threshold DESC) AS n_covered,
             |    sum(b) OVER (ORDER BY threshold DESC) AS n_bad_covered
             |  FROM g)
             |SELECT threshold, CAST(n_covered AS BIGINT) AS n_covered,
             |  CAST(n_bad_covered AS BIGINT) AS n_bad_covered,
             |  CAST(n_covered AS DOUBLE) / t.n AS coverage,
             |  CAST(n_bad_covered AS DOUBLE) / n_covered
             |    AS selective_risk
             |FROM c2, t""".stripMargin)),

    Q("q253_facility_location_bucketed",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // BUCKETED facility-location greedy — q248's submodular
        // selection with the corpus side routed through an IVF-style
        // cell assignment (centroid pool vec_id % 100 == 7, quantized
        // nearest-centroid argmax on the 1e-4 cosine grid, ties → the
        // smaller centroid id), so each candidate meets only its own
        // cell and the persisted pair table shrinks by ~|cells| — the
        // 100 TB shape q248's scaladoc promises, as code. Cross-cell
        // similarity is treated as 0 (the clamp-at-0 reading), and the
        // whole trajectory — routing, gains, best-service map,
        // objective — stays exact integer arithmetic on the grid, so
        // the oracle replays all 4 unrolled greedy rounds over the
        // SAME cell-restricted pair table.
        operators.Selection.facilityLocationSelectBucketed(
          tbl("embeddings"),
          tbl("embeddings").filter(col("vec_id") % 7 === 0),
          tbl("embeddings").filter(col("vec_id") % 100 === 7),
          "vec_id", "embedding", k = 4)
      },
      Some {
        val rounds = (2 to 4).map { r =>
          val prev = (1 until r).map(i => s"SELECT c FROM w$i")
            .mkString(" UNION ")
          s"""g$r AS (SELECT c, sum(greatest(s - best, 0)) AS g
             |  FROM p JOIN b${r - 1} USING (j)
             |  WHERE c NOT IN ($prev) GROUP BY 1),
             |w$r AS (SELECT c, g FROM g$r ORDER BY g DESC, c LIMIT 1),
             |b$r AS (SELECT b${r - 1}.j,
             |    greatest(b${r - 1}.best, coalesce(p.s, 0)) AS best
             |  FROM b${r - 1} LEFT JOIN p ON p.j = b${r - 1}.j
             |    AND p.c = (SELECT c FROM w$r))""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 4).map(r =>
          s"""UNION ALL SELECT CAST($r AS BIGINT), c,
             |  CAST(g AS BIGINT),
             |  (SELECT CAST(sum(best) AS BIGINT) FROM b$r) FROM w$r""".stripMargin)
          .mkString("\n")
        s"""WITH cnd AS (SELECT vec_id AS c,
           |    CAST(embedding AS DOUBLE[]) AS vc FROM embeddings
           |  WHERE vec_id % 7 = 0),
           |e AS (SELECT vec_id AS j, CAST(embedding AS DOUBLE[]) AS vj
           |      FROM embeddings),
           |cents AS (SELECT vec_id AS cid,
           |    CAST(embedding AS DOUBLE[]) AS vn FROM embeddings
           |  WHERE vec_id % 100 = 7),
           |cellj AS (SELECT j, cid AS cell FROM (
           |    SELECT e.j, cents.cid, row_number() OVER (PARTITION BY e.j
           |        ORDER BY CAST(round(list_cosine_similarity(cents.vn,
           |          e.vj) * 10000.0, 0) AS BIGINT) DESC, cents.cid) AS rn
           |    FROM e, cents) WHERE rn = 1),
           |cellc AS (SELECT c, cid AS cell FROM (
           |    SELECT cnd.c, cents.cid, row_number() OVER (PARTITION BY
           |        cnd.c ORDER BY CAST(round(list_cosine_similarity(
           |          cents.vn, cnd.vc) * 10000.0, 0) AS BIGINT) DESC,
           |        cents.cid) AS rn
           |    FROM cnd, cents) WHERE rn = 1),
           |p AS (SELECT cnd.c, e.j, CAST(round(
           |    list_cosine_similarity(cnd.vc, e.vj) * 10000.0, 0)
           |    AS BIGINT) AS s
           |  FROM cnd JOIN cellc ON cellc.c = cnd.c
           |    JOIN cellj ON TRUE JOIN e ON e.j = cellj.j
           |  WHERE cellc.cell = cellj.cell),
           |b0 AS (SELECT j, CAST(0 AS BIGINT) AS best FROM e),
           |g1 AS (SELECT c, sum(greatest(s - best, 0)) AS g
           |       FROM p JOIN b0 USING (j) GROUP BY 1),
           |w1 AS (SELECT c, g FROM g1 ORDER BY g DESC, c LIMIT 1),
           |b1 AS (SELECT b0.j, greatest(b0.best, coalesce(p.s, 0))
           |    AS best FROM b0 LEFT JOIN p ON p.j = b0.j
           |    AND p.c = (SELECT c FROM w1)),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS round, c AS vec_id,
           |  CAST(g AS BIGINT) AS marginal_gain,
           |  (SELECT CAST(sum(best) AS BIGINT) FROM b1)
           |    AS objective_total
           |FROM w1
           |$sel""".stripMargin
      }),

    Q("q254_conformal_coverage_audit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // EMPIRICAL COVERAGE AUDIT of the conformal gate family — the
        // "did the promise hold" evidence row the gates lacked: q238's
        // marginal, q239's Mondrian and q241's weighted gate are each
        // calibrated on the doc_id%7==3 split and applied to a DISJOINT
        // exchangeable holdout (doc_id%7==5 — same coprime-with-mod-20
        // discipline), then coverageAudit reports exact integer accept
        // counts per (gate, group) against the promised 1−α floor;
        // meets_floor is the pure-integer inequality
        // aDen·n_accept ≥ (aDen−aNum)·n_holdout. The audit REPORTS (a
        // fixed holdout can dip below the floor without indicting the
        // gate — the guarantee is marginal over exchangeable draws; the
        // calibration-side bound is deterministic and property-pinned
        // in CurationOpsSpec). One report-grain aggregate per gate.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val hold = docs.filter(col("doc_id") % 7 === 5)
        val marginal = operators.Classifier.coverageAudit(
          operators.Classifier.conformalGate(calib, hold, score, 1L, 10L),
          "marginal", None, 1L, 10L)
        val mondrian = operators.Classifier.coverageAudit(
          operators.Classifier.conformalGateByGroup(calib, hold,
            Seq("lang"), score, 1L, 10L),
          "mondrian", Some("lang"), 1L, 10L)
        val weighted = operators.Classifier.coverageAudit(
          operators.Classifier.weightedConformalGate(calib, hold,
            "source", score, 1L, 10L),
          "weighted", Some("source"), 1L, 10L)
        marginal.unionByName(mondrian).unionByName(weighted)
      },
      Some("""WITH sc AS (SELECT doc_id, lang, source,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 = 5 AS is_hold FROM documents),
             |d1 AS (SELECT s, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |n1 AS (SELECT sum(c) AS n FROM d1),
             |cd1 AS (SELECT s, sum(c) OVER (ORDER BY s DESC) AS cum
             |        FROM d1),
             |t1 AS (SELECT max(s) AS tau FROM cd1, n1
             |       WHERE cum * 10 >= (n1.n + 1) * 9),
             |d2 AS (SELECT lang, s, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1, 2),
             |n2 AS (SELECT lang, sum(c) AS n FROM d2 GROUP BY 1),
             |cd2 AS (SELECT lang, s, sum(c) OVER
             |    (PARTITION BY lang ORDER BY s DESC) AS cum FROM d2),
             |t2 AS (SELECT cd2.lang, max(s) AS tau FROM cd2
             |       JOIN n2 ON n2.lang = cd2.lang
             |       WHERE cum * 10 >= (n2.n + 1) * 9 GROUP BY 1),
             |cg AS (SELECT source, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |ag AS (SELECT source, count(*) AS a FROM sc WHERE is_hold
             |       GROUP BY 1),
             |ct AS (SELECT sum(c) AS ct FROM cg),
             |at2 AS (SELECT sum(a) AS at FROM ag),
             |w AS (SELECT cg.source,
             |    CAST(round(1000000.0 * CAST(coalesce(ag.a, 0) * ct.ct
             |      AS DOUBLE) / CAST(cg.c * at2.at AS DOUBLE), 0)
             |      AS BIGINT) AS w6
             |  FROM cg LEFT JOIN ag USING (source), ct, at2),
             |dd AS (SELECT source, s, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1, 2),
             |dw AS (SELECT dd.s, sum(dd.c * w.w6) AS wcs
             |       FROM dd JOIN w USING (source) GROUP BY 1),
             |tw AS (SELECT sum(wcs) AS wtot FROM dw),
             |cw AS (SELECT s, sum(wcs) OVER (ORDER BY s DESC) AS cum
             |       FROM dw),
             |t3 AS (SELECT w.source, max(cw.s) AS tau
             |       FROM cw, tw, w
             |       WHERE cw.cum * 10 >= (tw.wtot + w.w6) * 9
             |       GROUP BY 1),
             |a1 AS (SELECT 'marginal' AS gate, 'ALL' AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN t1.tau IS NULL OR sc.s >= t1.tau
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc, t1 WHERE is_hold),
             |a2 AS (SELECT 'mondrian' AS gate, sc.lang AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN t2.tau IS NULL OR sc.s >= t2.tau
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc LEFT JOIN t2 ON t2.lang = sc.lang
             |  WHERE is_hold GROUP BY 2),
             |a3 AS (SELECT 'weighted' AS gate, sc.source AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN t3.tau IS NULL OR sc.s >= t3.tau
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc LEFT JOIN t3 ON t3.source = sc.source
             |  WHERE is_hold GROUP BY 2),
             |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
             |      UNION ALL SELECT * FROM a3)
             |SELECT gate, grp, CAST(nh AS BIGINT) AS n_holdout,
             |  CAST(na AS BIGINT) AS n_accept,
             |  CAST(na AS DOUBLE) / nh AS coverage,
             |  CAST(0.9 AS DOUBLE) AS promised,
             |  CAST(CASE WHEN na * 10 >= 9 * nh THEN 1 ELSE 0 END
             |    AS BIGINT) AS meets_floor
             |FROM u""".stripMargin)),

    Q("q255_facility_location_lazy",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CELF lazy-greedy facility location (Leskovec et al. 2007) —
        // q248's selection with lazy evaluation under submodularity:
        // a candidate's marginal gain only decreases as the selected
        // set grows, so its last evaluated gain upper-bounds it
        // forever and each round touches the pair table only for the
        // top stale bounds (a broadcast batch semi-join) instead of
        // every candidate. The trajectory is BIT-IDENTICAL to naive
        // greedy (settle rule dominates ties and the fetch boundary),
        // so the oracle IS q248's unrolled-greedy replay — the scale
        // optimization sits under the same hash gate as the thing it
        // optimizes. Evaluations ≈ |candidates| + O(k·batch) vs
        // naive's |candidates|·k (spec-pinned).
        operators.Selection.facilityLocationSelectLazy(
          tbl("embeddings"),
          tbl("embeddings").filter(col("vec_id") % 7 === 0),
          "vec_id", "embedding", k = 4)
      },
      Some {
        val rounds = (2 to 4).map { r =>
          val prev = (1 until r).map(i => s"SELECT c FROM w$i")
            .mkString(" UNION ")
          s"""g$r AS (SELECT c, sum(greatest(s - best, 0)) AS g
             |  FROM p JOIN b${r - 1} USING (j)
             |  WHERE c NOT IN ($prev) GROUP BY 1),
             |w$r AS (SELECT c, g FROM g$r ORDER BY g DESC, c LIMIT 1),
             |b$r AS (SELECT b${r - 1}.j,
             |    greatest(b${r - 1}.best, coalesce(p.s, 0)) AS best
             |  FROM b${r - 1} LEFT JOIN p ON p.j = b${r - 1}.j
             |    AND p.c = (SELECT c FROM w$r))""".stripMargin
        }.mkString(",\n")
        val sel = (2 to 4).map(r =>
          s"""UNION ALL SELECT CAST($r AS BIGINT), c,
             |  CAST(g AS BIGINT),
             |  (SELECT CAST(sum(best) AS BIGINT) FROM b$r) FROM w$r""".stripMargin)
          .mkString("\n")
        s"""WITH cnd AS (SELECT vec_id AS c,
           |    CAST(embedding AS DOUBLE[]) AS vc FROM embeddings
           |  WHERE vec_id % 7 = 0),
           |e AS (SELECT vec_id AS j, CAST(embedding AS DOUBLE[]) AS vj
           |      FROM embeddings),
           |p AS (SELECT c, j, CAST(round(
           |    list_cosine_similarity(vc, vj) * 10000.0, 0) AS BIGINT)
           |    AS s FROM cnd, e),
           |b0 AS (SELECT j, CAST(0 AS BIGINT) AS best FROM e),
           |g1 AS (SELECT c, sum(greatest(s - best, 0)) AS g
           |       FROM p JOIN b0 USING (j) GROUP BY 1),
           |w1 AS (SELECT c, g FROM g1 ORDER BY g DESC, c LIMIT 1),
           |b1 AS (SELECT b0.j, greatest(b0.best, coalesce(p.s, 0))
           |    AS best FROM b0 LEFT JOIN p ON p.j = b0.j
           |    AND p.c = (SELECT c FROM w1)),
           |$rounds
           |SELECT CAST(1 AS BIGINT) AS round, c AS vec_id,
           |  CAST(g AS BIGINT) AS marginal_gain,
           |  (SELECT CAST(sum(best) AS BIGINT) FROM b1)
           |    AS objective_total
           |FROM w1
           |$sel""".stripMargin
      }),

    Q("q256_conformal_interval",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // SPLIT-CONFORMAL PREDICTION INTERVAL (Papadopoulos et al.
        // 2002; Lei et al. 2018) — the canonical conformal form over a
        // point predictor: predict n_chars from the whitespace token
        // count (ŷ = 6·tokens, a fixed predictor — conformal's
        // guarantee holds for ANY predictor), calibrate q̂ = the
        // ⌈(n+1)·0.9⌉-th smallest |residual| on the doc_id%7==3 split,
        // and P(|y−ŷ| ≤ q̂) ≥ 90% for exchangeable documents. The
        // calibration is conformalFromState on the NEGATED residual
        // grid, so it inherits the gate family's exact integer-k
        // arithmetic and mergeable-state citizenship; residuals are
        // integer-valued (exact in double), so every comparison
        // hash-replays. Reported per language over the apply split:
        // interval coverage, width, and the calibration row.
        val docs = tbl("documents")
        val toks = size(split(lower(col("text")), " "))
        val pred = (toks * 6).cast("long")
        operators.Classifier.conformalIntervalGate(
            docs.filter(col("doc_id") % 7 === 3),
            docs.filter(col("doc_id") % 7 =!= 3),
            pred, col("n_chars"), alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("covered")).as("n_covered"),
            first(col("q_hat")).as("q_hat"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("coverage",
            col("n_covered").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    abs(n_chars - 6 * len(string_split(lower(text), ' ')))
             |      AS r,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT r, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1),
             |n AS (SELECT sum(c) AS n FROM d),
             |cd AS (SELECT r, sum(c) OVER (ORDER BY r ASC) AS cum
             |       FROM d),
             |qh AS (SELECT CAST(min(r) AS DOUBLE) AS q FROM cd, n
             |       WHERE cum * 10 >= (n.n + 1) * 9),
             |kk AS (SELECT CAST(n.n AS BIGINT) AS n_calib,
             |         CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k
             |       FROM n)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN qh.q IS NULL OR sc.r <= qh.q
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             |  any_value(qh.q) AS q_hat,
             |  any_value(kk.n_calib) AS n_calib, any_value(kk.k) AS k,
             |  CAST(sum(CASE WHEN qh.q IS NULL OR sc.r <= qh.q
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS coverage
             |FROM sc, qh, kk WHERE NOT is_cal
             |GROUP BY lang""".stripMargin)),

    Q("q257_weighted_conformal_interval",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // WEIGHTED conformal interval under COVARIATE SHIFT — the
        // actual subject of Tibshirani et al. 2019, closing the
        // conformal family: q256's interval calibrated per test source
        // under q241's likelihood-ratio reweighting (the apply
        // population is the same deliberately source-shifted subsample
        // as q241 — src0–src9 in full, src10–src19 thinned to the %3
        // comb). q̂_t = the weighted ⌈…⌉-quantile of |n_chars −
        // 6·tokens| per test source, via the negated-grid reduction
        // through the DECIMAL(38,0) weighted machinery — exact integer
        // arithmetic end to end, hash-replayable. Reported per source:
        // interval coverage on the shifted population, q̂_t, w6.
        val docs = tbl("documents")
        val toks = size(split(lower(col("text")), " "))
        val pred = (toks * 6).cast("long")
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val app = docs.filter(col("doc_id") % 7 =!= 3 &&
          (col("doc_id") % 20 < 10 || col("doc_id") % 3 === 0))
        operators.Classifier.weightedConformalIntervalGate(
            calib, app, "source", pred, col("n_chars"),
            alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("covered")).as("n_covered"),
            first(col("q_hat")).as("q_hat"),
            first(col("w6")).as("w6"),
            first(col("n_calib")).as("n_calib"))
          .withColumn("coverage",
            col("n_covered").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, source,
             |    CAST(abs(n_chars - 6 * len(string_split(lower(text),
             |      ' '))) AS DOUBLE) AS r,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 <> 3 AND (doc_id % 20 < 10 OR doc_id % 3 = 0)
             |      AS is_app FROM documents),
             |cg AS (SELECT source, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |ag AS (SELECT source, count(*) AS a FROM sc WHERE is_app
             |       GROUP BY 1),
             |ct AS (SELECT sum(c) AS ct FROM cg),
             |at2 AS (SELECT sum(a) AS at FROM ag),
             |w AS (SELECT cg.source,
             |    CAST(round(1000000.0 * CAST(coalesce(ag.a, 0) * ct.ct
             |      AS DOUBLE) / CAST(cg.c * at2.at AS DOUBLE), 0)
             |      AS BIGINT) AS w6
             |  FROM cg LEFT JOIN ag USING (source), ct, at2),
             |dd AS (SELECT source, r, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1, 2),
             |dw AS (SELECT dd.r, sum(dd.c * w.w6) AS wcs, sum(dd.c) AS cs
             |       FROM dd JOIN w USING (source) GROUP BY 1),
             |tot AS (SELECT sum(wcs) AS wtot, sum(cs) AS n_calib FROM dw),
             |cum AS (SELECT r, sum(wcs) OVER (ORDER BY r ASC) AS cum
             |        FROM dw),
             |thr AS (SELECT w.source, min(cum.r) AS q
             |        FROM cum, tot, w
             |        WHERE cum.cum * 10 >= (tot.wtot + w.w6) * 9
             |        GROUP BY 1),
             |th2 AS (SELECT w.source, w.w6, thr.q, tot.n_calib
             |        FROM w LEFT JOIN thr USING (source), tot)
             |SELECT sc.source, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN th2.q IS NULL OR sc.r <= th2.q
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             |  any_value(th2.q) AS q_hat,
             |  any_value(th2.w6) AS w6,
             |  CAST(any_value(th2.n_calib) AS BIGINT) AS n_calib,
             |  CAST(sum(CASE WHEN th2.q IS NULL OR sc.r <= th2.q
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS coverage
             |FROM sc LEFT JOIN th2 ON th2.source = sc.source
             |WHERE is_app GROUP BY 1""".stripMargin)),

    Q("q258_risk_audit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // EMPIRICAL RISK AUDIT — q254's dual for the CRC family: did
        // the admitted bad-mass rate stay within the promised α?
        // q242's marginal and q244's Mondrian risk gates (loss = "too
        // short", α = 1/10) calibrate on doc_id%7==3 and are audited
        // on the DISJOINT doc_id%7==5 holdout: exact integer admitted
        // counts and admitted-loss sums per (gate, group), realized
        // risk, and the pure-integer meets_bound
        // aDen·loss_admitted ≤ aNum·n_admitted. Reports (the CRC
        // guarantee is an expectation over exchangeable draws; a slice
        // the gate admits nothing on yields the vacuous null-risk
        // row). One report-grain aggregate per gate.
        val docs = tbl("documents")
        val toks = split(lower(col("text")), " ")
        val score = round(
          size(array_distinct(toks)).cast("double") / size(toks), 6)
        val loss = graft.functions.Clean.flag(size(toks) < 25)
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val hold = docs.filter(col("doc_id") % 7 === 5)
        val marginal = operators.Classifier.riskAudit(
          operators.Classifier.riskControlGate(calib, hold, score, loss,
            1L, 10L),
          "marginal", None, loss, 1L, 10L)
        val mondrian = operators.Classifier.riskAudit(
          operators.Classifier.riskControlGateByGroup(calib, hold,
            Seq("lang"), score, loss, 1L, 10L),
          "mondrian", Some("lang"), loss, 1L, 10L)
        marginal.unionByName(mondrian)
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    round(CAST(len(list_distinct(string_split(lower(text),
             |      ' '))) AS DOUBLE) / len(string_split(lower(text),
             |      ' ')), 6) AS s,
             |    CASE WHEN len(string_split(lower(text), ' ')) < 25
             |      THEN 1 ELSE 0 END AS l,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 = 5 AS is_hold FROM documents),
             |g1 AS (SELECT s, count(*) AS c, sum(l) AS b FROM sc
             |       WHERE is_cal GROUP BY 1),
             |t1 AS (SELECT sum(c) AS n, sum(b) AS nb FROM g1),
             |c1 AS (SELECT s, sum(b) OVER (ORDER BY s DESC) AS cb
             |       FROM g1),
             |m1 AS (SELECT min(s) AS tau FROM c1, t1
             |       WHERE (cb + 1) * 10 <= (t1.n + 1)),
             |f1 AS (SELECT m1.tau,
             |         CASE WHEN (t1.nb + 1) * 10 <= (t1.n + 1)
             |           THEN 1 ELSE 0 END AS admit_all
             |       FROM m1, t1),
             |g2 AS (SELECT lang, s, count(*) AS c, sum(l) AS b FROM sc
             |       WHERE is_cal GROUP BY 1, 2),
             |t2 AS (SELECT lang, sum(c) AS n, sum(b) AS nb FROM g2
             |       GROUP BY 1),
             |c2 AS (SELECT lang, s, sum(b) OVER
             |    (PARTITION BY lang ORDER BY s DESC) AS cb FROM g2),
             |m2 AS (SELECT c2.lang, min(s) AS tau FROM c2
             |       JOIN t2 ON t2.lang = c2.lang
             |       WHERE (cb + 1) * 10 <= (t2.n + 1) GROUP BY 1),
             |f2 AS (SELECT t2.lang, m2.tau,
             |         CASE WHEN (t2.nb + 1) * 10 <= (t2.n + 1)
             |           THEN 1 ELSE 0 END AS admit_all
             |       FROM t2 LEFT JOIN m2 ON m2.lang = t2.lang),
             |a1 AS (SELECT 'marginal' AS gate, 'ALL' AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN f1.admit_all = 1 OR (f1.tau IS NOT NULL
             |      AND sc.s >= f1.tau) THEN 1 ELSE 0 END) AS na,
             |    sum(CASE WHEN f1.admit_all = 1 OR (f1.tau IS NOT NULL
             |      AND sc.s >= f1.tau) THEN sc.l ELSE 0 END) AS la
             |  FROM sc, f1 WHERE is_hold),
             |a2 AS (SELECT 'mondrian' AS gate, sc.lang AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN f2.lang IS NOT NULL AND (f2.admit_all = 1
             |      OR (f2.tau IS NOT NULL AND sc.s >= f2.tau))
             |      THEN 1 ELSE 0 END) AS na,
             |    sum(CASE WHEN f2.lang IS NOT NULL AND (f2.admit_all = 1
             |      OR (f2.tau IS NOT NULL AND sc.s >= f2.tau))
             |      THEN sc.l ELSE 0 END) AS la
             |  FROM sc LEFT JOIN f2 ON f2.lang = sc.lang
             |  WHERE is_hold GROUP BY 2),
             |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2)
             |SELECT gate, grp, CAST(nh AS BIGINT) AS n_holdout,
             |  CAST(na AS BIGINT) AS n_admitted,
             |  CAST(la AS BIGINT) AS loss_admitted,
             |  CASE WHEN na = 0 THEN NULL
             |    ELSE CAST(la AS DOUBLE) / na END AS realized_risk,
             |  CAST(0.1 AS DOUBLE) AS promised,
             |  CAST(CASE WHEN la * 10 <= na THEN 1 ELSE 0 END
             |    AS BIGINT) AS meets_bound
             |FROM u""".stripMargin)),

    Q("q259_mondrian_conformal_interval",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // GROUP-CONDITIONAL (Mondrian) conformal interval — q256 per
        // language, completing the {threshold, interval} × {marginal,
        // Mondrian, weighted} matrix: each lang calibrates its own
        // q̂_g on its own slice of the %7==3 split, so
        // P(|n_chars − 6·tokens| ≤ q̂_g | lang) ≥ 90% holds PER
        // LANGUAGE (an easy lang's tight residuals cannot buy coverage
        // for a hard one). Same exact per-group order-statistic
        // arithmetic as q239 on the negated residual grid; a slice
        // that cannot fund a finite width gets the covering null
        // interval. Reported per lang over the apply split.
        val docs = tbl("documents")
        val toks = size(split(lower(col("text")), " "))
        val pred = (toks * 6).cast("long")
        operators.Classifier.conformalIntervalGateByGroup(
            docs.filter(col("doc_id") % 7 === 3),
            docs.filter(col("doc_id") % 7 =!= 3),
            Seq("lang"), pred, col("n_chars"),
            alphaNum = 1L, alphaDen = 10L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_apply"),
            sum(col("covered")).as("n_covered"),
            first(col("q_hat")).as("q_hat"),
            first(col("n_calib")).as("n_calib"),
            first(col("k")).as("k"))
          .withColumn("coverage",
            col("n_covered").cast("double") / col("n_apply"))
      },
      Some("""WITH sc AS (SELECT doc_id, lang,
             |    abs(n_chars - 6 * len(string_split(lower(text), ' ')))
             |      AS r,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |d AS (SELECT lang, r, count(*) AS c FROM sc WHERE is_cal
             |      GROUP BY 1, 2),
             |n AS (SELECT lang, sum(c) AS n FROM d GROUP BY 1),
             |cd AS (SELECT lang, r, sum(c) OVER
             |    (PARTITION BY lang ORDER BY r ASC) AS cum FROM d),
             |qh AS (SELECT cd.lang, CAST(min(r) AS DOUBLE) AS q
             |       FROM cd JOIN n ON n.lang = cd.lang
             |       WHERE cum * 10 >= (n.n + 1) * 9 GROUP BY 1),
             |kk AS (SELECT n.lang, CAST(n.n AS BIGINT) AS n_calib,
             |         CAST(((n.n + 1) * 9 + 9) // 10 AS BIGINT) AS k,
             |         qh.q
             |       FROM n LEFT JOIN qh ON qh.lang = n.lang)
             |SELECT sc.lang, CAST(count(*) AS BIGINT) AS n_apply,
             |  CAST(sum(CASE WHEN kk.q IS NULL OR sc.r <= kk.q
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
             |  any_value(kk.q) AS q_hat,
             |  any_value(kk.n_calib) AS n_calib, any_value(kk.k) AS k,
             |  CAST(sum(CASE WHEN kk.q IS NULL OR sc.r <= kk.q
             |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS coverage
             |FROM sc LEFT JOIN kk ON kk.lang = sc.lang
             |WHERE NOT is_cal GROUP BY sc.lang""".stripMargin)),

    Q("q260_conformal_pvalues",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // CONFORMAL P-VALUE TABLE — q243's evidence, materialized at
        // distinct-score grain: for every distinct apply-side token
        // count, the EXACT rational p-value (1 + #{junk-null calib
        // scores ≥ s}) / (n+1) as integer numerator/denominator plus
        // the double. Same null population and score as q243 (the
        // %7==3 split's < 40-token docs), so BH over this table at
        // q = 1/5 re-derives q243's s* exactly; downstream consumers
        // (any-q BH, p-value histograms for null diagnosis) read this
        // report×grid table instead of rescanning the corpus.
        val docs = tbl("documents")
        val score = size(split(lower(col("text")), " "))
        operators.Classifier.conformalPValues(
          docs.filter(col("doc_id") % 7 === 3 && score < 40),
          docs.filter(col("doc_id") % 7 =!= 3),
          score)
      },
      Some("""WITH sc AS (SELECT doc_id,
             |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE)
             |      AS s,
             |    doc_id % 7 = 3 AS is_cal FROM documents),
             |cal AS (SELECT s, count(*) AS cc FROM sc
             |        WHERE is_cal AND s < 40 GROUP BY 1),
             |app AS (SELECT s, count(*) AS ac FROM sc
             |        WHERE NOT is_cal GROUP BY 1),
             |u AS (SELECT coalesce(cal.s, app.s) AS s,
             |        coalesce(cc, 0) AS cc, coalesce(ac, 0) AS ac
             |      FROM cal FULL OUTER JOIN app ON cal.s = app.s),
             |tot AS (SELECT sum(cc) AS n FROM u),
             |cum AS (SELECT s, ac,
             |    sum(cc) OVER (ORDER BY s DESC) AS c FROM u)
             |SELECT s AS score, CAST(ac AS BIGINT) AS n_apply,
             |  CAST(c + 1 AS BIGINT) AS p_num,
             |  CAST(tot.n + 1 AS BIGINT) AS p_den,
             |  CAST(c + 1 AS DOUBLE) / (tot.n + 1) AS p_value
             |FROM cum, tot WHERE ac > 0""".stripMargin)),

    Q("q261_interval_coverage_audit",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // EMPIRICAL COVERAGE AUDIT of the INTERVAL gate family — q254's
        // sibling, closing the {threshold, interval} × {marginal,
        // Mondrian, weighted} × {gate, audit} matrix: q256's marginal,
        // q259's per-lang Mondrian and q257's per-source weighted
        // interval are each calibrated on the doc_id%7==3 split and
        // applied to the DISJOINT %7==5 holdout (the q254 audit split),
        // then coverageAudit counts the gates' `covered` evidence per
        // (gate, group) against the promised 1−α floor — meets_floor is
        // the same pure-integer inequality, the audit the same honest
        // REPORT (a fixed holdout can dip under the marginal guarantee;
        // the calibration-side bound is what CurationOpsSpec pins). The
        // weighted gate's likelihood ratios are estimated calib vs THIS
        // holdout, so the audit reads the gate exactly as deployed on
        // it. One report-grain aggregate per gate, zero corpus shuffle.
        val docs = tbl("documents")
        val toks = size(split(lower(col("text")), " "))
        val pred = (toks * 6).cast("long")
        val calib = docs.filter(col("doc_id") % 7 === 3)
        val hold = docs.filter(col("doc_id") % 7 === 5)
        val marginal = operators.Classifier.coverageAudit(
          operators.Classifier.conformalIntervalGate(calib, hold,
            pred, col("n_chars"), 1L, 10L),
          "interval_marginal", None, col("covered"), 1L, 10L)
        val mondrian = operators.Classifier.coverageAudit(
          operators.Classifier.conformalIntervalGateByGroup(calib, hold,
            Seq("lang"), pred, col("n_chars"), 1L, 10L),
          "interval_mondrian", Some("lang"), col("covered"), 1L, 10L)
        val weighted = operators.Classifier.coverageAudit(
          operators.Classifier.weightedConformalIntervalGate(calib, hold,
            "source", pred, col("n_chars"), 1L, 10L),
          "interval_weighted", Some("source"), col("covered"), 1L, 10L)
        marginal.unionByName(mondrian).unionByName(weighted)
      },
      Some("""WITH sc AS (SELECT doc_id, lang, source,
             |    CAST(abs(n_chars - 6 * len(string_split(lower(text),
             |      ' '))) AS DOUBLE) AS r,
             |    doc_id % 7 = 3 AS is_cal,
             |    doc_id % 7 = 5 AS is_hold FROM documents),
             |d1 AS (SELECT r, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |n1 AS (SELECT sum(c) AS n FROM d1),
             |cd1 AS (SELECT r, sum(c) OVER (ORDER BY r ASC) AS cum
             |        FROM d1),
             |q1 AS (SELECT min(r) AS q FROM cd1, n1
             |       WHERE cum * 10 >= (n1.n + 1) * 9),
             |d2 AS (SELECT lang, r, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1, 2),
             |n2 AS (SELECT lang, sum(c) AS n FROM d2 GROUP BY 1),
             |cd2 AS (SELECT lang, r, sum(c) OVER
             |    (PARTITION BY lang ORDER BY r ASC) AS cum FROM d2),
             |q2 AS (SELECT cd2.lang, min(r) AS q FROM cd2
             |       JOIN n2 ON n2.lang = cd2.lang
             |       WHERE cum * 10 >= (n2.n + 1) * 9 GROUP BY 1),
             |cg AS (SELECT source, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1),
             |ag AS (SELECT source, count(*) AS a FROM sc WHERE is_hold
             |       GROUP BY 1),
             |ct AS (SELECT sum(c) AS ct FROM cg),
             |at2 AS (SELECT sum(a) AS at FROM ag),
             |w AS (SELECT cg.source,
             |    CAST(round(1000000.0 * CAST(coalesce(ag.a, 0) * ct.ct
             |      AS DOUBLE) / CAST(cg.c * at2.at AS DOUBLE), 0)
             |      AS BIGINT) AS w6
             |  FROM cg LEFT JOIN ag USING (source), ct, at2),
             |dd AS (SELECT source, r, count(*) AS c FROM sc WHERE is_cal
             |       GROUP BY 1, 2),
             |dw AS (SELECT dd.r, sum(dd.c * w.w6) AS wcs
             |       FROM dd JOIN w USING (source) GROUP BY 1),
             |tw AS (SELECT sum(wcs) AS wtot FROM dw),
             |cw AS (SELECT r, sum(wcs) OVER (ORDER BY r ASC) AS cum
             |       FROM dw),
             |q3 AS (SELECT w.source, min(cw.r) AS q
             |       FROM cw, tw, w
             |       WHERE cw.cum * 10 >= (tw.wtot + w.w6) * 9
             |       GROUP BY 1),
             |a1 AS (SELECT 'interval_marginal' AS gate, 'ALL' AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN q1.q IS NULL OR sc.r <= q1.q
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc, q1 WHERE is_hold),
             |a2 AS (SELECT 'interval_mondrian' AS gate, sc.lang AS grp,
             |    count(*) AS nh,
             |    sum(CASE WHEN q2.q IS NULL OR sc.r <= q2.q
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc LEFT JOIN q2 ON q2.lang = sc.lang
             |  WHERE is_hold GROUP BY 2),
             |a3 AS (SELECT 'interval_weighted' AS gate,
             |    sc.source AS grp, count(*) AS nh,
             |    sum(CASE WHEN q3.q IS NULL OR sc.r <= q3.q
             |      THEN 1 ELSE 0 END) AS na
             |  FROM sc LEFT JOIN q3 ON q3.source = sc.source
             |  WHERE is_hold GROUP BY 2),
             |u AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2
             |      UNION ALL SELECT * FROM a3)
             |SELECT gate, grp, CAST(nh AS BIGINT) AS n_holdout,
             |  CAST(na AS BIGINT) AS n_accept,
             |  CAST(na AS DOUBLE) / nh AS coverage,
             |  CAST(0.9 AS DOUBLE) AS promised,
             |  CAST(CASE WHEN na * 10 >= 9 * nh THEN 1 ELSE 0 END
             |    AS BIGINT) AS meets_floor
             |FROM u""".stripMargin)),

    Q("q262_unimax_allocation",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // UniMax budget allocation (Chung et al. ICLR 2023) — the
        // TEMPERATURE-FREE mixture solve q202's epoch plan lacks:
        // distribute B = ⌊1.5 × corpus tokens⌋ UNIFORMLY across
        // languages under a 2-epoch cap, redistributing every capped
        // language's surplus to the open ones (water-filling on
        // capacity n_g·E). The capped set is decided by a PURE-INTEGER
        // prefix inequality in ascending-capacity order (one cumulative
        // window over the |langs|-row table), so the oracle replays the
        // whole solve exactly — on this fixture every non-en language
        // caps at 2 epochs and en absorbs the remainder, exercising
        // both branches and the uniform-share arithmetic.
        operators.Selection.unimaxAllocation(tbl("documents"), "lang",
          size(split(col("text"), " ")), budgetNum = 3L, budgetDen = 2L,
          epochNum = 2L, epochDen = 1L)
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS n_avail
             |  FROM documents GROUP BY 1),
             |t AS (SELECT sum(n_avail) AS N, count(*) AS G FROM a),
             |b AS (SELECT N * 3 // 2 AS B, G FROM t),
             |r AS (SELECT a.*, b.B, b.G,
             |    row_number() OVER (ORDER BY n_avail, lang) AS i,
             |    coalesce(sum(n_avail) OVER (ORDER BY n_avail, lang
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             |      0) AS pre
             |  FROM a, b),
             |c AS (SELECT *,
             |    n_avail * 2 * (G - i + 1) <= B * 1 - 2 * pre AS capped
             |  FROM r),
             |u AS (SELECT *,
             |    sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS ncap,
             |    coalesce(sum(CASE WHEN capped THEN n_avail END)
             |      OVER (), 0) AS captoks FROM c),
             |f AS (SELECT *, B * 1 - 2 * captoks AS runits,
             |    CASE WHEN capped THEN n_avail * CAST(2 AS DOUBLE) / 1
             |      ELSE CAST(runits AS DOUBLE) / (1 * CAST(G - ncap
             |        AS DOUBLE)) END AS alloc
             |  FROM u)
             |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_avail AS BIGINT) AS n_avail,
             |  CAST(B AS BIGINT) AS budget,
             |  round(alloc, 6) AS allocation,
             |  round(alloc / CAST(n_avail AS DOUBLE), 6) AS epochs,
             |  CAST(CASE WHEN capped THEN 1 ELSE 0 END AS BIGINT)
             |    AS capped,
             |  round(CASE WHEN ncap = G
             |    THEN CAST(runits AS DOUBLE) / 1 ELSE 0.0 END, 6)
             |    AS budget_left
             |FROM f""".stripMargin)),

    Q("q263_mixture_ess",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // MIXTURE FEASIBILITY / EFFECTIVE-SAMPLE-SIZE card (Kong 1992
        // importance-sampling ESS; the 1/(1+χ²(w‖p)) identity) — the
        // evaluation step between optimizing a mixture and
        // materializing it: reweighting the corpus's per-lang token
        // mass p_g to the sqrt-temperature target w_g ∝ √n_g, report
        // per lang the IS ratio w_g/p_g (= implied epochs at a
        // one-corpus-mass budget — the repetition the mixture demands)
        // and corpus-level the effective token count and fraction.
        // mixtureEss renormalizes the supplied card, so feeding the
        // UNnormalized √masses exercises the hygiene path; sqrt is
        // IEEE-exact in both engines, the |G|-row double sums sit
        // ~1e-12 under the round-6 grid.
        val docs = tbl("documents")
        val toks = size(split(col("text"), " "))
        val w = docs.groupBy(col("lang"))
          .agg(sum(toks.cast("long")).as("m"))
          .select(col("lang"), sqrt(col("m").cast("double")).as("w"))
        operators.Sampling.mixtureEss(docs, "lang", toks, w, "w")
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS n_avail
             |  FROM documents GROUP BY 1),
             |t AS (SELECT sum(n_avail) AS N,
             |    sum(sqrt(CAST(n_avail AS DOUBLE))) AS Z FROM a),
             |j AS (SELECT a.*, t.N,
             |    sqrt(CAST(n_avail AS DOUBLE)) / t.Z AS w,
             |    CAST(n_avail AS DOUBLE) / t.N AS p FROM a, t),
             |r AS (SELECT *, w / p AS ir FROM j),
             |s AS (SELECT sum(n_avail * ir) AS s1,
             |    sum(n_avail * ir * ir) AS s2 FROM r)
             |SELECT lang, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_avail AS BIGINT) AS n_avail,
             |  round(p, 6) AS p_frac, round(w, 6) AS w_target,
             |  round(ir, 6) AS is_ratio,
             |  round(s1 * s1 / s2, 2) AS ess_tokens,
             |  round(s1 * s1 / s2 / N, 6) AS ess_frac
             |FROM r, s""".stripMargin)),

    Q("q264_doremi_ess",
      (s, d) => { val ctx = new Ctx(s, d); import ctx._
        // the q175 composition discipline applied to mixture
        // EVALUATION: q172's optimized DoReMi card, passed through
        // mixtureEss against the corpus's own per-source token mass —
        // "how much effective data survives the learned mixture, and
        // what repetition does it demand per source". ONE oracle
        // replays the whole chain (both LMs → domain excess → MW
        // update → round-6 card → renormalization → χ² ESS), pinning
        // the coupling the per-stage oracles cannot see: the card
        // being audited is exactly the card that was optimized.
        implicit val ss = s
        val docs = tbl("documents")
        // ONE tokenize + unigram-count base trains both LMs (the
        // proxy and the reference read the same corpus slice — §2.4):
        // the corpus scan and the token-keyed vocab shuffle run once
        val (uniB, biB) = operators.Quality.uniAndBigramPerplexityBuckets(
          docs, "doc_id", "text")
        val uni = uniB.select(col("id").as("doc_id"), col("ppl").as("ppl_u"))
        val bi = biB.select(col("id").as("doc_id"), col("ppl").as("ppl_b"))
        val perDoc = docs.select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .join(uni, Seq("doc_id")).join(bi, Seq("doc_id"))
        val weights = Selection.doremiWeights(perDoc, "source",
          log(col("ppl_u")), log(col("ppl_b")), col("n_tok"),
          eta = 1.0, smoothing = 0.125)
        operators.Sampling.mixtureEss(docs, "source",
          size(split(col("text"), " ")), weights, "weight")
      },
      Some(s"""$DoremiCtes,
             |wt AS (SELECT source,
             |    round(0.875 * (upd / sup) + 0.125 / k, 6) AS w0
             |  FROM up, sm, k),
             |av AS (SELECT source, count(*) AS n_docs,
             |    sum(len(string_split(text, ' '))) AS n_avail
             |  FROM documents GROUP BY 1),
             |jw AS (SELECT av.*, coalesce(wt.w0, 0) AS w1
             |  FROM av LEFT JOIN wt USING (source)),
             |tw AS (SELECT sum(w1) AS sw, sum(n_avail) AS N FROM jw),
             |rr AS (SELECT jw.*, tw.N, w1 / tw.sw AS w,
             |    CAST(n_avail AS DOUBLE) / tw.N AS p,
             |    (w1 / tw.sw) / (CAST(n_avail AS DOUBLE) / tw.N) AS ir
             |  FROM jw, tw),
             |es AS (SELECT sum(n_avail * ir) AS s1,
             |    sum(n_avail * ir * ir) AS s2 FROM rr)
             |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_avail AS BIGINT) AS n_avail,
             |  round(p, 6) AS p_frac, round(w, 6) AS w_target,
             |  round(ir, 6) AS is_ratio,
             |  round(s1 * s1 / s2, 2) AS ess_tokens,
             |  round(s1 * s1 / s2 / N, 6) AS ess_frac
             |FROM rr, es""".stripMargin)))

  /** DuckDB replay of [[graft.operators.Multimodal.perceptualHashes]]
    * over the synthesized image corpus: the pixel formula
    * h = seed·1000003 + idx·0x9e3779b97f4a7c15 (mod 2^64, computed in
    * HUGEINT), rgb = (h >>> 24) & 0xffffff, integer BT.601 luma,
    * floor-NN grids, signed 64-bit packing (bit 63 contributes −2^63).
    * Shared by q164 (hash table) and q165 (near-dup pairs). */
  private object PerceptualSql {
    /** CTEs from a `mem(media_id, seed, delta)` relation to a
      * `hashes(media_id, ahash, dhash)` relation; `delta` is the
      * per-channel brightness shift (clamped at 255). */
    private val hashCtes =
      """dim AS (SELECT media_id, seed, delta, 8 + seed % 16 AS w,
        |    8 + (seed // 16) % 16 AS h FROM mem),
        |dg AS (SELECT media_id, seed, delta, w, gx, gy, (gy * h) // 8 AS sy,
        |    (gx * w) // 9 AS sxa, ((gx + 1) * w) // 9 AS sxb
        |  FROM dim, unnest(generate_series(0, 7)) AS t1(gx),
        |            unnest(generate_series(0, 7)) AS t2(gy)),
        |dpx AS (SELECT media_id, delta, gx, gy,
        |    CAST((CAST(seed AS HUGEINT) * 1000003
        |      + CAST(sy * w + sxa AS HUGEINT) * 11400714819323198485)
        |      % 18446744073709551616 // 16777216 % 16777216 AS BIGINT) AS ra,
        |    CAST((CAST(seed AS HUGEINT) * 1000003
        |      + CAST(sy * w + sxb AS HUGEINT) * 11400714819323198485)
        |      % 18446744073709551616 // 16777216 % 16777216 AS BIGINT) AS rb
        |  FROM dg),
        |dgr AS (SELECT media_id, gx, gy,
        |    (77 * least(ra // 65536 + delta, 255)
        |     + 150 * least(ra // 256 % 256 + delta, 255)
        |     + 29 * least(ra % 256 + delta, 255)) // 256 AS ga,
        |    (77 * least(rb // 65536 + delta, 255)
        |     + 150 * least(rb // 256 % 256 + delta, 255)
        |     + 29 * least(rb % 256 + delta, 255)) // 256 AS gb
        |  FROM dpx),
        |dh AS (SELECT media_id, CAST(sum(CASE WHEN ga > gb THEN
        |      CASE WHEN gy * 8 + gx = 63 THEN -9223372036854775808
        |           ELSE 1::BIGINT << (gy * 8 + gx) END
        |    ELSE 0 END) AS BIGINT) AS dhash FROM dgr GROUP BY 1),
        |ag AS (SELECT media_id, delta, i, w,
        |    ((i % 8) * w) // 8 AS sx, ((i // 8) * h) // 8 AS sy,
        |    seed FROM dim, unnest(generate_series(0, 63)) AS t(i)),
        |apx AS (SELECT media_id, delta, i,
        |    CAST((CAST(seed AS HUGEINT) * 1000003
        |      + CAST(sy * w + sx AS HUGEINT) * 11400714819323198485)
        |      % 18446744073709551616 // 16777216 % 16777216 AS BIGINT) AS rgb
        |  FROM ag),
        |agr AS (SELECT media_id, i,
        |    (77 * least(rgb // 65536 + delta, 255)
        |     + 150 * least(rgb // 256 % 256 + delta, 255)
        |     + 29 * least(rgb % 256 + delta, 255)) // 256 AS g
        |  FROM apx),
        |amn AS (SELECT media_id, CAST(sum(g) // 64 AS BIGINT) AS mean
        |  FROM agr GROUP BY 1),
        |ah AS (SELECT agr.media_id, CAST(sum(CASE WHEN g > mean THEN
        |      CASE WHEN i = 63 THEN -9223372036854775808
        |           ELSE 1::BIGINT << i END
        |    ELSE 0 END) AS BIGINT) AS ahash
        |  FROM agr JOIN amn ON amn.media_id = agr.media_id GROUP BY 1),
        |hashes AS (SELECT dh.media_id, ah.ahash, dh.dhash
        |  FROM dh JOIN ah ON ah.media_id = dh.media_id)""".stripMargin

    val hashTable: String =
      s"""WITH mem AS (SELECT doc_id AS media_id, doc_id AS seed,
         |    0 AS delta FROM documents),
         |$hashCtes
         |SELECT h.media_id, CAST(8 + d.seed % 16 AS BIGINT) AS width,
         |  CAST(8 + (d.seed // 16) % 16 AS BIGINT) AS height,
         |  h.ahash, h.dhash
         |FROM hashes h JOIN dim d ON d.media_id = h.media_id""".stripMargin

    /** q169: the sequential incremental protocol replayed — per batch,
      * drop iff within hamming 3 of any STORE signature (survivors
      * only, cascading across batches) or any smaller-id member of the
      * SAME batch (non-cascading in-batch), then fold survivors into
      * the store. */
    val incrementalSurvivors: String =
      s"""WITH mem AS (
         |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS delta,
         |      's' AS grp FROM documents WHERE doc_id % 3 <> 0
         |  UNION ALL SELECT doc_id, doc_id, 0, 'b1' FROM documents
         |    WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 0
         |  UNION ALL SELECT doc_id + 1000000, doc_id, 16, 'b1'
         |    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 13 = 0
         |  UNION ALL SELECT doc_id, doc_id, 0, 'b2' FROM documents
         |    WHERE doc_id % 3 = 0 AND (doc_id // 3) % 2 = 1
         |  UNION ALL SELECT doc_id + 2000000, doc_id, 0, 'b2'
         |    FROM documents WHERE doc_id % 3 = 0
         |      AND (doc_id // 3) % 2 = 0 AND doc_id % 5 = 0),
         |$hashCtes,
         |hg AS (SELECT h.media_id, h.dhash, m.grp
         |  FROM hashes h JOIN mem m ON m.media_id = h.media_id),
         |s0 AS (SELECT media_id, dhash FROM hg WHERE grp = 's'),
         |b1 AS (SELECT media_id, dhash FROM hg WHERE grp = 'b1'),
         |b2 AS (SELECT media_id, dhash FROM hg WHERE grp = 'b2'),
         |d1 AS (SELECT b.media_id FROM b1 b
         |  WHERE EXISTS (SELECT 1 FROM s0 s
         |      WHERE bit_count(xor(b.dhash, s.dhash)) <= 3)
         |    OR EXISTS (SELECT 1 FROM b1 o WHERE o.media_id < b.media_id
         |      AND bit_count(xor(b.dhash, o.dhash)) <= 3)),
         |s1 AS (SELECT * FROM s0 UNION ALL
         |  SELECT * FROM b1 WHERE media_id NOT IN
         |    (SELECT media_id FROM d1)),
         |d2 AS (SELECT b.media_id FROM b2 b
         |  WHERE EXISTS (SELECT 1 FROM s1 s
         |      WHERE bit_count(xor(b.dhash, s.dhash)) <= 3)
         |    OR EXISTS (SELECT 1 FROM b2 o WHERE o.media_id < b.media_id
         |      AND bit_count(xor(b.dhash, o.dhash)) <= 3))
         |SELECT media_id, 'b1' AS batch FROM b1
         |  WHERE media_id NOT IN (SELECT media_id FROM d1)
         |UNION ALL SELECT media_id, 'b2' FROM b2
         |  WHERE media_id NOT IN (SELECT media_id FROM d2)""".stripMargin

    val nearDupPairs: String =
      s"""WITH mem AS (
         |  SELECT doc_id AS media_id, doc_id AS seed, 0 AS delta
         |    FROM documents
         |  UNION ALL SELECT doc_id + 1000000, doc_id, 16 FROM documents
         |    WHERE doc_id % 13 = 0
         |  UNION ALL SELECT doc_id + 2000000, doc_id, 0 FROM documents
         |    WHERE doc_id % 17 = 0),
         |$hashCtes
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |FROM hashes a JOIN hashes b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 3""".stripMargin
  }

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
