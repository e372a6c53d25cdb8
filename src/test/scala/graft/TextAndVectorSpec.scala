package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Text, Vectors}
import graft.sources.Tables

class TextAndVectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("native shingles == HOF shingles (as sets, on real docs)") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val diff = docs.select(
        Text.shingles(lower(col("text")), 3).as("a"),
        Text.shinglesHof(lower(col("text")), 3).as("b"))
      .filter(size(array_except(col("a"), col("b"))) > 0 ||
              size(array_except(col("b"), col("a"))) > 0)
    assert(diff.count() == 0)
  }

  test("shingles edge cases: short text, duplicates") {
    val df = Seq("a b", "a b c d", "x x x x").toDF("text")
      .select(Text.shingles(col("text"), 3).as("s"))
    val got = df.collect().map(_.getSeq[String](0).toSeq).toSeq
    assert(got(0) == Seq("a", "b"))              // < n tokens → distinct tokens
    assert(got(1) == Seq("a b c", "b c d"))      // sliding windows
    assert(got(2) == Seq("x x x"))               // distinct collapses repeats
  }

  test("native cosine == HOF cosine bitwise on real embeddings") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(50)
    val a = emb.select(col("vec_id"), col("embedding").as("v1"))
    val b = emb.select(col("vec_id") + 1 as "vec_id", col("embedding").as("v2"))
    val joined = a.join(b, "vec_id")
    val diff = joined.select(
        Vectors.cosine(col("v1"), col("v2")).as("n"),
        Vectors.cosineHof(col("v1"), col("v2")).as("h"))
      .filter(col("n") =!= col("h"))
    assert(diff.count() == 0)
  }

  test("cosine of identical vectors is 1.0") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(10)
    val vals = emb.select(Vectors.cosine(col("embedding"), col("embedding")).as("c"))
      .collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-12))
  }

  test("quality score in [0,1]; langId deterministic") {
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val q = docs.select(Text.qualityScore(col("text"), Queries.Stopwords).as("q"))
      .agg(min("q"), max("q")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
    val l = docs.select(Text.langId(lower(col("text")), Queries.LangMarkers).as("l"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(l.subsetOf(Queries.LangMarkers.map(_._1).toSet + "und"))
  }

  test("canonical fingerprint invariant under token order; rollingHash is not") {
    val df = Seq(("a b c", "c b a"), ("x y", "x y")).toDF("t1", "t2").select(
      (Text.canonicalFingerprint(col("t1")) === Text.canonicalFingerprint(col("t2"))).as("cfEq"),
      (Text.rollingHash(col("t1")) === Text.rollingHash(col("t2"))).as("rhEq"))
    val rows = df.collect()
    assert(rows(0).getBoolean(0) && !rows(0).getBoolean(1))
    assert(rows(1).getBoolean(0) && rows(1).getBoolean(1))
  }

  test("hyperplane signature: deterministic, equal for equal vectors") {
    val emb = Tables(spark, TestSpark.sf0001, "embeddings").limit(20)
    val s1 = emb.select(Vectors.hyperplaneSignature(col("embedding"), 64).as("s"))
      .collect().map(_.getLong(0)).toSeq
    val s2 = emb.select(Vectors.hyperplaneSignature(col("embedding"), 64).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(s1 == s2)
  }

  test("minhash signature estimates jaccard (property)") {
    // two overlapping token sets with known jaccard 1/3
    val df = Seq(("a b c d", "c d e f")).toDF("t1", "t2").select(
      graft.plans.exprs.minhashSig(Text.shingles(col("t1"), 1), 256).as("s1"),
      graft.plans.exprs.minhashSig(Text.shingles(col("t2"), 1), 256).as("s2"))
    val r = df.select(
      size(filter(zip_with(col("s1"), col("s2"), (a, b) => a === b), x => x)).as("eq")).head()
    val est = r.getInt(0) / 256.0
    assert(math.abs(est - 1.0 / 3.0) < 0.15, s"estimate $est far from 1/3")
  }

  test("simhash: equal texts equal; near-dup texts close in hamming") {
    val df = Seq(
      ("the quick brown fox jumps over the lazy dog and runs far away home",
       "the quick brown fox jumps over the lazy dog and runs far away house"),
      ("completely different words entirely unrelated content here now",
       "the quick brown fox jumps over the lazy dog and runs far away home"))
      .toDF("t1", "t2").select(
        graft.operators.Dedup.simhash(col("t1")).as("h1"),
        graft.operators.Dedup.simhash(col("t2")).as("h2"))
    val rows = df.collect().map(r => java.lang.Long.bitCount(r.getLong(0) ^ r.getLong(1)))
    assert(rows(0) < rows(1), s"near-dup hamming ${rows(0)} !< unrelated ${rows(1)}")
  }

  test("topNgramFrac: repetition fraction of the dominant word n-gram") {
    val df = Seq(
      ("a b a b a b", 1.0),        // "a b" x3 of 5 bigrams covers 6/6 tokens
      ("x y z", 2.0 / 3),          // all bigrams unique -> 2/3
      ("x", 0.0),                  // fewer tokens than n
      ("loop loop loop loop", 1.0) // degenerate self-repeat
    ).toDF("t", "expected")
    val rows = df.select(graft.plans.exprs.topNgramFrac(col("t"), 2).as("got"),
      col("expected")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9,
      s"${r.getDouble(0)} vs ${r.getDouble(1)}"))
    // trigram on a doc with a repeated phrase beats unrelated text
    val tri = Seq(("the cat sat the cat sat the cat sat", "all words differ here now"))
      .toDF("rep", "clean")
      .select(graft.plans.exprs.topNgramFrac(col("rep"), 3).as("r"),
        graft.plans.exprs.topNgramFrac(col("clean"), 3).as("c")).head()
    assert(tri.getDouble(0) === 1.0 && tri.getDouble(1) < 0.7)
  }

  test("redactPii: emails and long digit runs masked, short numbers kept") {
    import spark.implicits._
    val rows = Seq(
      "mail a.user+tag@sub.example.co.uk now",     // full rfc-ish address
      "acct 123456789 and pin 12345",              // 6+ digits vs 5 digits
      "two a@b.io b@c.io hits",                    // multiple matches
      "clean text with no pii at all",             // identity
      "edge 999999@example.com done")              // digits inside an email
      .toDF("t").select(graft.functions.Text.redactPii($"t")).as[String].collect()
    assert(rows(0) == "mail <EMAIL> now")
    assert(rows(1) == "acct <NUM> and pin 12345")
    assert(rows(2) == "two <EMAIL> <EMAIL> hits")
    assert(rows(3) == "clean text with no pii at all")
    // email-first ordering: the digits are consumed by the email mask,
    // not split into a partial <NUM> that breaks the address pattern
    assert(rows(4) == "edge <EMAIL> done")
  }

  test("redactPii taxonomy: ip/ssn/phone shapes masked, boundary guards hold") {
    import spark.implicits._
    val rows = Seq(
      "srv 10.0.42.7 up",                           // dotted quad
      "ssn 234-56-7890 ok",                         // 3-2-4
      "call 555-123-4567 now",                      // 3-3-4 with dashes
      "dot 555.123.4567 form",                      // 3-3-4 with dots
      "ver v1.2.3.4 and 1234.5.6.7890 kept",        // \b guards: no match
      "x555-123-4567y glued kept",                  // \b guards: no match
      "pay 4111-1111-1111-1234 card",               // 4-4-4-4 dashed
      "over 4111-1111-1111-12345 kept",             // 5-digit tail: no match
      "mix u7@x.io 10.1.2.3 5555-4444-3333-2222 111-22-3333 222-333-4444 9876543 end")
      .toDF("t").select(graft.functions.Text.redactPii($"t")).as[String].collect()
    assert(rows(0) == "srv <IP> up")
    assert(rows(1) == "ssn <SSN> ok")
    assert(rows(2) == "call <PHONE> now")
    assert(rows(3) == "dot <PHONE> form")
    assert(rows(4) == "ver v1.2.3.4 and 1234.5.6.7890 kept")
    assert(rows(5) == "x555-123-4567y glued kept")
    assert(rows(6) == "pay <CARD> card")
    assert(rows(7) == "over 4111-1111-1111-12345 kept")
    // every category in one string, each matched by its own tag
    assert(rows(8) == "mix <EMAIL> <IP> <CARD> <SSN> <PHONE> <NUM> end")
  }

  test("bm25: matches a driver-side reference; rare terms outrank common ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "hash hash hash pad"),   // tf=3 on a common term
      (2L, "hash pad pad pad"),     // tf=1, same dl → lower than doc 1
      (3L, "rare pad pad pad"),     // tf=1 on a term only here → idf boost
      (4L, "pad pad pad pad"))      // no query term → absent from output
      .toDF("doc_id", "text")
    val got = graft.operators.Retrieval
      .bm25(docs, "doc_id", "text", Seq("hash", "rare"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(!got.contains(4L))
    // driver-side reference, same formula
    val (k1, b, n, avgdl) = (1.2, 0.75, 4.0, 4.0)
    def idf(df: Double) = math.log(1 + (n - df + 0.5) / (df + 0.5))
    def part(i: Double, f: Double, dl: Double) =
      i * f * (k1 + 1) / (f + k1 * (1 - b + b * dl / avgdl))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == r6(part(idf(2), 3, 4)), got.toString)
    assert(got(2L) == r6(part(idf(2), 1, 4)), got.toString)
    assert(got(3L) == r6(part(idf(1), 1, 4)), got.toString)
    assert(got(1L) > got(2L))
    // equal tf and dl: the rarer term scores strictly higher
    assert(got(3L) > got(2L))
  }

  test("rrfFuse: both-list docs outrank one-list docs, symmetric ties break by id") {
    import spark.implicits._
    // q1: doc 10 in both lists, 11 sparse-only, 12 dense-only; docs 11
    // and 12 hold SYMMETRIC ranks (2 sparse / 2 dense) → exact rrf tie,
    // broken by id. q2: dense-only — the full-outer edge.
    val sparse = Seq((1L, 10L, 1L), (1L, 11L, 2L), (2L, 20L, 1L))
      .toDF("query_id", "id", "rank")
    val dense = Seq((1L, 10L, 3L), (1L, 12L, 2L), (2L, 21L, 1L))
      .toDF("query_id", "id", "rank")
    val got = graft.operators.Retrieval.rrfFuse(sparse, dense, kRrf = 60, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 10L)) == (r6(1.0 / 61 + 1.0 / 63), 1L)) // both lists win
    assert(got((1L, 11L)) == (r6(1.0 / 62), 2L)) // tie with 12: lower id first
    assert(got((1L, 12L)) == (r6(1.0 / 62), 3L))
    assert(got((2L, 20L))._2 == 1L && got((2L, 21L))._2 == 2L) // tie: 20 < 21
    assert(got.size == 5)
  }

  test("quantizeInt8: codes bounded, extremes pinned, error within half-step, zeros safe") {
    import spark.implicits._
    import graft.functions.Vectors
    val df = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),  // max-abs element → ±127
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f)),    // all-zero: scale 0 guard
      (3L, Array(1e-8f, -1e-8f, 1e-8f, 0.0f)))  // tiny but nonzero scale
      .toDF("vec_id", "v")
    val rows = df.select(col("vec_id"), Vectors.quantScale(col("v")).as("s"),
        Vectors.quantizeInt8(col("v")).as("q"), col("v")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Long](2), r.getSeq[Float](3)))
    rows.foreach { case (id, s, q, v) =>
      assert(q.forall(x => x >= -127 && x <= 127), s"$id: $q")
      // roundtrip error bounded by half a quantization step
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(x.toDouble - (if (s == 0) 0.0 else qi * s / 127)) <=
          (if (s == 0) 0.0 else s / 254 + 1e-12), s"$id: $x vs $qi")
      }
    }
    val m = rows.map(r => r._1 -> r).toMap
    assert(m(1L)._3 == Seq(64L, -127L, 32L, 0L))
    assert(m(2L)._3 == Seq(0L, 0L, 0L, 0L) && m(2L)._2 == 0.0)
    assert(m(3L)._3.max == 127L)
  }

  test("custom expressions fail ANALYSIS on mistyped input, not executor runtime") {
    // every native kernel declares checkInputDataTypes: a wrong child type
    // must surface as a clear analysis error (AsOfJoin.requireOrderable
    // precedent), never a ClassCastException inside generated code
    val df = Seq((1L, Array(1, 2, 3))).toDF("n", "ints")
    def analysisFails(c: org.apache.spark.sql.Column, frag: String): Unit = {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        df.select(c).collect()
      }
      assert(e.getMessage.toLowerCase.contains(frag), e.getMessage)
    }
    analysisFails(graft.plans.exprs.hashTokens64(col("ints")), "array<string>")
    analysisFails(graft.plans.exprs.minhashSig(col("n"), 16), "array<string>")
    analysisFails(graft.plans.exprs.simhash64(col("ints")), "array<string>")
    analysisFails(graft.plans.exprs.tokenRollingHash(col("n")), "array<string>")
    analysisFails(graft.plans.exprs.wordShingles(col("n"), 2), "string")
    analysisFails(graft.plans.exprs.hyperplaneSig(col("ints"), 8), "array<float|double>")
    analysisFails(graft.plans.exprs.cosineSim(col("ints"), col("ints")), "array<float|double>")
  }

  test("ANN input hardening: null cell_id, ragged vector, array-equality") {
    import graft.operators.Similarity
    // null cell_id must fail loudly, not unbox to 0L and collide with a
    // real cell 0
    val nullCell = Seq((Some(1L), Array(1.0, 0.0)), (None, Array(0.0, 1.0)))
      .toDF("cell_id", "centroid")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.collectCentroids(nullCell)
    }
    assert(e1.getMessage.contains("null cell_id"), e1.getMessage)
    // a wrong-dimension input vector must error, not silently score a
    // prefix dot product into a plausible-but-wrong cell
    val e2 = intercept[IllegalArgumentException] {
      graft.plans.VectorOps.nearestCells(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(Array(1.0, 2.0, 3.0)),
        false, Array(0L, 1L), Array(1.0, 0.0, 0.0, 1.0), 1)
    }
    assert(e2.getMessage.contains("vector dim 3"), e2.getMessage)
    // equality must be content-based so canonicalization/subexpression
    // elimination works across separately-collected identical centroid sets
    import org.apache.spark.sql.graftbridge.ColumnBridge.expression
    val child = expression(col("v")) // shared: isolate the ARRAY fields
    def mk(centers: Array[Double]) =
      graft.plans.NearestCells(child, Array(0L, 1L), centers, 1)
    val (a, b) = (mk(Array(1.0, 0.0, 0.0, 1.0)), mk(Array(1.0, 0.0, 0.0, 1.0)))
    assert(a == b && a.hashCode == b.hashCode)
    assert(a.semanticEquals(b))
    assert(a != mk(Array(1.0, 0.0, 0.0, 0.5)))
  }

  test("nearestCellQuantized: kernel == the greatest()-struct fold it " +
       "replaces, at a centroid count past the fold's codegen comfort") {
    val rnd = new scala.util.Random(20251)
    val nCells = 300
    val dim = 8
    val cents = Seq.tabulate(nCells)(i =>
      ((i + 1).toLong, Array.fill(dim)(rnd.nextDouble() * 2 - 1)))
    val rows = Seq.tabulate(200)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "v")
    val cellIds = cents.map(_._1).toArray
    val matrix = cents.flatMap(_._2).toArray
    // the r19 form: one greatest() over per-centroid (s4, -id, id)
    // structs — semantically the spec of the kernel
    val fold = {
      val structs = cents.map { case (cid, c) =>
        struct(
          round(Vectors.cosine(col("v"), typedLit(c.toSeq)) * lit(1e4), 0)
            .cast("long").as("s4"),
          lit(-cid).as("negid"), lit(cid).as("cid"))
      }
      greatest(structs: _*).getField("cid")
    }
    val diff = rows.select(col("id"),
        graft.plans.exprs.nearestCellQuantized(col("v"), cellIds, matrix,
          1e4).as("k"),
        fold.as("f"))
      .filter(col("k") =!= col("f"))
    assert(diff.count() == 0,
      s"kernel diverges from the struct fold: ${diff.take(3).mkString}")
    // quantized ties break to the SMALLER cell id: two identical
    // centroids under different ids
    val c0 = Array(1.0, 0.0)
    val tie = Seq((0L, Array(0.6f, 0.8f))).toDF("id", "v")
      .select(graft.plans.exprs.nearestCellQuantized(col("v"),
        Array(7L, 3L), c0 ++ c0, 1e4))
      .head().getLong(0)
    assert(tie == 3L, s"tie must break to the smaller id, got $tie")
    // a zero vector's cosines are all NaN — selection stays TOTAL
    // (smallest id wins), where the struct fold's ANSI NaN→long cast
    // threw; this is the nearestCells never-preferred reading
    val zv = Seq((0L, Array(0.0f, 0.0f))).toDF("id", "v")
      .select(graft.plans.exprs.nearestCellQuantized(col("v"),
        Array(7L, 3L), Array(1.0, 0.0, 0.0, 1.0), 1e4))
      .head().getLong(0)
    assert(zv == 3L, s"NaN row must fall to the smallest id, got $zv")
    // wrong-dimension vectors fail loudly (the nearestCells contract)
    val e = intercept[Exception] {
      Seq((0L, Array(1.0f, 0.0f, 0.0f))).toDF("id", "v")
        .select(graft.plans.exprs.nearestCellQuantized(col("v"),
          Array(1L), Array(1.0, 0.0), 1e4)).collect()
    }
    assert(e.getMessage != null)
    // content-based equality (canonicalization across identical sets)
    import org.apache.spark.sql.graftbridge.ColumnBridge.expression
    val child = expression(col("v"))
    def mk(m: Array[Double]) =
      graft.plans.NearestCellQuantized(child, Array(0L, 1L), m, 1e4)
    val (a, b) = (mk(Array(1.0, 0.0, 0.0, 1.0)), mk(Array(1.0, 0.0, 0.0, 1.0)))
    assert(a == b && a.hashCode == b.hashCode && a.semanticEquals(b))
    assert(a != mk(Array(1.0, 0.0, 0.0, 0.5)))
  }

  test("knownItemEval: reciprocal ranks, missed probe scores 0, MRR") {
    import graft.operators.Retrieval
    // doc 1's unique term ranks itself first; doc 2 probes with a term
    // it does not contain, so its own doc never enters the top-k
    val docs = Seq(
      (1L, "alpha alpha unique1 filler"),
      (2L, "beta beta filler common"),
      (3L, "common common common filler")
    ).toDF("doc_id", "text")
    val probes = Seq(
      (1L, Seq("unique1")),
      (2L, Seq("common"))
    ).toDF("query_id", "terms")
    val top = Retrieval.bm25TopK(docs, "doc_id", "text", probes,
      "query_id", "terms", k = 2)
    val got = Retrieval.knownItemEval(top, probes, "query_id", "id")
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getDouble(2),
          r.getDouble(3))).toMap
    assert(got(1L) == ((1L, 1.0, got(1L)._3)))
    // query 2: 'common' matches docs 3 (3 hits) and 2 (1 hit); doc 2
    // ranks 2nd in top-2 → rr = 0.5
    assert(got(2L)._1 == 2L && got(2L)._2 == 0.5)
    assert(math.abs(got(1L)._3 - 0.75) < 1e-9) // MRR = (1 + 0.5)/2
  }

  test("compressionRatio: repetition separates from natural text; " +
       "empty is 0; interpreted eval == codegen kernel") {
    val docs = Seq(
      ("nat", "the quick brown fox jumps over the lazy dog and then " +
        "some more varied words appear here without obvious repeats"),
      ("rep", ("spam " * 40).trim),
      ("empty", "")).toDF("kind", "text")
    val out = docs.select($"kind",
        Text.compressionRatio($"text").as("r")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("empty") == 0.0)
    assert(out("rep") < 0.2, s"repetitive ratio ${out("rep")}")
    assert(out("nat") > out("rep") + 0.3, s"no separation: $out")
    assert(out("nat") > 0.0 && out("nat") <= 1.05)
    // kernel parity: the interpreted eval path (used off-codegen) must
    // match what the compiled plan produced
    val interp = graft.plans.VectorOps.deflatedLength(
      org.apache.spark.unsafe.types.UTF8String.fromString(("spam " * 40).trim))
    val raw = ("spam " * 40).trim.getBytes("UTF-8").length
    assert(math.abs(out("rep") - interp.toDouble / raw) < 1e-12)
  }

  test("rankBiasedOverlap: hand arithmetic, truncation residual, " +
       "disjoint zero, symmetry") {
    import graft.operators.Retrieval
    def run(rows: Seq[(Long, Long, Long)]) =
      rows.toDF("query_id", "id", "rank")
    // A=[1,2,3] vs B=[2,1,3] at p=0.5, D=3: agreements 0/1, 2/2, 3/3
    // → rbo = 0.5·(0·1 + 1·0.5 + 1·0.25) = 0.375
    val a = run(Seq((1L, 1L, 1L), (1L, 2L, 2L), (1L, 3L, 3L)))
    val b = run(Seq((1L, 2L, 1L), (1L, 1L, 2L), (1L, 3L, 3L)))
    val r1 = Retrieval.rankBiasedOverlap(a, b, "query_id", "id", "rank",
      depth = 3, p = 0.5).collect().head
    assert(r1.getAs[Double]("rbo") == 0.375 &&
      r1.getAs[Long]("n_shared") == 3L)
    // identical lists: prefix-truncated RBO = 1 − p^D, NOT 1 — the
    // truncation residual is part of the definition
    val r2 = Retrieval.rankBiasedOverlap(a, a, "query_id", "id", "rank",
      depth = 3, p = 0.5).collect().head
    assert(r2.getAs[Double]("rbo") == 0.875) // 1 − 0.5³
    // disjoint lists → 0 with the query still reported
    val c = run(Seq((1L, 7L, 1L), (1L, 8L, 2L), (1L, 9L, 3L)))
    val r3 = Retrieval.rankBiasedOverlap(a, c, "query_id", "id", "rank",
      depth = 3, p = 0.5).collect().head
    assert(r3.getAs[Double]("rbo") == 0.0 &&
      r3.getAs[Long]("n_shared") == 0L)
    // a query whose rows all rank below the depth emits no row
    val deep = run(Seq((2L, 1L, 4L), (2L, 2L, 5L)))
    val r4 = Retrieval.rankBiasedOverlap(a.unionByName(deep),
      b.unionByName(deep), "query_id", "id", "rank", depth = 3, p = 0.5)
      .collect()
    assert(r4.map(_.getAs[Long]("query_id")).toSeq == Seq(1L) &&
      r4.head.getAs[Double]("rbo") == 0.375)
    // symmetry on real ranked lists (RBO(A,B) == RBO(B,A))
    val docs = Tables(spark, TestSpark.sf0001, "documents")
    val probes = Seq((1L, Seq("hash", "filter")), (2L, Seq("window")))
      .toDF("query_id", "terms")
    val ra = Retrieval.bm25TopK(docs, "doc_id", "text", probes,
      "query_id", "terms", k = 10)
    val rb = Retrieval.bm25TopK(docs, "doc_id", "text", probes,
      "query_id", "terms", k = 10, k1 = 2.0, b = 0.25)
    def m(x: org.apache.spark.sql.DataFrame) = x.collect()
      .map(r => r.getAs[Long]("query_id") ->
        ((r.getAs[Double]("rbo"), r.getAs[Long]("n_shared")))).toMap
    val ab = m(Retrieval.rankBiasedOverlap(ra, rb, "query_id", "id",
      "rank", depth = 10))
    val ba = m(Retrieval.rankBiasedOverlap(rb, ra, "query_id", "id",
      "rank", depth = 10))
    assert(ab == ba && ab.nonEmpty)
    assert(ab.values.forall { case (v, _) => v >= 0.0 && v <= 1.0 })
  }
}
