package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Text, Vectors}

/** Banded LSH with the signature family as a parameter: one band
  * explode, one candidate join and one id re-join verify, shared by the
  * self-join pair operators ([[Dedup.minhashLshPairs]],
  * [[Dedup.embeddingDupPairs]], [[Dedup.hammingDupPairs]]) and the
  * incremental signature stores ([[Incremental]]).
  *
  * Candidate generation ships only (band, bucket, id) through the
  * banded shuffle; the verify step re-joins each candidate's payload
  * (hashed shingle set, vector or 64-bit fingerprint) by id. Band
  * values are computed from a Scala-level array of many syntactic
  * references to the signature column, so CollapseProject keeps the
  * signature in its own projection instead of inlining it per band. */
object Lsh {

  /** How a signature family is computed, banded, stored and verified.
    * A signature table ([[encode]]'s output) has columns `id`, the
    * kind's [[payload]], and the kind's signature columns; its store
    * has the derived `_bands` layout. Each kind carries its own verify
    * bound. */
  sealed trait Kind extends Incremental.StoreKind {
    /** Band rows per signature. */
    def nBands: Int
    /** Column the verify step compares. */
    def payload: String
    /** The `nBands` band values over a signature table's columns. */
    private[operators] def bandCols: Seq[Column]
    /** The rows of `pairs` whose payloads `a` and `b` verify, with
      * their `score`. */
    private[operators] def verify(pairs: DataFrame, a: Column, b: Column): DataFrame
    private[operators] def bandRows: Option[DataFrame => DataFrame] =
      Some(Lsh.bands(this, _))
    /** `table_bands` agrees with `table`: every store id appears in the
      * band table exactly `nBands` times per store row. */
    private[operators] def valid(spark: SparkSession, table: String): Boolean = {
      val storeIds = spark.table(table).groupBy("id")
        .agg(count(lit(1)).as("n_sig"))
      val bandIds = spark.table(s"${table}_bands").groupBy("id")
        .agg(count(lit(1)).as("n_band"))
      storeIds.join(bandIds, Seq("id"), "full_outer")
        .filter(col("n_sig").isNull || col("n_band").isNull ||
          col("n_band") =!= col("n_sig") * nBands)
        .isEmpty
    }
  }

  /** MinHash over lower-cased `shingleLen`-grams, `bands × rowsPerBand`
    * hash families. Signature table (id, content_hash, shh, sig):
    *  - `content_hash`: md5 of the raw text, the exact-dup key;
    *  - `shh`: sorted 8-byte hashed shingle ids, for exact-Jaccard
    *    verification without storing text (distinct shingles stay
    *    distinct w.h.p., so intersection counts are unchanged);
    *  - `sig`: the MinHash signature. Band b's value is a hash of its
    *    `rowsPerBand`-long slice, salted by b.
    * Verify: Jaccard ≥ `threshold`. With the 32×2 default a pair at
    * Jaccard j is missed with prob (1−j²)^32. */
  final case class MinHash(threshold: Double, shingleLen: Int = 3,
                           bands: Int = 32, rowsPerBand: Int = 2) extends Kind {
    def nBands: Int = bands
    def storeKey: String = "content_hash"
    def payload: String = "shh"
    def encode(df: DataFrame, idCol: String, src: Column): DataFrame =
      df.select(col(idCol).as("id"), md5(src).as("content_hash"),
          array_distinct(Text.shingles(lower(src), shingleLen)).as("sh"))
        .select(col("id"), col("content_hash"),
          graft.plans.exprs.hashTokens64(col("sh")).as("shh"),
          graft.plans.exprs.minhashSig(col("sh"), bands * rowsPerBand).as("sig"))
    private[operators] def bandCols: Seq[Column] =
      (0 until bands).map(b => xxhash64(
        concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)), lit(b)))
    private[operators] def verify(pairs: DataFrame, a: Column, b: Column): DataFrame =
      pairs.withColumn("inter", size(array_intersect(a, b)).cast("double"))
        .withColumn("score", col("inter") / (size(a) + size(b) - col("inter")))
        .filter(col("score") >= threshold)
  }

  /** Random-hyperplane signatures of a vector: `bands × bitsPerBand`
    * planes in 64-bit words `sig_0..sig_{w-1}`; band b is the
    * `bitsPerBand`-bit slice of its word (bands never straddle words).
    * Signature table (id, v, sig_0..). Verify: cosine ≥ `threshold`. A
    * pair at cosine c is missed with prob
    * (1 − (1−acos(c)/π)^bitsPerBand)^bands, ≈ 3e-6 at c = 0.95 with the
    * 64×16 default (see [[Dedup.embeddingDupPairs]] for why 16-bit
    * bands). */
  final case class Hyperplane(threshold: Double, bands: Int = 64,
                              bitsPerBand: Int = 16) extends Kind {
    require(64 % bitsPerBand == 0, "bitsPerBand must divide 64 (bands may not straddle words)")
    def nBands: Int = bands
    def storeKey: String = "id"
    def payload: String = "v"
    def encode(df: DataFrame, idCol: String, src: Column): DataFrame = {
      val planes = bands * bitsPerBand
      val words = (0 until (planes + 63) / 64).map { wd =>
        Vectors.hyperplaneSignature(col("v"), math.min(64, planes - wd * 64), wd * 64)
          .as(s"sig_$wd")
      }
      df.select(col(idCol).as("id"), src.as("v"))
        .select(col("id") +: col("v") +: words: _*)
    }
    private[operators] def bandCols: Seq[Column] =
      (0 until bands).map { b =>
        shiftright(col(s"sig_${b * bitsPerBand / 64}"), b * bitsPerBand % 64)
          .bitwiseAND((1L << bitsPerBand) - 1)
      }
    private[operators] def verify(pairs: DataFrame, a: Column, b: Column): DataFrame =
      pairs.withColumn("score", Vectors.cosine(a, b))
        .filter(col("score") >= threshold)
  }

  /** Manku's pigeonhole bands over a 64-bit fingerprint `sh`: the bits
    * split into maxHamming+1 slices, so two fingerprints within
    * `maxHamming` bits match exactly on at least one slice. Signature
    * table (id, sh). Verify: popcount of the XOR ≤ `maxHamming`; recall
    * is exact. */
  final case class Pigeonhole(maxHamming: Int = 3) extends Kind {
    require(maxHamming >= 0 && maxHamming < 64, "maxHamming must be in [0, 64)")
    def nBands: Int = maxHamming + 1
    def storeKey: String = "id"
    def payload: String = "sh"
    def encode(df: DataFrame, idCol: String, src: Column): DataFrame =
      df.select(col(idCol).as("id"), src.as("sh"))
    private[operators] def bandCols: Seq[Column] = {
      val width = 64 / nBands
      (0 until nBands).map { b =>
        val lo = b * width
        val w = if (b == nBands - 1) 64 - lo else width
        val mask = if (w == 64) -1L else (1L << w) - 1
        shiftrightunsigned(col("sh"), lo).bitwiseAND(lit(mask))
      }
    }
    private[operators] def verify(pairs: DataFrame, a: Column, b: Column): DataFrame =
      pairs.withColumn("score", bit_count(a.bitwiseXOR(b)))
        .filter(col("score") <= maxHamming)
  }

  /** The (band, bucket, id) rows of a signature table: one per band per
    * signature, in the join-key layout of a store's `_bands` table. */
  private[operators] def bands(kind: Kind, sig: DataFrame): DataFrame =
    sig.select(col("id"), posexplode(array(kind.bandCols: _*)).as(Seq("band", "bucket")))
      .select("band", "bucket", "id")

  private def bucketJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("band"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("band"), col("bucket"), col("id").as("id_b")),
        Seq("band", "bucket"))

  /** Distinct (id_a, id_b) pairs of two band tables that share a
    * (band, bucket). */
  private[operators] def crossCandidates(a: DataFrame,
                                         b: DataFrame): DataFrame =
    bucketJoin(a, b).select("id_a", "id_b").distinct()

  /** Distinct (id_a, id_b) pairs of one band table that share a (band,
    * bucket), with id_a < id_b. */
  private[operators] def selfCandidates(banded: DataFrame): DataFrame =
    bucketJoin(banded, banded).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

  /** The candidates whose payloads verify, as (id_a, id_b, score):
    * id_a's payload re-joins from signature table `a`, id_b's from `b`. */
  private[operators] def verified(kind: Kind, cand: DataFrame, a: DataFrame,
                                  b: DataFrame): DataFrame =
    kind.verify(cand
        .join(a.select(col("id").as("id_a"), col(kind.payload).as("p_a")), Seq("id_a"))
        .join(b.select(col("id").as("id_b"), col(kind.payload).as("p_b")), Seq("id_b")),
      col("p_a"), col("p_b"))
      .select("id_a", "id_b", "score")

  /** Verified pairs within one signature table, id_a < id_b. */
  private[operators] def selfPairs(kind: Kind, sig: DataFrame): DataFrame =
    verified(kind, selfCandidates(bands(kind, sig)), sig, sig)
}
