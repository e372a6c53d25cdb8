package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructType}
import graft.operators.Checkpoints

/** JSONL corpus source — the training-data ingest staple (sharded,
  * append-friendly, splittable when uncompressed; gzip shards are NOT
  * splittable, same caveat as [[TsvSource]]).
  *
  * Always schema-pinned: schema inference would scan the corpus TWICE
  * at 100 TB (one pass to infer, one to read) and silently widen types
  * on dirty shards. Malformed lines are quarantined, not fatal:
  * PERMISSIVE mode captures the raw line in `_corrupt_record` so the
  * pipeline can count/route rejects through the DQ gates (the
  * reference's lenient-cast discipline, applied at the record level —
  * ref `glue_jobs/etl_movies_episodes_analytics_advanced.py` null
  * handling, re-expressed for semi-structured input). */
object JsonlSource {

  val CorruptCol = "_corrupt_record"

  /** Read `path` with the given schema; malformed lines land with all
    * data fields null and the raw text in [[CorruptCol]]. */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** [[quarantine]] result: `good` rows (quarantine column dropped) and
    * `corrupt` raw lines. Both read the shared parsed scan;
    * [[Checkpoints.release]] on either branch, once both are
    * materialized, frees it. */
  final case class Quarantined(good: DataFrame, corrupt: DataFrame)

  /** Split a [[read]] result into good vs corrupt rows. The parsed scan
    * is persisted and SHARED by both branches: Spark disallows a
    * corrupt-only projection of a raw JSON scan (it could not prune to
    * just `_corrupt_record` without re-parsing), and at corpus scale the
    * cache also stops the good/reject branches from parsing every shard
    * twice. */
  def quarantine(df0: DataFrame): Quarantined = Checkpoints.scoped { ck =>
    val df = ck.shared(df0)
    Quarantined(
      good = df.filter(df.col(CorruptCol).isNull).drop(CorruptCol),
      corrupt = df.filter(df.col(CorruptCol).isNotNull).select(CorruptCol))
  }
}
