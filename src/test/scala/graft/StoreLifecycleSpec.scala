package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Incremental, Lsh}

/** The signature-store lifecycle, once per [[Lsh.Kind]]: write, append,
  * a partial append caught by `validateStore` and repaired by
  * `rebuildBands`, a replayed `dedupSink` batch, compaction and forget.
  *
  * Each row builds rows (id, src) from a content index: rows with the
  * same index are duplicates under the kind's verify step, rows with
  * different indices are far apart. */
class StoreLifecycleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private case class Row(name: String, kind: Lsh.Kind, threshold: Double,
                         frame: Seq[(Long, Int)] => DataFrame)

  private def rows: Seq[Row] = {
    import spark.implicits._
    Seq(
      // disjoint tokens per index: Jaccard 1 within an index, 0 across
      Row("MinHash", Lsh.MinHash(), 0.9, r => r.map { case (id, k) =>
        (id, Seq.tabulate(6)(j => s"t${k}_$j").mkString(" "))
      }.toDF("id", "src")),
      // axis k, scaled by the id: cosine 1 within an index, 0 across
      Row("Hyperplane", Lsh.Hyperplane(), 0.95, r => r.map { case (id, k) =>
        (id, Array.tabulate(8)(j => if (j == k) (1 + id % 3).toFloat else 0.0f))
      }.toDF("id", "src")),
      // a seeded random word per index, the low bit flipped by the id:
      // Hamming ≤ 1 within an index, ~32 across
      Row("Pigeonhole", Lsh.Pigeonhole(3), 0.0, r => r.map { case (id, k) =>
        (id, new scala.util.Random(k).nextLong() ^ (id % 2))
      }.toDF("id", "src")))
  }

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  for (row <- rows) test(s"store lifecycle: ${row.name}") {
    val Row(name, kind, threshold, frame) = row
    val table = s"lifecycle_${name.toLowerCase}"
    val bands = s"${table}_bands"
    def count(t: String) = spark.table(t).count()
    def valid = Incremental.validateStore(kind, spark, table)
    def dedup(batch: Seq[(Long, Int)]) = ids(Incremental.dedupAgainst(kind,
      frame(batch), spark.table(table), "id", col("src"), threshold,
      storeBands = Some(spark.table(bands))))
    for (t <- Seq(table, bands)) spark.sql(s"DROP TABLE IF EXISTS $t")
    try {
      Incremental.writeStore(kind, frame(Seq(1L -> 0, 2L -> 1, 3L -> 2)),
        "id", col("src"), table, 4)
      Incremental.appendToStore(kind, frame(Seq(10L -> 3, 11L -> 4)),
        "id", col("src"), table, 4)
      assert(count(table) == 5 && count(bands) == 5L * kind.nBands)
      assert(valid)

      // partial append: the batch lands in the store but not in _bands
      graft.sources.ParquetSink.bucketed(
        kind.signatures(frame(Seq(20L -> 5)), "id", col("src")),
        table, Seq(kind.storeKey), 4,
        mode = org.apache.spark.sql.SaveMode.Append)
      assert(!valid)
      Incremental.rebuildBands(kind, spark, table, 4)
      assert(valid)

      // sink: 30 copies store row 1, 32 copies 31 within the batch; a
      // replay emits the same survivors and re-appends the batch
      val emitted = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      val sink = Incremental.dedupSink(kind, "id", col("src"), table, 4,
        threshold, emit = (df, _) => emitted += ids(df))
      val batchC = frame(Seq(30L -> 0, 31L -> 6, 32L -> 6))
      sink(batchC, 0L)
      sink(batchC, 0L)
      assert(emitted == Seq(Seq(31L), Seq(31L)), emitted.toString)
      assert(count(table) == 6 + 3 + 3)
      assert(valid)

      // compaction: one row per id, and the replayed rows decided nothing
      val batchD = Seq(40L -> 6, 41L -> 7)
      assert(dedup(batchD) == Seq(41L))
      Incremental.compactStore(kind, spark, table, 4)
      assert(count(table) == 9 && valid)
      assert(dedup(batchD) == Seq(41L))

      // forget: a copy of a forgotten row is re-admitted, a copy of a
      // remembered row still drops
      import spark.implicits._
      Incremental.forgetFromStore(kind, spark, Seq(1L, 30L).toDF("id"), table, 4)
      assert(valid)
      for (t <- Seq(table, bands))
        assert(spark.table(t).filter(col("id").isin(1L, 30L)).isEmpty, t)
      assert(dedup(Seq(50L -> 0, 51L -> 1)) == Seq(50L))
    } finally
      for (t <- Seq(table, bands)) spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
