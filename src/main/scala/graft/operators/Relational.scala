package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable relational operators re-expressing the reference's recurring
  * plan shapes Spark-first (SURVEY §2.4–§2.8). Each returns a lazy
  * DataFrame so Catalyst can push filters/pruning through it.
  */
object Relational {

  /** Per-group top-k via ranking window (ref W1/W3/O2: top-3 cast,
    * top-25 per genre×decade). `orderCols` must make ordering total
    * (include a unique tiebreaker) for deterministic results. */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column],
                   orderCols: Seq[Column], k: Int,
                   rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol,
        row_number().over(Window.partitionBy(partitionCols: _*).orderBy(orderCols: _*)))
      .filter(col(rankCol) <= k)

  /** Mark rows whose key appears in `marks` with a 0/1 flag — the
    * reference's oscar-flag pattern (ref J5/C5), expressed as a left join
    * against a DISTINCT, BROADCAST build side: at 100 TB the fact side
    * never shuffles; the small mark set ships to every executor. */
  def flagJoin(df: DataFrame, key: Column, marks: DataFrame, markKey: Column,
               flagName: String): DataFrame = {
    val build = broadcast(marks.select(markKey.as("__mark_key")).distinct()
      .withColumn("__flag", lit(1L)))
    df.join(build, key === col("__mark_key"), "left")
      .withColumn(flagName, coalesce(col("__flag"), lit(0L)))
      .drop("__mark_key", "__flag")
  }

  /** Restrict to the latest slice of `sliceCol` (ref J12/A9/I3: the
    * `max(run_date)` consumer pattern). Implemented as a cross join
    * against the broadcast 1-row global max — a single extra stage, no
    * re-shuffle of the fact side, partition-prunable when `sliceCol` is a
    * physical partition column. */
  def latestSlice(df: DataFrame, sliceCol: Column): DataFrame = {
    val latest = broadcast(df.agg(max(sliceCol).as("__latest")))
    df.crossJoin(latest).filter(sliceCol === col("__latest")).drop("__latest")
  }

  /** Per-group max without collapsing the rows (ref W2: the isFinale
    * device) — unordered partition window = whole-partition frame. */
  def withGroupMax(df: DataFrame, partitionCols: Seq[Column], valueCol: Column,
                   outName: String): DataFrame =
    df.withColumn(outName, max(valueCol).over(Window.partitionBy(partitionCols: _*)))

  /** Ordered list-agg: collect (sortKey, payload) structs, sort, project
    * payloads to a delimited string (ref A2/A3/A4 — made deterministic;
    * the reference's bare collect_list order is undefined). */
  def orderedStringAgg(df: DataFrame, groupCols: Seq[Column], sortKeys: Seq[Column],
                       payload: Column, sep: String, outName: String): DataFrame = {
    val strukt = struct(sortKeys :+ payload.as("__p"): _*)
    df.groupBy(groupCols: _*)
      .agg(sort_array(collect_list(strukt)).as("__lst"))
      .withColumn(outName, concat_ws(sep, transform(col("__lst"), x => x.getField("__p"))))
      .drop("__lst")
  }

  /** The DQ metric columns (ref A5, glue DQ block): row count, nullish
    * count per `nullishCols`, min/max per `numericCols`, distinct count per
    * `distinctCols`. `approxDistinct` switches between exact countDistinct
    * (oracle-comparable) and HLL++ approx (the scalable default for
    * high-cardinality keys at 100 TB). With `approxDistinct` the columns
    * also work as `Dataset.observe` metrics, which reject DISTINCT. */
  def dqMetrics(nullishCols: Seq[String], numericCols: Seq[String],
                distinctCols: Seq[String], approxDistinct: Boolean = true): Seq[Column] = {
    import graft.functions.Clean
    Seq(count(lit(1)).as("row_count")) ++
      nullishCols.map(c => sum(when(Clean.isNullish(col(c)), 1L).otherwise(0L)).as(s"null_$c")) ++
      numericCols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))) ++
      distinctCols.map(c =>
        (if (approxDistinct) approx_count_distinct(col(c)) else countDistinct(col(c)))
          .as(s"distinct_$c"))
  }

  /** Single-pass multi-metric DQ snapshot: [[dqMetrics]] over `df` in one
    * scan, one hash-agg row, tagged with `dataset`. */
  def dqSnapshot(df: DataFrame, dataset: String,
                 nullishCols: Seq[String], numericCols: Seq[String],
                 distinctCols: Seq[String], approxDistinct: Boolean = true): DataFrame = {
    val exprs = dqMetrics(nullishCols, numericCols, distinctCols, approxDistinct)
    df.agg(exprs.head, exprs.tail: _*).withColumn("dataset", lit(dataset))
  }
}
