package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, Sessionize}

class RelationalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("topKPerGroup returns exactly k with deterministic ties") {
    val df = Seq(("a", 3), ("a", 2), ("a", 2), ("a", 1), ("b", 9)).toDF("g", "v")
    val got = Relational.topKPerGroup(df, Seq(col("g")),
      Seq(col("v").desc, col("v")), k = 2)
    assert(got.filter($"g" === "a").count() == 2)
    assert(got.filter($"g" === "b").count() == 1)
  }

  test("flagJoin marks membership 0/1 without row duplication") {
    val facts = Seq(1, 2, 3, 4).toDF("k")
    val marks = Seq(2, 2, 4, 4, 4).toDF("mk") // dup marks must not dup facts
    val got = Relational.flagJoin(facts, col("k"), marks, col("mk"), "hit")
      .orderBy("k").collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq == Seq((1, 0L), (2, 1L), (3, 0L), (4, 1L)))
  }

  test("latestSlice keeps only max-slice rows") {
    val df = Seq(("2024-01-01", 1), ("2024-01-02", 2), ("2024-01-02", 3)).toDF("d", "v")
    val got = Relational.latestSlice(df, col("d")).collect()
    assert(got.length == 2 && got.forall(_.getString(0) == "2024-01-02"))
  }

  test("latestSlice plans a broadcast of the 1-row max, no fact re-shuffle") {
    val df = graft.sources.Tables(spark, TestSpark.sf0001, "orders")
    val plan = Relational.latestSlice(df.withColumn("d", to_date(col("o_orderdate"))),
      col("d")).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(600))
    assert(!plan.contains("SortMergeJoin"), "fact side must not shuffle for the scalar max")
  }

  test("withGroupMax annotates without collapsing") {
    val df = Seq(("s1", 1), ("s1", 5), ("s2", 2)).toDF("g", "v")
    val got = Relational.withGroupMax(df, Seq(col("g")), col("v"), "mx")
    assert(got.count() == 3)
    assert(got.filter($"g" === "s1" && $"mx" === 5).count() == 2)
  }

  test("orderedStringAgg is deterministic under input order") {
    val df = Seq(("g", 2, "b"), ("g", 1, "a"), ("g", 3, "c")).toDF("g", "ord", "p")
    val got = Relational.orderedStringAgg(df, Seq(col("g")),
      Seq(col("ord")), col("p"), ",", "agg").head().getString(1)
    assert(got == "a,b,c")
  }

  test("dqSnapshot computes metrics in one row") {
    val df = Seq(("x", 1), ("\\N", 2), (null, 3), ("y", 4)).toDF("s", "n")
    val row = Relational.dqSnapshot(df, "t", Seq("s"), Seq("n"), Seq("s"),
      approxDistinct = false).head()
    assert(row.getAs[Long]("row_count") == 4L)
    assert(row.getAs[Long]("null_s") == 2L)
    assert(row.getAs[Int]("min_n") == 1 && row.getAs[Int]("max_n") == 4)
    assert(row.getAs[Long]("distinct_s") == 3L) // countDistinct ignores null

    // second input: the same frame written through observed dqMetrics
    // yields the aggregated row, approx_count_distinct included
    val metrics = Relational.dqMetrics(Seq("s"), Seq("n"), Seq("s", "n"))
    val obs = org.apache.spark.sql.Observation()
    val dir = java.nio.file.Files.createTempDirectory("dq_observed").resolve("t")
    df.observe(obs, metrics.head, metrics.tail: _*).write.parquet(dir.toString)
    val agg = Relational.dqSnapshot(df, "t", Seq("s"), Seq("n"), Seq("s", "n")).head()
    val aggregated = agg.getValuesMap[Any](agg.schema.fieldNames.filter(_ != "dataset"))
    assert(aggregated.keySet == Set("row_count", "null_s", "min_n", "max_n",
      "distinct_s", "distinct_n"))
    assert(obs.get == aggregated)
    assert(spark.read.parquet(dir.toString).count() == 4L)
  }

  test("sessionize splits at gap and aggregates") {
    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Long) = new java.sql.Timestamp(base.getTime + min * 60000)
    val df = Seq((1L, ts(0), 1.0), (1L, ts(10), 2.0), (1L, ts(200), 3.0),
                 (2L, ts(5), 4.0)).toDF("user_id", "ts", "value")
    val got = Sessionize.sessionSummary(df, "user_id", "ts", "value", gapSeconds = 3600)
      .orderBy("user_id", "session_id").collect()
    assert(got.length == 3)
    assert(got(0).getAs[Long]("n_events") == 2 && got(0).getAs[Long]("duration_sec") == 600)
    assert(got(1).getAs[Long]("n_events") == 1)
    assert(got(2).getAs[Long]("n_events") == 1)
  }
}
