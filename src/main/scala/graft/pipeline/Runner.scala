package graft.pipeline

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.analytics.{ImdbSchemas, ImdbTransforms, ImdbMarts}
import graft.operators.{Checkpoints, Relational}
import graft.quality.Expectations
import graft.quality.Expectations.dsl._
import graft.sources.{ParquetSink, TsvSource}

/** Single-process driver reproducing the reference DAG's semantics
  * (SURVEY §2.11/§3.1):
  * `ingest → transform(movies|episodes|seasons|dq) → validate → publish`.
  * Airflow/Glue/Athena process boundaries collapse into method calls; the
  * Spark driver/executor boundary (#5) remains.
  *
  * One run, in phase order (a phase starts once the previous one ends):
  *  - facts: the movie-facts write runs side by side with the
  *    episode-facts write followed by the season-summary write (the two
  *    lineages share no table), then the three `_LATEST` pointers move.
  *    Each write carries its DQ metrics as a `Dataset.observe`, so no
  *    lineage is evaluated twice.
  *  - DQ: the three observed snapshots become one `analytics_quality`
  *    append.
  *  - gates: the smoke count (X4) and the GE gate on the published movie
  *    slice, read back as `run_date=<runDate>` with `basePath` so no read
  *    lists the table's history; then the GE gate on the cached episode
  *    facts.
  *  - marts: the two mart writes run side by side.
  *  - dbt probes: the movie facts view over the published slice, and the
  *    new trends mart slice read back the same way.
  *
  * A branch that throws fails the run once its sibling has finished, so
  * no gate runs on half-written facts and no mart is published past a
  * failed gate.
  *
  *  - X2: runDate propagation (explicit arg, UTC-today fallback)
  *  - X4: smoke gate — new run_date slice must have ≥ minRows
  *  - GE layer: range-with-mostly expectations, hard-fail
  *  - S5/I1: IngestRegistry fingerprint skip; S6: manifest + _SUCCESS
  *  - I2/I4: facts append run-scoped partitions; marts dynamically
  *    overwrite their latest slice (the DELETE+INSERT analogue)
  */
final class Runner(spark: SparkSession, rawDir: String, outDir: String) {

  def resolveRunDate(arg: Option[String]): String =                       // X2
    arg.getOrElse(java.time.LocalDate.now(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE))

  private def raw(name: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    TsvSource(spark, s"$rawDir/$name.tsv", schema)

  /** @param validationSampleRate when set, the GE gates run on a
    *   deterministic content-hash sample at this rate instead of the full
    *   table (the reference's sampled-validation mode,
    *   ge_validate_athena.py:25 — LIMIT 5000 — made reproducible). The
    *   100 TB setting: gate cost becomes O(sample), not O(table). */
  def run(runDateArg: Option[String] = None, minRows: Long = 1,
          validationSampleRate: Option[Double] = None): RunReport =
    Checkpoints.scoped { ck =>
    val runDate = resolveRunDate(runDateArg)

    // ingest fingerprint gate (S4/S5/I1)
    val registry = new IngestRegistry(s"$outDir/_control")
    val sources = Seq("title_basics", "title_ratings", "title_crew",
      "name_basics", "title_principals", "title_akas", "title_episode")
    val statuses = sources.map { s =>
      s -> registry.decide(s, new java.io.File(s"$rawDir/$s.tsv"))
    }

    val basics = raw("title_basics", ImdbSchemas.titleBasics)
    val ratings = raw("title_ratings", ImdbSchemas.titleRatings)
    val crew = raw("title_crew", ImdbSchemas.titleCrew)
    val names = raw("name_basics", ImdbSchemas.nameBasics)
    val principals = raw("title_principals", ImdbSchemas.titlePrincipals)
    val akas = raw("title_akas", ImdbSchemas.titleAkas)
    val episode = raw("title_episode", ImdbSchemas.titleEpisode)

    // transform — episodes feed seasons, the GE gate and a mart: cache the
    // lineage once instead of the reference's triple recompute (SURVEY §4)
    val movies = ImdbTransforms.movieFacts(basics, ratings, crew, principals,
      names, akas, runDate)
    val episodes = ck.shared(ImdbTransforms.episodeFacts(episode, basics,
      ratings, principals, names, runDate))
    val seasons = ImdbTransforms.seasonSummary(episodes)

    // DQ snapshots (one-row aggs, S3/A5) observed on the fact writes —
    // movies measured post-explode, matching the reference's grain choice
    // (SURVEY §7.4.1)
    val movieDq = new Runner.ObservedDq(movies, "movies",
      Seq("primaryTitle"), Seq("averageRating", "numVotes"), Seq("tconst"))
    val episodeDq = new Runner.ObservedDq(episodes, "episodes",
      Seq("episodeTitle"), Seq("averageRating", "seasonNumber"), Seq("tconst", "seriesId"))
    val seasonDq = new Runner.ObservedDq(seasons, "seasons",
      Seq("seriesTitle"), Seq("avgSeasonRating"), Seq("seriesId"))

    Runner.concurrently(
      ParquetSink.append(movieDq.observed, s"$outDir/analytics_movie_facts_v2",
        Seq("run_date", "decade", "genre")),                              // S2
      {
        ParquetSink.append(episodeDq.observed, s"$outDir/analytics_episode_facts_v2",
          Seq("run_date", "series_decade", "seasonNumber"))
        ParquetSink.append(seasonDq.observed, s"$outDir/series_season_summary_v2",
          Seq("run_date", "series_decade"))
      })
    // materialized latest pointers (ref imdb_raw_ingest.py:199-200's
    // latest/ copy): helper-less readers address the newest slice directly
    Seq("analytics_movie_facts_v2", "analytics_episode_facts_v2",
      "series_season_summary_v2").foreach(t =>
      ParquetSink.writeLatestPointer(s"$outDir/$t", runDate))

    val dq = Seq(movieDq, episodeDq, seasonDq)
      .map(_.snapshot.withColumn("run_date", lit(runDate)))
      .reduce(_.unionByName(_, allowMissingColumns = true))               // O3
    ParquetSink.append(dq, s"$outDir/analytics_quality", Seq("dataset", "run_date"))

    // the run's own slice, read by path so no gate lists the history; a
    // table with no rows for the day has no slice directory
    def newSlice(table: String): DataFrame = {
      val root = s"$outDir/$table"
      val slice = s"$root/run_date=$runDate"
      if (new java.io.File(slice).isDirectory)
        spark.read.option("basePath", root).parquet(slice)
      else spark.read.parquet(root).filter(col("run_date") === runDate)
    }

    // smoke gate (X4): the new slice must be non-trivially populated
    val published = newSlice("analytics_movie_facts_v2")
    val smokeCount = published.count()
    require(smokeCount >= minRows, s"smoke gate: $smokeCount < $minRows rows")

    // GE-layer gates (§5.3 semantics, tolerances from the reference);
    // optionally on a deterministic hash sample (§5.3 sampled mode)
    def gate(df: DataFrame, keyCol: String,
             exps: Seq[Expectations.Expectation]): Unit =
      validationSampleRate match {
        case Some(rate) => Expectations.assertAllSampled(df, exps, col(keyCol), rate)
        case None => Expectations.assertAll(df, exps)
      }
    gate(published, "tconst", Seq(
      notNull("tconst"),
      between("averageRating", 0, 10, mostly = 0.995),
      between("numVotes", 0, Double.MaxValue, mostly = 1.0),
      between("runtimeMinutes", 1, Double.MaxValue, mostly = 0.98)))
    gate(episodes, "tconst", Seq(
      between("averageRating", 0, 10, mostly = 0.99)))

    // publish marts — idempotent slice reload (I4)
    val mfv = ImdbMarts.movieFactsView(published)
    Runner.concurrently(
      ParquetSink.overwriteSlices(ImdbMarts.topMoviesByGenre(mfv)
          .withColumn("run_date", lit(runDate)),
        s"$outDir/marts_top_movies_by_genre", Seq("run_date")),
      ParquetSink.overwriteSlices(ImdbMarts.episodeSeasonTrends(episodes)
          .withColumn("run_date", lit(runDate)),
        s"$outDir/marts_episode_season_trends", Seq("run_date")))

    Seq("marts_top_movies_by_genre", "marts_episode_season_trends").foreach(t =>
      ParquetSink.writeLatestPointer(s"$outDir/$t", runDate))

    // dbt-test layer (§5.4): probes bind to the DECLARED relations (ref
    // imdb_analytics/models/schema.yml:3-17 — marts_movie_facts_view
    // {tconst, averageRating} and marts_episode_season_trends
    // {seasonNumber}), not their upstream inputs; the trends probe checks
    // the latest-run mart, which is this run's slice
    Runner.dbtNotNullProbes(mfv, newSlice("marts_episode_season_trends"))

    val report = RunReport(runDate, smokeCount, statuses.toMap)
    Manifest.write(s"$outDir/_manifests/$runDate", report)                // S6
    sources.foreach(s => registry.record(s, new java.io.File(s"$rawDir/$s.tsv")))
    report
  }
}

object Runner {
  /** The dbt-test layer as a standalone gate so specs can aim it at
    * crafted inputs. The reference's schema.yml declares its not_null
    * contracts on the VIEW outputs — `marts_movie_facts_view.{tconst,
    * averageRating}` and `marts_episode_season_trends.seasonNumber` —
    * so the probes take the view DataFrames, not the pre-view published
    * facts (which legitimately carry rating-null rows the view filters). */
  def dbtNotNullProbes(movieFactsView: DataFrame, seasonTrends: DataFrame): Unit = {
    Expectations.assertAll(movieFactsView,
      Seq(notNull("tconst"), notNull("averageRating")))
    Expectations.assertAll(seasonTrends, Seq(notNull("seasonNumber")))
  }

  /** Runs `left` and `right` side by side, each on a fresh thread, and
    * returns once both have finished; a failure is rethrown only then
    * (the left one first, the right one attached as suppressed). Fresh
    * threads rather than a pool: a thread copies Spark's inheritable
    * local properties when it is created, so a pooled thread made inside
    * a SQL execution would carry a stale `spark.sql.execution.id`. */
  private[pipeline] def concurrently(left: => Unit, right: => Unit): Unit = {
    val branches = Seq(() => left, () => right)
    val failed = new Array[Throwable](branches.size)
    val threads = branches.zipWithIndex.map { case (branch, i) =>
      new Thread(() => try branch() catch { case e: Throwable => failed(i) = e },
        s"runner-branch-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    failed.filter(_ != null) match {
      case Array() => ()
      case errors =>
        errors.tail.foreach(errors.head.addSuppressed)
        throw errors.head
    }
  }

  /** A DQ snapshot observed on the one action run over [[observed]]
    * instead of aggregated in a second pass over `df`'s lineage. */
  private final class ObservedDq(df: DataFrame, dataset: String,
      nullishCols: Seq[String], numericCols: Seq[String], distinctCols: Seq[String]) {
    private val metrics = Relational.dqMetrics(nullishCols, numericCols, distinctCols)
    private val observation = Observation()

    /** `df` carrying the metrics; run exactly one action on it. */
    val observed: DataFrame = df.observe(observation, metrics.head, metrics.tail: _*)

    /** The row `Relational.dqSnapshot(df, dataset, …)` computes, built from
      * the observed values once the action on [[observed]] is done. Its
      * schema is `df.agg`'s, which analysis resolves without a job. */
    def snapshot: DataFrame = {
      val schema = df.agg(metrics.head, metrics.tail: _*).schema
      val values = observation.get
      df.sparkSession.createDataFrame(
        java.util.List.of(Row.fromSeq(schema.fieldNames.toSeq.map(values))), schema)
        .withColumn("dataset", lit(dataset))
    }
  }
}

final case class RunReport(runDate: String, movieFactRows: Long,
                           ingestStatus: Map[String, String])

/** The HTTP HEAD-compare triple the reference's control records carry
  * (ref imdb_raw_ingest.py:70-90: Last-Modified / Content-Length / ETag,
  * each possibly absent). */
final case class RemoteMeta(etag: Option[String], lastModified: Option[String],
                            contentLength: Option[Long])

/** Control records for change-detected ingest (ref
  * airflow/dags/imdb_raw_ingest.py:70-90,176-187): each source stores a
  * three-field control record (etag, last_modified, content_length).
  * Matching the reference exactly, the skip decision compares
  * last_modified + content_length ONLY — the etag is recorded but not
  * compared (imdb_raw_ingest.py:181). `metaOf` is injectable so tests
  * (and a real HTTP front-end) can vary each field independently; the
  * default is the local-file analogue (no etag, mtime, length).
  * `decide` → missing | fetch | skip_unchanged. */
final class IngestRegistry(controlDir: String,
    metaOf: java.io.File => RemoteMeta = IngestRegistry.localMeta) {
  Files.createDirectories(Paths.get(controlDir))
  private def ctl(name: String) = Paths.get(controlDir, s"$name.ctl.json")

  private def render(m: RemoteMeta): String = {
    // real HTTP ETags are quoted ('"abc-1"', ref imdb_raw_ingest.py
    // _normalize strips them) — escape, or an HTTP-backed metaOf writes
    // malformed JSON
    def esc(v: String) = v.replace("\\", "\\\\").replace("\"", "\\\"")
    def s(v: Option[String]) = v.map(x => "\"" + esc(x) + "\"").getOrElse("null")
    s"""{"etag": ${s(m.etag)}, "last_modified": ${s(m.lastModified)},""" +
      s""" "content_length": ${m.contentLength.map(_.toString).getOrElse("null")}}"""
  }

  /** Extract one field from our own control JSON (string values may carry
    * \"/\\ escapes — written by [[render]] above). */
  private def field(json: String, key: String): Option[String] =
    ("\"" + key + "\":\\s*(\"((?:[^\"\\\\]|\\\\.)*)\"|null|[0-9]+)").r.findFirstMatchIn(json)
      .flatMap(m => Option(m.group(2)).map(_.replace("\\\"", "\"").replace("\\\\", "\\"))
        .orElse(Option(m.group(1)).filter(_ != "null")))

  def decide(name: String, f: java.io.File): String =
    if (!f.exists()) "missing"
    else if (!Files.exists(ctl(name))) "fetch"
    else {
      val json = new String(Files.readAllBytes(ctl(name)))
      val meta = metaOf(f)
      val unchanged = field(json, "last_modified") == meta.lastModified &&
        field(json, "content_length") == meta.contentLength.map(_.toString)
      if (unchanged) "skip_unchanged" else "fetch"
    }

  def record(name: String, f: java.io.File): Unit =
    if (f.exists()) Files.write(ctl(name), render(metaOf(f)).getBytes,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
}

object IngestRegistry {
  /** Local-file analogue of the HEAD triple: no etag offline; mtime and
    * length stand in for Last-Modified / Content-Length. */
  val localMeta: java.io.File => RemoteMeta =
    f => RemoteMeta(None, Some(f.lastModified().toString), Some(f.length()))
}

/** Run manifest + _SUCCESS marker (ref imdb_raw_ingest.py:281-307). */
object Manifest {
  def write(dir: String, report: RunReport): Unit = {
    Files.createDirectories(Paths.get(dir))
    val statuses = report.ingestStatus.map { case (k, v) => s""""$k": "$v"""" }
      .mkString("{", ", ", "}")
    Files.write(Paths.get(dir, "_MANIFEST.json"),
      s"""{"run_date": "${report.runDate}", "movie_fact_rows": ${report.movieFactRows},
         | "sources": $statuses}""".stripMargin.getBytes)
    Files.write(Paths.get(dir, "_SUCCESS"), Array.emptyByteArray)
  }
}
