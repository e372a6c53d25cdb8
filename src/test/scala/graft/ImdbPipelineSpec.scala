package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.analytics.{ImdbMarts, ImdbSchemas, ImdbTransforms}
import graft.operators.Relational
import graft.pipeline.Runner
import graft.sources.TsvSource

/** End-to-end reference-parity test: FIXTURES.md-shaped raw TSVs through
  * the full pipeline (ingest gate → transforms → DQ → smoke/GE gates →
  * marts) with golden assertions on the fact semantics of SURVEY §2/§7.4.
  */
class ImdbPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val rawDir: String = {
    val dir = Files.createTempDirectory("imdb_raw").toFile
    def w(name: String, header: String, rows: String*): Unit = {
      val pw = new java.io.PrintWriter(new java.io.File(dir, s"$name.tsv"))
      pw.println(header.replace('|', '\t'))
      rows.foreach(r => pw.println(r.replace('|', '\t')))
      pw.close()
    }
    w("title_basics",
      "tconst|titleType|primaryTitle|originalTitle|isAdult|startYear|endYear|runtimeMinutes|genres",
      "m1|movie|Alpha|Alpha|0|1994|\\N|120|Drama,Crime,Thriller",
      "m2|movie|Beta|Beta|0|2001|\\N|\\N|Comedy",
      "m3|movie|NoYear|NoYear|0|\\N|\\N|90|Drama",       // excluded: \N startYear
      "m4|movie|NoGenre|NoGenre|0|1990|\\N|90|\\N",      // excluded: \N genres
      "s1|short|Tiny|Tiny|0|1990|\\N|5|Drama",           // excluded: not movie
      "sv1|tvSeries|LongShow|LongShow|0|2005|2010|30|Drama",
      "sv2|tvSeries|OpenShow|OpenShow|0|2015|\\N|30|Comedy",
      "e1|tvEpisode|Pilot Ep|Pilot Ep|0|2005|\\N|30|Drama",
      "e2|tvEpisode|Second Ep|Second Ep|0|2005|\\N|30|Drama",
      "e3|tvEpisode|S2 Opener|S2 Opener|0|2006|\\N|30|Drama",
      "e4|tvEpisode|Special|Special|0|2007|\\N|30|Drama",
      "e5|tvEpisode|Other Pilot|Other Pilot|0|2015|\\N|30|Comedy")
    w("title_ratings", "tconst|averageRating|numVotes",
      "m1|9.2|15000", "m2|7.0|500", "sv1|8.5|2000",
      "e1|7.5|100", "e2|8.0|120", "e3|6.0|90")
    w("title_crew", "tconst|directors|writers",
      "m1|d1,d2|wr1", "m2|d1|\\N")
    w("name_basics", "nconst|primaryName|birthYear|deathYear|primaryProfession|knownForTitles",
      "n1|Anna Actor|1970|\\N|actress|m1", "n2|Bob Builder|1965|\\N|actor|m1",
      "n3|Cara Costar|1980|\\N|actress|m1", "n4|Dan Deep|1975|\\N|actor|m1",
      "d1|Dora Director|1960|\\N|director|m1")
    w("title_principals", "tconst|ordering|nconst|category|job|characters",
      "m1|1|n1|actress|\\N|[\"X\"]", "m1|2|n2|actor|\\N|\\N",
      "m1|3|n3|actress|\\N|\\N", "m1|4|n4|actor|\\N|\\N",  // ord 4 → out of top-3
      "m1|5|d1|director|\\N|\\N",                          // non-cast → excluded
      "e1|1|n1|actress|\\N|\\N")
    w("title_akas", "titleId|ordering|title|region|language|types|attributes|isOriginalTitle",
      "m1|1|Alpha the Oscar favourite|US|en|\\N|\\N|0",
      "m2|1|Beta|US|en|\\N|\\N|1")
    w("title_episode", "tconst|parentTconst|seasonNumber|episodeNumber",
      "e1|sv1|1|1", "e2|sv1|1|2", "e3|sv1|2|1", "e4|sv1|\\N|\\N", "e5|sv2|1|1")
    dir.getAbsolutePath
  }

  private def raw(n: String, s: org.apache.spark.sql.types.StructType) =
    TsvSource(spark, s"$rawDir/$n.tsv", s)

  private lazy val basics = raw("title_basics", ImdbSchemas.titleBasics)
  private lazy val ratings = raw("title_ratings", ImdbSchemas.titleRatings)
  private lazy val crew = raw("title_crew", ImdbSchemas.titleCrew)
  private lazy val names = raw("name_basics", ImdbSchemas.nameBasics)
  private lazy val principals = raw("title_principals", ImdbSchemas.titlePrincipals)
  private lazy val akas = raw("title_akas", ImdbSchemas.titleAkas)
  private lazy val episode = raw("title_episode", ImdbSchemas.titleEpisode)

  private lazy val movies = ImdbTransforms.movieFacts(basics, ratings, crew,
    principals, names, akas, "20240101")
  private lazy val episodes = ImdbTransforms.episodeFacts(episode, basics,
    ratings, principals, names, "20240101")
  private lazy val seasons = ImdbTransforms.seasonSummary(episodes)

  test("movie facts: filter, explode grain, decade, oscar flag, top cast") {
    val rows = movies.collect()
    // m1×3 genres + m2×1 genre; m3/m4/s1 excluded
    assert(rows.length == 4)
    assert(rows.filter(_.getAs[String]("tconst") == "m1").map(_.getAs[String]("genre")).toSet ==
      Set("Drama", "Crime", "Thriller"))
    val m1 = rows.find(r => r.getAs[String]("tconst") == "m1").get
    assert(m1.getAs[Int]("decade") == 1990)
    assert(m1.getAs[Long]("oscarWinner") == 1L)
    assert(m1.getAs[String]("topActors") == "Anna Actor, Bob Builder, Cara Costar")
    assert(m1.getAs[String]("topActors_nconst") == "n1, n2, n3")
    val m2 = rows.find(r => r.getAs[String]("tconst") == "m2").get
    assert(m2.getAs[Long]("oscarWinner") == 0L)
    assert(m2.getAs[java.sql.Date]("run_date_dt").toString == "2024-01-01")
  }

  test("episode facts: pilot/finale/special + sentinel semantics") {
    val byId = episodes.collect().map(r => r.getAs[String]("tconst") -> r).toMap
    assert(byId("e1").getAs[Long]("isPilot") == 1L)
    assert(byId("e1").getAs[Long]("isFinale") == 0L)
    assert(byId("e2").getAs[Long]("isFinale") == 1L)   // max ep of S1
    assert(byId("e3").getAs[Long]("isFinale") == 1L)   // only ep of S2
    assert(byId("e4").getAs[Long]("isSpecial") == 1L)
    assert(byId("e4").getAs[Int]("seasonNumber") == -1)
    assert(byId("e4").getAs[Long]("isFinale") == 0L)   // null episodeNumber never finale
    assert(byId("e5").getAs[String]("seriesTitle") == "OpenShow")
    assert(byId("e1").getAs[String]("epTopActors") == "Anna Actor")
  }

  test("season summary rollup") {
    val s1 = seasons.filter($"seriesId" === "sv1" && $"seasonNumber" === 1).head()
    assert(s1.getAs[Long]("episodesInSeason") == 2L)
    assert(math.abs(s1.getAs[Double]("avgSeasonRating") - 7.75) < 1e-9)
    assert(s1.getAs[Int]("seasonStartYear") == 2005)
  }

  test("marts: buckets, latest view, top-k, ad-hoc queries, BI measures") {
    val anl = ImdbMarts.movieFactsAnl(movies)
    // full documented contract of movie_facts_anl.sql:4-41 (column names
    // are the BI-facing API — a consumer of the reference mart must be
    // able to read this one unchanged)
    assert(anl.columns.toSeq == Seq("MOVIE_KEY", "PRIMARYTITLE",
      "ORIGINALTITLE", "STARTYEAR", "DECADE", "RUNTIME_MIN", "GENRE",
      "GENRES", "AVG_RATING", "NUM_VOTES", "DIRECTORS", "WRITERS",
      "TOPACTORS", "TOPACTORS_NCONST", "OSCARWINNER", "RUN_DATE",
      "DECADE_LABEL", "VOTE_BUCKET", "RATING_BAND"))
    val m1 = anl.filter($"MOVIE_KEY" === "m1").head()
    assert(m1.getAs[String]("VOTE_BUCKET") == "10k–49k")
    assert(m1.getAs[String]("RATING_BAND") == "Excellent")
    assert(m1.getAs[String]("DECADE_LABEL") == "1990s")
    assert(m1.getAs[String]("ORIGINALTITLE") == "Alpha")
    assert(m1.getAs[Int]("RUNTIME_MIN") == 120)
    assert(m1.getAs[String]("DIRECTORS") == "d1,d2")
    assert(m1.getAs[String]("TOPACTORS") == "Anna Actor, Bob Builder, Cara Costar")
    assert(m1.getAs[java.sql.Date]("RUN_DATE").toString == "2024-01-01")
    // NULL vote/rating rows land in the 'unknown' buckets (anl.sql CASE)
    val m2a = anl.filter($"MOVIE_KEY" === "m2").head()
    assert(m2a.getAs[String]("VOTE_BUCKET") == "<1k")
    assert(m2a.getAs[String]("RATING_BAND") == "Great")

    val epAnl = ImdbMarts.episodeFactsAnl(episodes)
    assert(epAnl.columns.toSeq == Seq("EPISODE_KEY", "SERIES_KEY",
      "SERIESTITLE", "SERIESSTARTYEAR", "SERIES_DECADE", "SEASONNUMBER",
      "EPISODENUMBER", "EPISODETITLE", "EPISODEYEAR", "AVG_RATING",
      "NUM_VOTES", "ISPILOT", "ISFINALE", "ISSPECIAL", "RUN_DATE"))
    val e1a = epAnl.filter($"EPISODE_KEY" === "e1").head()
    assert(e1a.getAs[String]("SERIES_KEY") == "sv1")
    assert(e1a.getAs[String]("SERIESTITLE") == "LongShow")
    assert(e1a.getAs[Int]("SERIES_DECADE") == 2000)
    assert(e1a.getAs[Double]("AVG_RATING") == 7.5)
    assert(e1a.getAs[Long]("ISPILOT") == 1L)
    assert(e1a.getAs[java.sql.Date]("RUN_DATE").toString == "2024-01-01")
    val e4a = epAnl.filter($"EPISODE_KEY" === "e4").head()
    assert(e4a.getAs[Int]("SEASONNUMBER") == -1 && e4a.getAs[Long]("ISSPECIAL") == 1L)

    val view = ImdbMarts.movieFactsView(movies)
    assert(view.count() == 4) // single run, all rated

    val topk = ImdbMarts.topMoviesByGenre(view)
    assert(topk.filter($"tconst" === "m1").count() == 3) // one per genre
    assert(topk.filter($"tconst" === "m2").count() == 0) // below 1000 votes

    assert(ImdbMarts.topMoviesByRating(movies).head().getAs[String]("tconst") == "m1")
    // every genre appears once → alphabetical tiebreak puts Comedy first
    assert(ImdbMarts.topGenres(movies).head().getAs[String]("genre") == "Comedy")
    assert(ImdbMarts.topGenres(movies).count() == 4)
    assert(ImdbMarts.longestRunningShows(basics).head()
      .getAs[String]("tconst") == "sv1")
    val versatile = ImdbMarts.mostVersatileActors(principals, basics, names)
    assert(versatile.head().getAs[Long]("num_genres") == 3L) // n1 in m1's 3 genres... plus e1 Drama

    val pilots = ImdbMarts.pilotRating(episodes).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pilots("sv1") == 7.5)   // S1E1 pilot rated
    assert(pilots("sv2") == 0.0)   // e5 unrated → fallback 0
    val finale = ImdbMarts.finaleDelta(episodes, seasons)
      .filter($"seriesId" === "sv1" && $"seasonNumber" === 1).head()
    assert(math.abs(finale.getAs[Double]("finale_delta") - 0.25) < 1e-9)
    val best = ImdbMarts.bestSeason(seasons).filter($"seriesId" === "sv1").head()
    assert(best.getAs[Int]("best_season") == 1)

    val dim = ImdbMarts.dimSeries(episodes).collect()
      .map(r => r.getAs[String]("SERIES_KEY") -> r.getAs[String]("SERIES_LABEL")).toMap
    assert(dim == Map("sv1" -> "LongShow (2005)", "sv2" -> "OpenShow (2015)"))
  }

  test("pipeline runner end-to-end: gates, manifest, idempotent ingest") {
    val outDir = Files.createTempDirectory("imdb_out").toFile.getAbsolutePath
    val runner = new Runner(spark, rawDir, outDir)
    val report = runner.run(Some("20240101"), minRows = 4)
    assert(report.movieFactRows == 4)
    assert(report.ingestStatus.values.forall(_ == "fetch"))
    assert(new java.io.File(s"$outDir/_manifests/20240101/_SUCCESS").exists())
    assert(Files.readString(java.nio.file.Paths.get(
      s"$outDir/_manifests/20240101/_MANIFEST.json")).contains("\"movie_fact_rows\": 4"))
    // facts partitioned by run_date/decade/genre
    assert(new java.io.File(s"$outDir/analytics_movie_facts_v2/run_date=20240101")
      .exists())
    // DQ table has one row per dataset
    val dq = spark.read.parquet(s"$outDir/analytics_quality")
    assert(dq.select("dataset").distinct().count() == 3)
    // the DQ observed on the fact writes equals dqSnapshot over the facts
    Seq(
      Relational.dqSnapshot(movies, "movies",
        Seq("primaryTitle"), Seq("averageRating", "numVotes"), Seq("tconst")),
      Relational.dqSnapshot(episodes, "episodes",
        Seq("episodeTitle"), Seq("averageRating", "seasonNumber"), Seq("tconst", "seriesId")),
      Relational.dqSnapshot(seasons, "seasons",
        Seq("seriesTitle"), Seq("avgSeasonRating"), Seq("seriesId"))).foreach { snap =>
      val want = snap.head()
      val got = dq.filter(col("dataset") === want.getAs[String]("dataset") &&
          col("run_date") === "20240101")
        .select(snap.columns.map(col).toSeq: _*).collect()
      assert(got.toSeq == Seq(want))
    }

    // second run: unchanged sources detected, new slice appended
    val report2 = runner.run(Some("20240102"), minRows = 4)
    assert(report2.ingestStatus.values.forall(_ == "skip_unchanged"))
    val facts = spark.read.parquet(s"$outDir/analytics_movie_facts_v2")
    assert(facts.select("run_date").distinct().count() == 2)
    // marts hold only the latest slice per run_date partition (I4)
    val trends = spark.read.parquet(s"$outDir/marts_episode_season_trends")
    assert(trends.filter(col("run_date") === "20240102").count() > 0)
    // materialized latest pointer followed the new slice
    assert(graft.sources.ParquetSink
      .readLatestPointer(s"$outDir/analytics_movie_facts_v2").contains("20240102"))

    // third run in sampled-gate mode: GE layer on a deterministic sample
    val report3 = runner.run(Some("20240103"), minRows = 4,
      validationSampleRate = Some(0.5))
    assert(report3.movieFactRows == 4)
  }

  /** A copy of the fixture's raw directory with `edit` applied to one table. */
  private def rawDirWith(table: String)(edit: String => String): String = {
    val dir = Files.createTempDirectory("imdb_raw_edit")
    new java.io.File(rawDir).listFiles().foreach { f =>
      val text = Files.readString(f.toPath)
      Files.writeString(dir.resolve(f.getName),
        if (f.getName == s"$table.tsv") edit(text) else text)
    }
    dir.toString
  }

  private def exists(path: String) = new java.io.File(path).exists()

  test("pipeline runner: a failed GE gate throws after facts and DQ are published, before any mart") {
    // m2's runtime 0 fails runtimeMinutes >= 1 on 1 of 4 rows (mostly 0.98)
    val raw = rawDirWith("title_basics")(_.replace("2001\t\\N\t\\N", "2001\t\\N\t0"))
    val outDir = Files.createTempDirectory("imdb_out_ge").toString
    val e = intercept[IllegalArgumentException] {
      new Runner(spark, raw, outDir).run(Some("20240101"), minRows = 4)
    }
    assert(e.getMessage.contains("runtimeMinutes"))
    Seq("analytics_movie_facts_v2", "analytics_episode_facts_v2", "series_season_summary_v2",
      "analytics_quality/dataset=movies", "analytics_quality/dataset=episodes",
      "analytics_quality/dataset=seasons").foreach { t =>
      assert(exists(s"$outDir/$t/run_date=20240101"), t)
    }
    Seq("marts_top_movies_by_genre", "marts_episode_season_trends").foreach { t =>
      assert(!exists(s"$outDir/$t/run_date=20240101"), t)
    }
    assert(!exists(s"$outDir/_manifests/20240101/_SUCCESS"))
  }

  test("pipeline runner: a failed movie-facts write throws only after the episode branch wrote") {
    val outDir = Files.createTempDirectory("imdb_out_fail").toString
    // a regular file where the movie-facts table root belongs
    Files.writeString(java.nio.file.Paths.get(outDir, "analytics_movie_facts_v2"), "not a table")
    intercept[Exception] {
      new Runner(spark, rawDir, outDir).run(Some("20240101"), minRows = 4)
    }
    assert(exists(s"$outDir/analytics_episode_facts_v2/run_date=20240101"))
    assert(exists(s"$outDir/series_season_summary_v2/run_date=20240101"))
    assert(!exists(s"$outDir/analytics_quality"))
    assert(!exists(s"$outDir/marts_top_movies_by_genre"))
  }

  test("pipeline runner: rerunning a run_date reports the rows of the slice on disk") {
    val outDir = Files.createTempDirectory("imdb_out_rerun").toString
    val runner = new Runner(spark, rawDir, outDir)
    assert(runner.run(Some("20240101"), minRows = 4).movieFactRows == 4)
    // facts append, so the rerun's slice holds both copies
    assert(runner.run(Some("20240101"), minRows = 4).movieFactRows == 8)
    assert(spark.read.parquet(s"$outDir/analytics_movie_facts_v2/run_date=20240101")
      .count() == 8)
  }

  test("ingest control triple: decision matches the reference's HEAD compare") {
    import graft.pipeline.{IngestRegistry, RemoteMeta}
    val dir = Files.createTempDirectory("graft_ctl").toFile.getAbsolutePath
    val f = new java.io.File(rawDir, "title_basics.tsv")
    var meta = RemoteMeta(Some("e1"), Some("lm1"), Some(100L))
    val reg = new IngestRegistry(dir, _ => meta)
    assert(reg.decide("x", f) == "fetch")            // no control record yet
    reg.record("x", f)
    assert(reg.decide("x", f) == "skip_unchanged")
    // etag is RECORDED but NOT compared (imdb_raw_ingest.py:181)
    meta = RemoteMeta(Some("different-etag"), Some("lm1"), Some(100L))
    assert(reg.decide("x", f) == "skip_unchanged")
    // last_modified and content_length each trigger a fetch independently
    meta = RemoteMeta(Some("e1"), Some("lm2"), Some(100L))
    assert(reg.decide("x", f) == "fetch")
    meta = RemoteMeta(Some("e1"), Some("lm1"), Some(101L))
    assert(reg.decide("x", f) == "fetch")
    // absent headers (no Last-Modified) round-trip as null and still match
    meta = RemoteMeta(None, None, Some(100L))
    reg.record("x", f)
    assert(reg.decide("x", f) == "skip_unchanged")
    meta = RemoteMeta(None, Some("now-present"), Some(100L))
    assert(reg.decide("x", f) == "fetch")
    assert(reg.decide("x", new java.io.File(dir, "nope.tsv")) == "missing")
  }

  test("dbt not_null probes bind to the VIEW output, not pre-view facts") {
    import graft.pipeline.Runner
    // published facts legitimately carry rating-null rows; the declared
    // not_null(averageRating) contract is on marts_movie_facts_view,
    // which filters them — so this must PASS through the view...
    val published = Seq(
      ("tt1", Some(7.5), 100L, "20240101"),
      ("tt2", None, 50L, "20240101"))
      .toDF("tconst", "averageRating", "numVotes", "run_date")
    val trends = Seq(("s1", 1L)).toDF("seriesId", "seasonNumber")
    Runner.dbtNotNullProbes(
      graft.analytics.ImdbMarts.movieFactsView(published), trends)
    // ...and FAIL when the probed relation itself violates the contract
    val badView = Seq(("tt1", Option.empty[Double])).toDF("tconst", "averageRating")
    intercept[IllegalArgumentException] {
      Runner.dbtNotNullProbes(badView, trends)
    }
    val badTrends = Seq(("s1", Option.empty[Long])).toDF("seriesId", "seasonNumber")
    intercept[IllegalArgumentException] {
      Runner.dbtNotNullProbes(
        graft.analytics.ImdbMarts.movieFactsView(published), badTrends)
    }
  }

  test("ingest control JSON survives quoted/escaped header values") {
    import graft.pipeline.{IngestRegistry, RemoteMeta}
    val dir = Files.createTempDirectory("graft_ctl_esc").toFile.getAbsolutePath
    val f = new java.io.File(rawDir, "title_basics.tsv")
    // real HTTP ETags arrive quoted (RFC 9110: ETag: "xyzzy"), sometimes
    // weak (W/"x\"y") — the control record must round-trip them, not
    // write malformed JSON that mis-parses on the next decide()
    var meta = RemoteMeta(Some("\"abc-123\""), Some("Mon, \"quoted\" GMT"), Some(7L))
    val reg = new IngestRegistry(dir, _ => meta)
    reg.record("x", f)
    assert(reg.decide("x", f) == "skip_unchanged")
    // backslash + quote soup still compares correctly field-by-field
    meta = RemoteMeta(Some("W/\"a\\b\""), Some("""lm\"mix\\"""), Some(7L))
    assert(reg.decide("x", f) == "fetch") // last_modified changed
    reg.record("x", f)
    assert(reg.decide("x", f) == "skip_unchanged")
    meta = meta.copy(lastModified = Some("""lm\"mix"""))
    assert(reg.decide("x", f) == "fetch")
  }
}
